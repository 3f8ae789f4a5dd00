"""Per-layer metrics of a traced run, from its spans and the Spark jobs
the event log attributes to them.

Times and counts are per timed op (their sum over the run's timed ops
divided by the op count). A layer a workload never enters reports 0
work; layers whose time only exists on ``daily_elt`` are reported as a
share of op wall time (``_pct``), so that every per-op metric reported
in seconds is measured on every workload. (Of the set-up times,
``catalog.register_s`` reads 0 on ``daily_elt``, which never calls the
catalog.)"""

from __future__ import annotations

import statistics

from perfbench.measure import geomean
from perfbench.trace import covered_seconds, duration, jobs_by_span

MIB = float(1 << 20)

# (name, unit) of every per-layer metric, in report order.
PER_LAYER = (
    ("session.start_s", "s"),
    ("catalog.register_s", "s"),
    ("setup.inputs_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.build_tasks", "count"),
    ("queries.build_gap_s", "s"),
    ("queries.build_cpu_s", "s"),
    ("operators.exec_s", "s"),
    ("operators.exec_jobs", "count"),
    ("operators.exec_tasks", "count"),
    ("operators.exec_cpu_s", "s"),
    ("operators.input_mb", "MiB"),
    ("operators.input_rows", "count"),
    ("operators.shuffle_read_mb", "MiB"),
    ("operators.shuffle_write_mb", "MiB"),
    ("operators.spill_mb", "MiB"),
    ("pipelines.transform_pct", "%"),
    ("pipelines.transform_jobs", "count"),
    ("pipelines.load_pct", "%"),
    ("pipelines.load_jobs", "count"),
    ("pipelines.written_mb", "MiB"),
    ("sources.txn.merge_pct", "%"),
    ("sources.txn.merge_untouched_frac", "ratio"),
    ("sources.txn.files_added", "count"),
    ("sources.txn.compact_pct", "%"),
    ("sources.txn.compact_rewritten_mb", "MiB"),
    ("sources.txn.live_files", "count"),
    ("sources.txn.log_versions", "count"),
    ("sources.txn.read_pct", "%"),
    ("sources.mv.refresh_pct", "%"),
    ("sources.mv.refresh_jobs", "count"),
    ("sources.mv.dirty_groups", "count"),
    ("sources.mv.full_refreshes", "count"),
    ("elt.read_pct", "%"),
    ("elt.write_amp", "ratio"),
    ("elt.space_amp", "ratio"),
    ("trace.op_geomean_s", "s"),
)


def per_layer(spans: list[dict], jobs: dict[int, dict], op_ids: set[int],
              elt_days: list[dict], table_state: dict) -> dict[str, float]:
    """The PER_LAYER metrics. ``op_ids`` are the timed ops; spans of
    set-up, warm-up and checks are excluded except for the two set-up
    metrics."""
    by_span = jobs_by_span(jobs)
    ops = [s for s in spans if s["name"] == "op" and s["op"] in op_ids]
    n = len(ops)
    op_time = sum(duration(s) for s in ops)
    inner: dict[str, list[dict]] = {}
    for s in spans:
        if s["op"] in op_ids and s["name"] != "op":
            inner.setdefault(s["name"], []).append(s)

    def spans_of(name):
        return inner.get(name, [])

    def per_op(values):
        return sum(values) / n

    def pct(name):
        return 100.0 * sum(duration(s) for s in spans_of(name)) / op_time

    def jobs_of(name):
        return [j for s in spans_of(name) for j in by_span.get(s["id"], [])]

    def setup_time(name):
        return sum((duration(s) for s in spans if s["name"] == name and s["op"] is None), 0.0)

    build, execute = spans_of("queries.build"), spans_of("operators.exec")
    build_jobs, exec_jobs = jobs_of("queries.build"), jobs_of("operators.exec")
    untouched = sum(d.get("merge_untouched", 0) for d in elt_days)
    rewritten = sum(d.get("merge_rewritten", 0) for d in elt_days)
    incremental = [d for d in elt_days if d.get("mv_mode") == "incremental"]
    raw_timed = table_state.get("raw_bytes_timed", 0)
    raw_all = table_state.get("raw_bytes_all", 0)
    m = {
        "session.start_s": setup_time("session.start"),
        "catalog.register_s": setup_time("catalog.register"),
        "setup.inputs_s": setup_time("setup.inputs"),
        "queries.build_s": per_op(duration(s) for s in build),
        "queries.build_jobs": len(build_jobs) / n,
        "queries.build_tasks": per_op(j["tasks"] for j in build_jobs),
        "queries.build_gap_s": per_op(
            duration(s) - covered_seconds(s, by_span.get(s["id"], [])) for s in build),
        "queries.build_cpu_s": per_op(s["cpu_s"] for s in build),
        "operators.exec_s": per_op(duration(s) for s in execute),
        "operators.exec_jobs": len(exec_jobs) / n,
        "operators.exec_tasks": per_op(j["tasks"] for j in exec_jobs),
        "operators.exec_cpu_s": per_op(s["cpu_s"] for s in execute),
        "operators.input_mb": per_op(j["input_b"] for j in exec_jobs) / MIB,
        "operators.input_rows": per_op(j["input_rows"] for j in exec_jobs),
        "operators.shuffle_read_mb": per_op(j["shuffle_read_b"] for j in exec_jobs) / MIB,
        "operators.shuffle_write_mb": per_op(j["shuffle_write_b"] for j in exec_jobs) / MIB,
        "operators.spill_mb": per_op(j["spill_b"] for j in exec_jobs) / MIB,
        "pipelines.transform_pct": pct("pipelines.transform"),
        "pipelines.transform_jobs": len(jobs_of("pipelines.transform")) / n,
        "pipelines.load_pct": pct("pipelines.load"),
        "pipelines.load_jobs": len(jobs_of("pipelines.load")) / n,
        "pipelines.written_mb": per_op(d.get("pipeline_written_b", 0) for d in elt_days) / MIB,
        "sources.txn.merge_pct": pct("sources.txn.merge"),
        "sources.txn.merge_untouched_frac": (
            untouched / (untouched + rewritten) if untouched + rewritten else 0.0),
        "sources.txn.files_added": table_state.get("files_added", 0) / n,
        "sources.txn.compact_pct": pct("sources.txn.compact"),
        "sources.txn.compact_rewritten_mb": per_op(
            d.get("compact_rewritten_b", 0) for d in elt_days) / MIB,
        "sources.txn.live_files": table_state.get("live_files", 0),
        "sources.txn.log_versions": table_state.get("log_versions", 0),
        "sources.txn.read_pct": pct("sources.txn.read"),
        "sources.mv.refresh_pct": pct("sources.mv.refresh"),
        "sources.mv.refresh_jobs": len(jobs_of("sources.mv.refresh")) / n,
        "sources.mv.dirty_groups": (
            sum(d["dirty_groups"] for d in incremental) / len(incremental)
            if incremental else 0.0),
        "sources.mv.full_refreshes": sum(1 for d in elt_days if d.get("mv_mode") == "full"),
        "elt.read_pct": pct("elt.reads"),
        "elt.write_amp": (
            sum(d.get("written_b", 0) for d in elt_days) / raw_timed if raw_timed else 0.0),
        "elt.space_amp": table_state.get("lake_bytes", 0) / raw_all if raw_all else 0.0,
        "trace.op_geomean_s": geomean([duration(s) for s in ops]),
    }
    return m


def per_label(spans: list[dict], jobs: dict[int, dict], op_ids: set[int]) -> dict[str, dict]:
    """Median build/exec seconds and job counts per op label (query
    name): the structural build-vs-execute split of each query."""
    by_span = jobs_by_span(jobs)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    rows: dict[str, dict[str, list[float]]] = {}
    for op in spans:
        if op["name"] != "op" or op["op"] not in op_ids:
            continue
        r = rows.setdefault(str(op.get("label")), {
            "op_s": [], "build_s": [], "exec_s": [], "build_jobs": [], "exec_jobs": []})
        r["op_s"].append(duration(op))
        for kind, key in (("queries.build", "build"), ("operators.exec", "exec")):
            kids = [c for c in children.get(op["id"], []) if c["name"] == kind]
            r[f"{key}_s"].append(sum(duration(c) for c in kids))
            r[f"{key}_jobs"].append(sum(len(by_span.get(c["id"], [])) for c in kids))
    return {label: {k: statistics.median(v) for k, v in r.items()} for label, r in rows.items()}
