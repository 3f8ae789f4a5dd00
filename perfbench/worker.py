"""One benchmark run in a fresh process (started by run.py).

Sets up and warms up the workload, times whole rounds of ops until
``--seconds`` have passed, then checks the outputs and writes the
result JSON to ``--out``. Exit status is non-zero when the run could not produce a
result at all; failed ops and failed checks are counted in the result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import measure, workloads  # noqa: E402
from perfbench.trace import Tracer, duration, parse_event_log  # noqa: E402


class Ctx:
    def __init__(self, spark, tracer, run_dir, seed):
        self.spark, self.tracer = spark, tracer
        self.run_dir, self.seed = run_dir, seed


def jvm_uptime_s(spark) -> float:
    """Seconds since the JVM started, the clock of its GC log."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getRuntimeMXBean().getUptime() / 1000.0


def metaspace_mib(spark) -> float:
    """Class metadata the JVM holds, read through its memory pool MXBean."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return next(p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                if p.getName() == "Metaspace") / float(1 << 20)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    t_process = measure.process_start_epoch()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    traced = bool(a.trace)

    from aws_datalake_spark.session import get_spark

    gc_log = os.path.join(a.run_dir, "gc.log")
    # a fixed heap and young generation: G1 then neither grows the heap
    # nor resizes eden, so collections fall after the same amount of
    # allocation in every run and the after-collection heap sizes in
    # the GC log (mem_peak_mb) repeat. A 64 MiB young generation
    # sampled more often but promoted more short-lived data into the
    # old generation, and its figure spread ~17 %.
    conf = {
        "spark.sql.warehouse.dir": os.path.join(a.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn256m "
            f"-Xlog:gc:file={gc_log} -Djava.io.tmpdir={os.environ['TMPDIR']}"),
    }
    if traced:
        events = os.path.join(a.run_dir, "eventlog")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    jvm = spark._jvm.java.lang
    tracer = Tracer(spark, traced)
    tracer.spans.append({"id": 0, "name": "session.start", "parent": None, "op": None,
                         "start": t0, "end": time.time()})
    ctx = Ctx(spark, tracer, a.run_dir, a.seed)
    wl = workloads.make(a.workload, smoke=a.smoke)
    pid = os.getpid()

    wl.setup(ctx)
    wl.warmup(ctx)
    jvm.System.gc()

    t_first = time.time()
    setup_s = t_first - t_process
    gc_from = jvm_uptime_s(spark)
    op_times: list[float] = []
    op_log: list[tuple[str, float]] = []
    op_ids: set[int] = set()
    failed_ops = 0
    cpu_s = 0.0
    round_no = 0
    while True:
        for op in wl.round(ctx, round_no):
            op_id = len(op_ids)
            c0 = measure.process_tree_cpu_s(pid)
            try:
                with tracer.span("op", op=op_id, label=op) as s:
                    wl.run_op(ctx, op)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                failed_ops += 1
                log(f"op {op_id} ({op}) FAILED:\n{traceback.format_exc()}")
            cpu_s += measure.process_tree_cpu_s(pid) - c0
            op_ids.add(op_id)
            op_times.append(duration(s))
            op_log.append((str(op), round(duration(s), 3)))
            # untimed: every op starts on a collected heap, so the heap
            # after a collection during an op holds that op's data, not
            # garbage left by earlier ops
            jvm.System.gc()
        round_no += 1
        if time.time() - t_first >= a.seconds:
            break
    t_timed_end = time.time()
    heap_mib = measure.gc_log_peak_mib(gc_log, gc_from, jvm_uptime_s(spark))
    mem = {"heap": heap_mib, "metaspace": metaspace_mib(spark),
           "python_hwm": measure.peak_rss_mib()}

    t_check = time.time()
    try:
        checks = wl.final_check(ctx)
    except Exception:  # noqa: BLE001 - an exception in the check is a failed check
        checks = [("final check", False, traceback.format_exc())]
    check_s = time.time() - t_check
    for name, ok, why in checks:
        if not ok:
            log(f"check FAILED {name}: {why}")
    failed = failed_ops + sum(1 for _n, ok, _w in checks if not ok)
    attempted = len(op_ids) + len(checks)

    n = len(op_times)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not traced:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_geomean_s": {"value": measure.geomean(op_times), "unit": "s"},
            "ops_per_min": {"value": measure.ops_per_min(n, sum(op_times)), "unit": "1/min"},
            "cpu_s_per_op": {"value": cpu_s / n, "unit": "s"},
            "mem_peak_mb": {"value": sum(mem.values()), "unit": "MiB"},
        }
        state = {}
    else:
        state = wl.layer_state(ctx, t_first, t_timed_end)
    spark.stop()
    info = {"ops": n, "rounds": round_no, "check_s": check_s,
            "op_p50_s": statistics.median(op_times),
            "mem_mib": {k: round(v, 1) for k, v in mem.items()},
            "timed_s": t_timed_end - t_first, "ops_in_order": op_log}
    tail = measure.tail_percentile(op_times)
    info["tail"] = None if tail is None else {"percentile": tail[0], "value_s": tail[1], "samples": n}
    log(f"{a.workload} seed={a.seed}: " + json.dumps(info))

    if traced:
        from perfbench import layers

        logs = os.listdir(events)
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        jobs = parse_event_log(os.path.join(events, logs[0]))
        elt_days = getattr(wl, "stats", [])
        m = layers.per_layer(tracer.spans, jobs, op_ids, elt_days, state)
        result["metrics"] = {name: {"value": m[name], "unit": unit}
                             for name, unit in layers.PER_LAYER}
        split = layers.per_label(tracer.spans, jobs, op_ids)
        for label, row in sorted(split.items()):
            log(f"split {label}: " + json.dumps({k: round(v, 4) for k, v in row.items()}))
        tracer.dump(a.trace_out)
        with open(a.trace_out + ".summary.json", "w") as f:
            json.dump({"info": info, "per_label": split, "metrics": m,
                       "checks": checks}, f, indent=1)

    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
