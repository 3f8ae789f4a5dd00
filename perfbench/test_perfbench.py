"""The benchmark's own tests: metric math, seed determinism, event-log
attribution, and a few-op smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import fixture, layers, measure, workloads  # noqa: E402
from perfbench.trace import covered_seconds, parse_event_log  # noqa: E402


# ------------------------------------------------------------ metric math

@pytest.mark.parametrize("n", list(range(11, 260)))
def test_tail_percentile_leaves_ten_beyond_and_is_highest(n):
    samples = [float(i) for i in range(n)]
    p, value = measure.tail_percentile(samples)
    beyond = sum(1 for x in samples if x > value)
    assert beyond >= 10
    # one percentile higher would leave fewer than ten beyond it
    if p < 99:
        rank = -(-(p + 1) * n // 100)
        assert n - rank < 10


def test_tail_percentile_needs_eleven_samples():
    assert measure.tail_percentile([1.0] * 10) is None
    assert measure.tail_percentile([float(i) for i in range(100)]) == (90, 89.0)


def test_geomean():
    assert measure.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert measure.geomean([3.0] * 5) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_ops_per_min():
    assert measure.ops_per_min(30, 45.0) == pytest.approx(40.0)
    with pytest.raises(ValueError):
        measure.ops_per_min(1, 0.0)


def _one_op_spans():
    return [
        {"id": 0, "name": "session.start", "parent": None, "op": None, "start": 0.0, "end": 5.0},
        {"id": 1, "name": "setup.inputs", "parent": None, "op": None, "start": 5.0, "end": 6.0},
        {"id": 2, "name": "op", "parent": None, "op": 0, "label": "q", "start": 9.0, "end": 13.0},
        {"id": 3, "name": "queries.build", "parent": 2, "op": 0, "start": 9.0, "end": 12.0, "cpu_s": 1.5},
        {"id": 4, "name": "operators.exec", "parent": 2, "op": 0, "start": 12.0, "end": 13.0, "cpu_s": 0.5},
        {"id": 5, "name": "catalog.register", "parent": None, "op": None, "start": 6.0, "end": 6.5},
    ]


def test_write_and_space_amplification_on_a_file_tree(tmp_path):
    lake = tmp_path / "lake"
    (lake / "a").mkdir(parents=True)
    (lake / "a" / "keep.parquet").write_bytes(b"x" * 100)
    (lake / "a" / "grow.json").write_bytes(b"y" * 10)
    before = measure.tree_files(str(lake))
    (lake / "a" / "grow.json").write_bytes(b"y" * 30)   # rewritten: counts 30
    (lake / "b").mkdir()
    (lake / "b" / "new.parquet").write_bytes(b"z" * 70)  # new: counts 70
    after = measure.tree_files(str(lake))
    written = measure.bytes_written(before, after)
    assert written == 100
    state = {"raw_bytes_timed": 50, "raw_bytes_all": 400,
             "lake_bytes": sum(after.values())}
    m = layers.per_layer(_one_op_spans(), {}, {0}, [{"written_b": written}], state)
    assert m["elt.write_amp"] == pytest.approx(100 / 50)
    assert m["elt.space_amp"] == pytest.approx(200 / 400)
    # a workload that ingests nothing reports no amplification
    m = layers.per_layer(_one_op_spans(), {}, {0}, [], {})
    assert m["elt.write_amp"] == 0.0 and m["elt.space_amp"] == 0.0


def test_gc_log_peak_reads_heap_after_collections_in_the_window(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.500s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 900M->800M(1024M) 3.1ms\n"
        "[2.000s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 300M->120M(1024M) 2.0ms\n"
        "[2.500s][info][gc] GC(2) Pause Remark 400M->390M(1024M) 1.0ms\n"
        "[3.000s][info][gc] GC(3) Pause Full (System.gc()) 200M->90M(1024M) 40.0ms\n"
        "[3.100s][info][gc] GC(4) Pause Young (Mixed) (G1 Evacuation Pause) 2048K->1536K(1024M) 1.0ms\n"
        "[9.000s][info][gc] GC(5) Pause Young (Normal) (G1 Evacuation Pause) 700M->600M(1024M) 3.0ms\n"
    )
    # GC(0) and GC(5) fall outside the window; Remark is not a collection
    assert measure.gc_log_peak_mib(str(log), 1.9, 8.0) == 120.0
    assert measure.gc_log_peak_mib(str(log), 3.05, 8.0) == 1.5
    assert measure.gc_log_peak_mib(str(log), 4.0, 8.0) == 0.0


def test_mv_dirty_groups_average_incremental_refreshes_only():
    days = [{"mv_mode": "incremental", "dirty_groups": 4},
            {"mv_mode": "full", "dirty_groups": 0},
            {"mv_mode": "incremental", "dirty_groups": 2}]
    m = layers.per_layer(_one_op_spans(), {}, {0}, days, {})
    assert m["sources.mv.dirty_groups"] == 3.0
    assert m["sources.mv.full_refreshes"] == 1


def test_process_tree_cpu_counts_a_busy_child():
    before = measure.process_tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    assert measure.process_tree_cpu_s(os.getpid()) - before > 0.1


# ------------------------------------------------------------ determinism

def test_op_order_is_seeded():
    names = workloads.SCAN_QUERIES
    a = [workloads.op_order(7, names, r) for r in range(3)]
    assert a == [workloads.op_order(7, names, r) for r in range(3)]
    assert all(sorted(x) == sorted(names) for x in a)
    assert a != [workloads.op_order(8, names, r) for r in range(3)]


def _stream_bytes(seed, tmp_path, days=4):
    s = fixture.EltStream(seed, n_entities=200, changed_per_day=20, new_per_day=3)
    out = []
    for d in range(days):
        p = tmp_path / f"s{seed}-{d}.json"
        fixture.write_jsonl(s.day(d), str(p))
        out.append(p.read_bytes())
    return out


def test_change_stream_is_byte_identical_per_seed(tmp_path):
    a = _stream_bytes(1, tmp_path / "a")
    assert a == _stream_bytes(1, tmp_path / "b")
    b = _stream_bytes(2, tmp_path / "c")
    assert all(x != y for x, y in zip(a, b))


def test_change_stream_counters_only_grow(tmp_path):
    s = fixture.EltStream(3, n_entities=100, changed_per_day=10, new_per_day=2)
    seen = {}
    for d in range(5):
        docs = s.day(d)
        assert len(docs) == (100 if d == 0 else 12)
        for doc in docs:
            prev = seen.get(doc["_id"])
            if prev is not None:
                assert doc["stats"]["impressions"] > prev
            seen[doc["_id"]] = doc["stats"]["impressions"]
    with pytest.raises(ValueError):
        s.day(9)


def test_query_inputs_are_byte_identical_across_runs(tmp_path):
    for d in ("a", "b"):
        subprocess.run([sys.executable, workloads.GEN_SF, "--sf", "0.001",
                        "--out", str(tmp_path / d)], check=True, capture_output=True)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10 and names == sorted(os.listdir(tmp_path / "b"))
    for name in names:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


# ------------------------------------------------------------ trace

def _event_log(tmp_path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Input Metrics": {"Bytes Read": 64, "Records Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 30, "Local Bytes Read": 70}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_000},
    ]
    p = tmp_path / "log"
    p.write_text("".join(json.dumps(e) + "\n" for e in ev))
    return str(p)


def test_event_log_jobs_are_attributed_to_groups(tmp_path):
    jobs = parse_event_log(_event_log(tmp_path))
    j = jobs[0]
    assert j["group"] == "span-3" and j["tasks"] == 2
    assert j["cpu_s"] == pytest.approx(3.0)
    assert (j["input_b"], j["input_rows"]) == (64, 5)
    assert (j["shuffle_write_b"], j["shuffle_read_b"], j["spill_b"]) == (100, 100, 3)
    assert (j["start"], j["end"]) == (10.0, 11.0)
    assert jobs[1]["group"] is None


def test_covered_seconds_merges_overlaps_and_clips():
    span = {"start": 0.0, "end": 10.0}
    jobs = [{"start": -1.0, "end": 2.0}, {"start": 1.0, "end": 3.0},
            {"start": 5.0, "end": 6.0}, {"start": 9.0, "end": None}]
    assert covered_seconds(span, jobs) == pytest.approx(3.0 + 1.0 + 1.0)


def test_per_layer_splits_build_and_exec(tmp_path):
    jobs = parse_event_log(_event_log(tmp_path))
    spans = _one_op_spans()
    m = layers.per_layer(spans, jobs, {0}, [], {})
    assert set(m) == {name for name, _unit in layers.PER_LAYER}
    assert m["session.start_s"] == 5.0 and m["setup.inputs_s"] == 1.0
    assert m["catalog.register_s"] == 0.5
    assert m["queries.build_s"] == 3.0 and m["operators.exec_s"] == 1.0
    assert m["queries.build_jobs"] == 1 and m["queries.build_tasks"] == 2
    assert m["queries.build_gap_s"] == pytest.approx(2.0)  # job 0 covers 10..11
    assert m["trace.op_geomean_s"] == 4.0
    split = layers.per_label(spans, jobs, {0})
    assert split["q"]["build_s"] == 3.0 and split["q"]["build_jobs"] == 1


# ------------------------------------------------------------ smoke

@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run_passes_its_correctness_check(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", "1", "--smoke"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 3
    assert set(result["metrics"]) == {name for name, _unit in layers.PER_LAYER}
