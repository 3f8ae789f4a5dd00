"""Spans around the benchmark's calls into each layer, and the Spark
event log parsed offline into per-span job metrics.

Every span is recorded (name, start, end, parent, op id) in memory and
written out once at the end of a run. The op's own wall time comes
from its span, so the timed and the traced runs measure ops the same
way. Only a traced run also tags each span's Spark jobs with a job
group (``sc.setJobGroup``), samples the process tree's CPU at span
boundaries, and has Spark write an event log; ``parse_event_log``
then attributes every job, and the tasks of its stages, to the span
whose group submitted it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from perfbench.measure import process_tree_cpu_s


class Tracer:
    def __init__(self, spark, traced: bool):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if traced else None
        self._pid = os.getpid()

    @property
    def traced(self) -> bool:
        return self._sc is not None

    def _set_group(self, span_id: int | None) -> None:
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{span_id}", self.spans[span_id]["name"])

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": 0.0, "end": 0.0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._sc is not None:
            self._set_group(rec["id"])
            rec["cpu0"] = process_tree_cpu_s(self._pid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                rec["cpu_s"] = process_tree_cpu_s(self._pid) - rec.pop("cpu0")
                self._set_group(parent)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def parse_event_log(path: str) -> dict[int, dict]:
    """{job id: job record} from one uncompressed Spark event log.

    A job record holds its group (the submitting span's job group),
    submission and completion times (epoch seconds), and the sums over
    its stages' finished tasks: task count, executor CPU seconds, input
    bytes and records, shuffle read/write bytes and spilled bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None, "tasks": 0, "cpu_s": 0.0, "input_b": 0, "input_rows": 0,
                    "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                inp = m.get("Input Metrics") or {}
                job["input_b"] += inp.get("Bytes Read", 0)
                job["input_rows"] += inp.get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def jobs_by_span(jobs: dict[int, dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for job in jobs.values():
        g = job["group"]
        if g and g.startswith("span-"):
            out.setdefault(int(g[5:]), []).append(job)
    return out


def covered_seconds(span: dict, jobs: list[dict]) -> float:
    """Seconds of ``span`` during which at least one of ``jobs`` ran."""
    ivs = sorted(
        (max(j["start"], span["start"]), min(j["end"] or span["end"], span["end"]))
        for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
