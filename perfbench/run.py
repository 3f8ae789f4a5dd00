"""Benchmark entry point.

    python3 perfbench/run.py --workload <scan_queries|iterative_queries|daily_elt>
        --seed <n> --seconds <s> --trace <0|1>

Runs one measurement in a fresh worker process (worker.py) with the
CPU count and driver heap pinned, and a private run directory that
holds the run's lake, TMPDIR, SPARK_LOCAL_DIRS and Spark event log and
is removed afterwards. Prints the result as one JSON line, the last
line of standard output; all logs go to standard error. Exits non-zero
without a result when the engine is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.measure import stat_fields  # noqa: E402

WORK = os.path.join(HERE, "_work")
DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    """Does any non-zombie process remain in process group ``pgid``?"""
    for name in os.listdir("/proc"):
        fields = stat_fields(int(name)) if name.isdigit() else None
        # state(0) ppid(1) pgrp(2)
        if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group and wait until none is left."""
    for sig, wait_s in ((None, 30.0), (signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "aws_datalake_spark")):
        print("perfbench: the aws_datalake_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONHASHSEED="0",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir, "--out", out,
        "--trace-out", os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"),
    ] + (["--smoke"] if a.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopping it", file=sys.stderr)
        rc = -1
    except BaseException:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    _stop_group(proc.pid)
    proc.wait()
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker exited with status {rc} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
