"""Metric arithmetic and process measurements, free of Spark.

Kept apart from the workloads so the benchmark's own tests can check
the math on synthetic inputs."""

from __future__ import annotations

import math
import os
import re


def geomean(values: list[float]) -> float:
    """Geometric mean: each op weighs the same whatever its size, so one
    slow query moves it as much as one fast query."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` with at least ``beyond``
    samples strictly above its rank, and its value (nearest-rank).

    Returns None when fewer than ``beyond + 1`` samples exist: no
    percentile then has ``beyond`` samples beyond it."""
    n = len(samples)
    if n < beyond + 1:
        return None
    xs = sorted(samples)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))  # nearest-rank percentile
        if n - rank >= beyond:
            return p, xs[rank - 1]
    return None


def ops_per_min(n_ops: int, op_seconds: float) -> float:
    """Timed ops per minute of timed op wall time."""
    if op_seconds <= 0:
        raise ValueError("no timed op time")
    return 60.0 * n_ops / op_seconds


def tree_files(root: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``root``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes written between two ``tree_files`` listings: every file
    that is new or whose size changed counts in full (files under a
    lake root are written once, so a changed size is a rewrite)."""
    return sum(size for path, size in after.items() if before.get(path) != size)


# ------------------------------------------------------------ /proc reads

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (None if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return data[data.rindex(")") + 2:].split()


# HotSpot's JIT compiler threads ("C1 CompilerThread0" etc., cut to 15
# characters by the kernel)
_JIT_THREAD = "CompilerThre"


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        if _JIT_THREAD in data[data.index("(") + 1:data.rindex(")")]:
            fields = data[data.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total


def process_tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and all its live
    descendants, plus the CPU of descendants they already reaped.

    The JVM's JIT compiler threads are left out: in a process that
    lives about a minute they burn most of the JVM's CPU,
    in amounts that vary with timing, and they are not the program's
    per-op work. (The JVM runs with a fixed set of compiler threads, so
    none exits and takes its CPU out of the per-thread sum.)"""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = stat_fields(int(name))
        if f is None:
            continue
        pid = int(name)
        # after the command: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0) - _jit_ticks(pid)
        stack.extend(children.get(pid, []))
    return total / _CLK_TCK


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    f = stat_fields(os.getpid())
    if f is None:
        raise OSError("no /proc entry for this process")
    with open("/proc/stat") as s:
        btime = next(int(line.split()[1]) for line in s if line.startswith("btime"))
    return btime + int(f[19]) / _CLK_TCK


def peak_rss_mib() -> float:
    """Peak resident set size (``VmHWM``) of this process in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError("VmHWM missing")


# "[12.345s][info][gc] GC(7) Pause Young (Normal) (G1 Evacuation Pause) 96M->41M(512M) 3.2ms"
_GC_PAUSE = re.compile(
    r"^\[(?P<t>[0-9.]+)s\].*\bPause (?:Young|Full)\b.*->(?P<after>[0-9]+)(?P<unit>[KMG])\(")
_UNIT_MIB = {"K": 1.0 / 1024, "M": 1.0, "G": 1024.0}


def gc_log_peak_mib(path: str, t0: float, t1: float) -> float:
    """The largest heap occupancy right after a collection, in MiB,
    over the collections a HotSpot ``-Xlog:gc`` log records between JVM
    uptimes ``t0`` and ``t1`` (seconds). 0 when none happened."""
    peak = 0.0
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m and t0 <= float(m["t"]) <= t1:
                peak = max(peak, int(m["after"]) * _UNIT_MIB[m["unit"]])
    return peak
