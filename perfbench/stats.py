"""The benchmark's own arithmetic, kept free of Spark so it can be unit
tested: percentiles, self time, failure fraction, and readings from a
``/proc`` tree (Python-worker CPU, memory, host telemetry)."""

from __future__ import annotations

import math
import os
import time


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    fraction ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    xs = sorted(values)
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q`` percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def timing_summary(values: list[float], q: float, min_beyond: int = 10) -> dict:
    """Median and ``q`` percentile with the sample count, and whether at
    least ``min_beyond`` samples lie beyond the percentile (the rule a
    tail percentile needs before it means anything)."""
    beyond = samples_beyond(len(values), q)
    return {
        "p50": percentile(values, 0.5),
        "tail": percentile(values, q),
        "q": q,
        "n": len(values),
        "beyond": beyond,
        "tail_ok": beyond >= min_beyond,
    }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Overlapping children count once."""
    return (end - start) - union_length(children, start, end)


def fail_frac(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no jobs attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def parse_stat(text: str) -> dict:
    """Fields of ``/proc/<pid>/stat`` the benchmark uses.  ``comm`` may
    hold spaces and parentheses, so fields are split after the LAST ')'."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime is field 14.
    return {
        "state": rest[0],
        "ppid": int(rest[1]),
        "session": int(rest[3]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
    }


def _read(path: str, mode: str = "r"):
    try:
        with open(path, mode) as f:
            return f.read()
    except OSError:  # the process ended between listdir and open
        return None


def process_table(proc_root: str = "/proc") -> dict[int, dict]:
    """``{pid: stat fields + cmdline}`` for every process visible."""
    table: dict[int, dict] = {}
    for d in os.listdir(proc_root):
        if not d.isdigit():
            continue
        stat = _read(os.path.join(proc_root, d, "stat"))
        cmd = _read(os.path.join(proc_root, d, "cmdline"), "rb")
        if stat is None or cmd is None:
            continue
        rec = parse_stat(stat)
        rec["cmdline"] = cmd.replace(b"\0", b" ").decode(errors="replace")
        table[int(d)] = rec
    return table


def descendants(table: dict[int, dict], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, rec in table.items():
        children.setdefault(rec["ppid"], []).append(pid)
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def pyworker_cpu_s(root: int, proc_root: str = "/proc", clk_tck: int | None = None) -> float:
    """CPU seconds (user + system) of the PySpark daemon and worker
    processes under ``root``, including workers that already exited and
    were reaped by their parent (their time is in the parent's
    ``cutime``/``cstime``).  A worker forked by the daemon runs the same
    command line, so the match is on ``pyspark`` in the command line,
    which the JVM and the driver itself do not carry."""
    tck = clk_tck or os.sysconf("SC_CLK_TCK")
    table = process_table(proc_root)
    ticks = 0
    for pid in descendants(table, root):
        rec = table[pid]
        if "pyspark" in rec["cmdline"] and "java" not in rec["cmdline"].split(" ", 1)[0]:
            ticks += rec["utime"] + rec["stime"] + rec["cutime"] + rec["cstime"]
    return ticks / tck


def status_mb(field: str = "VmHWM", proc_root: str = "/proc", pid: str = "self") -> float:
    """A memory field of ``/proc/<pid>/status`` in MB: ``VmHWM`` is the
    peak resident set, ``VmRSS`` the current one."""
    text = _read(os.path.join(proc_root, pid, "status")) or ""
    for line in text.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{field} not found")


def host_sample(proc_root: str = "/proc") -> dict:
    """Host telemetry recorded as a diagnostic, never used as a filter:
    1-minute load, cumulative steal and total CPU ticks, and the
    fixed-work CPU probe of ``bench.py`` (100k interpreter additions)."""
    load = _read(os.path.join(proc_root, "loadavg"))
    stat = _read(os.path.join(proc_root, "stat"))
    vals = list(map(int, stat.splitlines()[0].split()[1:])) if stat else []
    t0 = time.perf_counter()
    acc = 0
    for i in range(100_000):
        acc += i * i
    return {
        "load1": float(load.split()[0]) if load else -1.0,
        "steal_ticks": vals[7] if len(vals) > 7 else -1,
        "total_ticks": sum(vals) if vals else -1,
        "cpu_probe_ms": round((time.perf_counter() - t0) * 1000, 3),
    }
