"""Unit tests for the benchmark's own arithmetic.  No Spark needed:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
import worker  # noqa: E402


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile(list(reversed(xs)), 0.9) == 90.0
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile(xs, 0.0)


def test_tail_needs_ten_samples_beyond():
    s = stats.timing_summary([float(i) for i in range(100)], 0.9)
    assert (s["n"], s["beyond"], s["tail_ok"]) == (100, 10, True)
    s = stats.timing_summary([float(i) for i in range(99)], 0.9)
    assert (s["n"], s["beyond"], s["tail_ok"]) == (99, 9, False)
    s = stats.timing_summary([float(i) for i in range(18)], 0.9)
    assert (s["beyond"], s["tail"], s["p50"]) == (1, 16.0, 8.0)
    assert stats.samples_beyond(0, 0.9) == 0


def test_self_time_subtracts_union_of_children():
    # Children overlap (1-3, 2-5) and one sticks out of the span (9-12).
    kids = [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (9.0, 12.0)]
    assert stats.union_length(kids, 0.0, 10.0) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, kids) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    # A child wholly outside the span, or empty, takes nothing away.
    assert stats.self_time(0.0, 10.0, [(11.0, 12.0), (4.0, 4.0)]) == 10.0
    # A child covering the whole span leaves no self time.
    assert stats.self_time(2.0, 3.0, [(0.0, 5.0)]) == 0.0


def test_fail_frac():
    assert stats.fail_frac(0, 10) == 0.0
    assert stats.fail_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.fail_frac(0, 0)
    with pytest.raises(ValueError):
        stats.fail_frac(5, 4)


def test_e2e_fail_frac_counts_raised_and_wrong_jobs():
    recs = [
        {"wall_s": 1.0, "ok": True},
        {"wall_s": 3.0, "ok": False},  # wrong result: timed, but failed
        {"error": "boom", "ok": False},  # raised: failed, not timed
        {"wall_s": 2.0, "ok": True},
    ]
    m = worker.e2e_metrics(5.0, recs, 100.0)
    assert m["fail_frac"] == 0.5
    assert m["job_s_p50"] == 2.0
    assert m["jobs_per_min"] == pytest.approx(60.0 * 4 / 6.0)


def _proc(root, pid, ppid, comm, cmdline, times=(0, 0, 0, 0), session=1, state="S"):
    d = root / str(pid)
    d.mkdir()
    u, s, cu, cs = times
    # Fields 3.. of /proc/<pid>/stat; utime..cstime are fields 14-17.
    rest = [state, ppid, pid, session, 0, -1, 0, 0, 0, 0, 0, u, s, cu, cs, 20, 0]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + "\n")
    (d / "cmdline").write_bytes(b"\0".join(a.encode() for a in cmdline) + b"\0")


def test_parse_stat_handles_parentheses_in_comm():
    text = "42 (my (odd) proc) R 7 42 9 0 -1 0 0 0 0 0 11 12 13 14 20 0\n"
    rec = stats.parse_stat(text)
    assert rec == {
        "state": "R", "ppid": 7, "session": 9,
        "utime": 11, "stime": 12, "cutime": 13, "cstime": 14,
    }


def test_pyworker_cpu_from_fake_proc(tmp_path):
    jvm_cmd = ["/usr/lib/jvm/bin/java", "-cp", "x", "org.apache.spark.deploy.SparkSubmit", "pyspark-shell"]
    daemon = ["python", "-m", "pyspark.daemon", "pyspark.worker"]
    _proc(tmp_path, 100, 1, "python3", ["python3", "worker.py"], (500, 50, 0, 0))
    _proc(tmp_path, 200, 100, "java", jvm_cmd, (900, 90, 0, 0))
    # The daemon's cutime/cstime hold workers it already reaped.
    _proc(tmp_path, 300, 200, "python", daemon, (50, 10, 30, 10))
    _proc(tmp_path, 301, 300, "python", daemon, (20, 5, 0, 0))
    _proc(tmp_path, 302, 300, "py (x) thing", daemon, (4, 1, 0, 0))
    # Not under the driver: another process's PySpark daemon.
    _proc(tmp_path, 400, 1, "python", daemon, (1000, 1000, 0, 0))
    (tmp_path / "self").mkdir()  # not a pid: skipped
    cpu = stats.pyworker_cpu_s(100, proc_root=str(tmp_path), clk_tck=100)
    assert cpu == pytest.approx((50 + 10 + 30 + 10 + 20 + 5 + 4 + 1) / 100)
    assert stats.pyworker_cpu_s(999, proc_root=str(tmp_path), clk_tck=100) == 0.0


def test_status_mb(tmp_path):
    d = tmp_path / "self"
    d.mkdir()
    (d / "status").write_text("Name:\tpython3\nVmHWM:\t  204800 kB\nVmRSS:\t  102400 kB\n")
    assert stats.status_mb("VmHWM", proc_root=str(tmp_path)) == 200.0
    assert stats.status_mb("VmRSS", proc_root=str(tmp_path)) == 100.0


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == worker.E2E_REPORTED
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        m: worker.E2E_UNITS[m] for m in worker.E2E_REPORTED
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(worker.WORKLOADS)
