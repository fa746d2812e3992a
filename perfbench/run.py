"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout.  It builds the seeded inputs, starts
``worker.py`` (the Spark driver process) in a session of its own, waits
for it, stops anything the run left behind, and prints the metrics: one
line per metric for people, then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md).

Everything the run writes goes under ``.perfbench/`` in the checkout:
fixtures cached per seed, Spark's local and temp directories, result
and trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import stats  # noqa: E402
from worker import E2E_REPORTED, E2E_UNITS, PER_LAYER_UNITS, WORKLOADS  # noqa: E402

DEADLINE_S = 170.0  # the whole run, inputs included
MAX_CORES = 4
DRIVER_MEMORY = "2g"


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rec = stats.parse_stat(f.read())
        except (OSError, ValueError):
            continue
        if rec["session"] == sid and rec["state"] != "Z":
            pids.append(int(d))
    return pids


def stop_session(sid: int, grace_s: float = 5.0, limit_s: float = 20.0) -> None:
    """Terminate every process left in session ``sid`` (the JVM, PySpark
    daemons in their own process groups) and wait until all are gone."""
    t0 = time.monotonic()
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.monotonic() - t0 > limit_s:
            raise RuntimeError(f"processes {pids} did not stop")
        if time.monotonic() - t0 > grace_s:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "mincemeatpy_spark", "compat.py")):
        print(f"perfbench: no mincemeatpy_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "results")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cores = min(MAX_CORES, os.cpu_count() or 1)

    worker_args = []
    fixture_s = 0.0
    if args.workload != "mr_jobs":
        t = time.perf_counter()
        sf_dir = fixture.build_tables(os.path.join(work, "fixtures", f"seed{args.seed}"), args.seed)
        fixture_s = time.perf_counter() - t
        worker_args = ["--sf-dir", sf_dir]
    out = os.path.join(
        dirs["results"], f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    if os.path.exists(out):
        os.remove(out)

    env = dict(
        os.environ,
        PERFBENCH_WORK=work,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # Every JVM, the spark-submit launcher's too: no hsperfdata files
        # in /tmp, and Java temp files inside the checkout.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--out", out, *worker_args,
    ]
    # The worker's own output goes to stderr: stdout carries only the
    # metric lines and the final JSON object.
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker exceeded the deadline", file=sys.stderr)
        rc = None
    finally:
        stop_session(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1

    with open(out) as f:
        res = json.load(f)
    res["diagnostics"]["fixture_s"] = fixture_s
    with open(out, "w") as f:
        json.dump(res, f)

    e2e, tail, diag = res["e2e"], res["tail"], res["diagnostics"]
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  trace {args.trace}")
    print(f"timed jobs {tail['n']}  ({tail['beyond']} beyond p90)  "
          f"attempted {res['attempted']}  failed {res['failed']}")
    for m, unit in E2E_UNITS.items():
        print(f"  {m:<16} {e2e[m]:.6g} {unit}")
    h0, h1 = diag["host_start"], diag["host_end"]
    print(f"  host: load1 {h0['load1']} -> {h1['load1']}, "
          f"steal ticks +{h1['steal_ticks'] - h0['steal_ticks']}, "
          f"cpu probe {h0['cpu_probe_ms']} -> {h1['cpu_probe_ms']} ms; "
          f"inputs {fixture_s + diag.get('input_gen_s', 0.0):.2f} s, "
          f"checks {diag['check_s']:.2f} s")
    for err in res["errors"]:
        print(f"  error: {err}")
    if args.trace:
        metrics = {m: {"value": res["per_layer"][m], "unit": u} for m, u in PER_LAYER_UNITS.items()}
        for m, v in metrics.items():
            print(f"  {m:<30} {v['value']:.6g} {v['unit']}")
        print(f"  trace file: {os.path.relpath(res['trace_file'], ROOT)}")
    else:
        metrics = {m: {"value": e2e[m], "unit": E2E_UNITS[m]} for m in E2E_REPORTED}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
