"""One benchmark run inside one Spark driver process.

``run.py`` starts this script after building the inputs and setting the
environment (work directories inside the checkout, core count, driver
memory); it reads back the JSON result this script writes to ``--out``.

The load is a closed loop from one client thread: a job starts when the
previous one has returned.  Phases, in order:

1. set-up (timed as ``setup_s``): ``get_spark()``, ``load_all_queries()``
   and a cold pass that runs each job kind or query once;
2. the timed phase: whole passes over the workload's jobs until
   ``--seconds`` are used up.  With ``--trace 1`` the passes alternate
   between untraced and traced, each getting ``--seconds``;
3. checks, outside all timing: ``mr_jobs`` results against a pure-Python
   reference (done after each job), query results against their DuckDB
   oracles (once per query).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixture  # noqa: E402
import stats  # noqa: E402
from tracing import Probe  # noqa: E402

# bench.py's 16 HEADLINE queries plus the two funnel composites.
SQL_MIX = [
    "wordcount",
    "tpch_q1_pricing_summary",
    "join_inner",
    "tpch_q3_shipping_priority",
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "join_asof",
    "window_running_sum",
    "window_session",
    "json_extract_agg",
    "dedup_minhash_lsh",
    "similarity_topk",
    "pipeline_training_corpus",
    "text_dup_ngram_fraction",
    "dedup_decontaminate",
    "bitmap_distinct_users",
    "pipeline_stage_counts",
    "corpus_split_leakage_matrix",
]
CODEC_MIX = [
    "multimodal_decode_png_real",
    "multimodal_decode_gif_real",
    "multimodal_decode_gif_anim",
    "multimodal_decode_flac_real",
    "multimodal_decode_video_real",
    "multimodal_resize_real",
]
QUERY_MIXES = {"sql_mix": SQL_MIX, "codec_mix": CODEC_MIX}
WORKLOADS = ("mr_jobs", *QUERY_MIXES)
TAIL_Q = 0.9

E2E_UNITS = {
    "setup_s": "s",
    "job_s_p50": "s",
    "job_s_p90": "s",
    "jobs_per_min": "1/min",
    "py_peak_rss_mb": "MB",
    "fail_frac": "ratio",
}
# fail_frac is 0 on a healthy tree, so it is carried by the result
# line's attempted/failed counts rather than as a bounded metric.
E2E_REPORTED = [m for m in E2E_UNITS if m != "fail_frac"]

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "setup.cold_pass_s": "s",
    "compat.call_s": "s",
    "compat.driver_self_s": "s",
    "compat.jobs": "count",
    "compat.tasks": "count",
    "compat.result_bytes": "B",
    "compat.pyworker_cpu_s": "s",
    "compat.exec_cpu_s": "s",
    "compat.gc_s": "s",
    "compat.shuffle_write_bytes": "B",
    "compat.shuffle_read_bytes": "B",
    "compat.idle_slot_frac": "ratio",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_self_s": "s",
    "sink.s": "s",
    "sink.jobs": "count",
    "sink.stages": "count",
    "sink.tasks": "count",
    "sink.exec_run_s": "s",
    "sink.exec_cpu_s": "s",
    "sink.gc_s": "s",
    "sink.shuffle_read_bytes": "B",
    "sink.shuffle_write_bytes": "B",
    "sink.spill_bytes": "B",
    "sink.idle_slot_frac": "ratio",
    "tables.scan_bytes": "B",
    "tables.scan_records": "count",
    "multimodal.pyworker_cpu_s": "s",
    "multimodal.py_wait_s": "s",
    "tasks.failed": "count",
    "tasks.attempts_per_task": "ratio",
    **{f"overhead.{m}": u for m, u in E2E_UNITS.items()},
}


# ---------------------------------------------------------------------------
# mincemeat jobs.  Defined in __main__, so cloudpickle ships them by value.
# ---------------------------------------------------------------------------


def wc_map(k, v):
    for w in v.split():
        yield w, 1


def wc_reduce(k, vs):
    return sum(vs)


def idx_map(k, v):
    for w in set(v.split()):
        yield w, k


def idx_reduce(k, vs):
    return sorted(vs)


MR_KINDS = {
    "wordcount_collect": (wc_map, wc_reduce, wc_reduce),
    "wordcount": (wc_map, wc_reduce, None),
    "inverted_index": (idx_map, idx_reduce, None),
}


def mr_reference(kind: str, ds: dict[int, str]) -> dict:
    if kind == "inverted_index":
        idx: dict[str, list[int]] = {}
        for k, text in ds.items():
            for w in set(text.split()):
                idx.setdefault(w, []).append(k)
        return {w: sorted(ks) for w, ks in idx.items()}
    return dict(Counter(w for text in ds.values() for w in text.split()))


# ---------------------------------------------------------------------------
# Running one job
# ---------------------------------------------------------------------------


def _err(ex: Exception) -> str:
    """One-line summary of a job's exception; the run keeps going."""
    return f"{type(ex).__name__}: {str(ex)[:300]}"


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.cores = args.cores
        self.sf_dir = args.sf_dir
        self.spark = None
        self.queries = None
        self.probe: Probe | None = None
        self.n = 0  # traced-job counter, for job-group names
        self.last_df: dict = {}
        self.corpus = fixture.Corpus(args.seed) if args.workload == "mr_jobs" else None
        self.next_slice = 0
        self.diag: dict = {}  # run diagnostics: never used as a filter
        self.tracebacks: list[str] = []

    # -- mr_jobs ------------------------------------------------------------

    def mr_job(self, kind: str, ds: dict[int, str], traced: bool) -> tuple[dict, dict | None]:
        from mincemeatpy_spark.compat import mapreduce

        mapfn, reducefn, collectfn = MR_KINDS[kind]
        rec: dict = {"name": kind}
        out = None
        p = self.probe if traced else None
        if p:
            group = self.group()
            p.tag(group, kind)
            cpu0 = p.pycpu()
            span = p.tracer.start("compat.mapreduce", job=group)
        t0 = time.perf_counter()
        try:
            out = mapreduce(self.spark, ds, mapfn, reducefn, collectfn=collectfn)
            rec["wall_s"] = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 - counted as a failure
            rec["error"] = _err(ex)
            self.tracebacks.append(traceback.format_exc())
        if p:
            p.tracer.end(span)
            cpu1 = p.pycpu()
            p.untag()
            jobs = p.jobs(group)
            rec["layer"] = {
                "kind": "compat",
                "call_s": span["end"] - span["start"],
                "driver_self_s": stats.self_time(span["start"], span["end"], jobs.pop("intervals")),
                "pyworker_cpu_s": cpu1 - cpu0,
                **jobs,
            }
        return rec, out

    def mr_check(self, rec: dict, kind: str, ds: dict, out) -> None:
        rec["ok"] = "error" not in rec and out == mr_reference(kind, ds)

    def mr_slice(self) -> dict[int, str]:
        ds = self.corpus.job(self.next_slice)
        self.next_slice += 1
        return ds

    # -- sql_mix / codec_mix --------------------------------------------------

    def query_job(self, name: str, traced: bool) -> dict:
        q = self.queries[name]
        rec: dict = {"name": name}
        self.spark.catalog.clearCache()  # outside the timing, as bench.py does
        if traced:
            return self.traced_query_job(q, rec)
        t0 = time.perf_counter()
        try:
            df = q.fn(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            rec["wall_s"] = time.perf_counter() - t0
            self.last_df[q.name] = df  # the oracle check collects this one
        except Exception as ex:  # noqa: BLE001 - counted as a failure
            rec["error"] = _err(ex)
            self.tracebacks.append(traceback.format_exc())
        return rec

    def traced_query_job(self, q, rec: dict) -> dict:
        """``query_job`` with spans around ``Query.fn`` (the operators
        layer, whose eager jobs are tagged ``-build``) and the noop sink
        (plan execution, tagged ``-sink``)."""
        p, tr, group = self.probe, self.probe.tracer, self.group()
        cpu0 = p.pycpu()
        top = tr.start("query", job=group, query=q.name)
        t0 = time.perf_counter()
        try:
            p.tag(group + "-build", q.name)
            build = tr.start("operators.build", job=group + "-build")
            try:
                df = q.fn(self.spark, self.sf_dir)
            finally:
                tr.end(build)
            p.tag(group + "-sink", q.name)
            sink = tr.start("sink.noop", job=group + "-sink")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                tr.end(sink)
            rec["wall_s"] = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 - counted as a failure
            rec["error"] = _err(ex)
            self.tracebacks.append(traceback.format_exc())
        tr.end(top)
        cpu1 = p.pycpu()
        p.untag()
        b = p.jobs(group + "-build")
        s = p.jobs(group + "-sink")
        layer = {
            "kind": "query",
            "category": q.category,
            "build_s": build["end"] - build["start"],
            "build_jobs": b["jobs"],
            "build_self_s": stats.self_time(build["start"], build["end"], b.pop("intervals")),
            "pyworker_cpu_s": cpu1 - cpu0,
            "scan_bytes": b["scan_bytes"] + s["scan_bytes"],
            "scan_records": b["scan_records"] + s["scan_records"],
            "failed_tasks": b["failed_tasks"] + s["failed_tasks"],
            "tasks": b["tasks"] + s["tasks"],
            "task_attempts": b["task_attempts"] + s["task_attempts"],
        }
        if "error" not in rec:
            s.pop("intervals")
            layer["sink_s"] = sink["end"] - sink["start"]
            layer["sink"] = s
        rec["layer"] = layer
        return rec

    def group(self) -> str:
        self.n += 1
        return f"pb-{self.n}"

    # -- phases -------------------------------------------------------------

    def pass_jobs(self, p: int) -> list[str]:
        """The jobs of pass ``p``: the three mincemeat kinds in a fixed
        rotation, or every query of the mix in a seeded order."""
        if self.workload == "mr_jobs":
            return list(MR_KINDS)
        names = list(QUERY_MIXES[self.workload])
        random.Random(self.seed * 1000 + p).shuffle(names)
        return names

    def run_pass(self, p: int, traced: bool) -> list[dict]:
        recs = []
        for name in self.pass_jobs(p):
            if self.workload == "mr_jobs":
                ds = self.mr_slice()  # built just before its job, released after
                rec, out = self.mr_job(name, ds, traced)
                self.mr_check(rec, name, ds, out)
                del ds, out
            else:
                rec = self.query_job(name, traced)
            rec.update({"pass": p, "traced": traced, "rss_mb": stats.status_mb("VmRSS")})
            recs.append(rec)
        return recs

    def setup(self) -> dict:
        """Time from before get_spark() to the end of the cold pass."""
        from mincemeatpy_spark.session import get_spark

        cold_inputs = []
        if self.workload == "mr_jobs":
            t = time.perf_counter()
            cold_inputs = [self.mr_slice() for _ in MR_KINDS]
            self.diag["input_gen_s"] = time.perf_counter() - t
        work = os.environ["PERFBENCH_WORK"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        marks = [(time.perf_counter(), time.time())]
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        marks.append((time.perf_counter(), time.time()))
        from mincemeatpy_spark.registry import load_all_queries

        self.queries = load_all_queries()
        marks.append((time.perf_counter(), time.time()))
        cold = []
        if self.workload == "mr_jobs":
            outs = []
            for kind, ds in zip(MR_KINDS, cold_inputs):
                rec, out = self.mr_job(kind, ds, traced=False)
                cold.append(rec)
                outs.append(out)
        else:
            for name in self.pass_jobs(-1):
                cold.append(self.query_job(name, traced=False))
        marks.append((time.perf_counter(), time.time()))
        if self.workload == "mr_jobs":
            for rec, kind, ds, out in zip(cold, MR_KINDS, cold_inputs, outs):
                self.mr_check(rec, kind, ds, out)
        names = ("session.get_spark", "registry.load_all_queries", "setup.cold_pass")
        if self.args.trace:
            # Set-up runs untraced; its spans come from the marks above.
            self.probe = Probe(self.spark.sparkContext)
            for name, (_, a), (_, b) in zip(names, marks, marks[1:]):
                self.probe.tracer.spans.append(
                    {"name": name, "parent": None, "job": None, "start": a, "end": b}
                )
        for rec in cold:
            rec.update({"pass": -1, "traced": False})
        self.cold = cold
        t = [m[0] for m in marks]
        return {
            "setup_s": t[3] - t[0],
            "session.get_spark_s": t[1] - t[0],
            "registry.load_s": t[2] - t[1],
            "setup.cold_pass_s": t[3] - t[2],
        }

    def timed(self) -> list[dict]:
        """Whole passes until the time is used up: a new pass (or, when
        tracing, a new untraced+traced pair) starts only if it is
        expected to end nearer the deadline than the last one did."""
        modes = [False, True] if self.args.trace else [False]
        budget = self.args.seconds * len(modes)
        recs: list[dict] = []
        t_start = time.perf_counter()
        p = 0
        while True:
            u0 = time.perf_counter()
            for traced in modes:
                recs += self.run_pass(p, traced)
                p += 1
            unit_s = time.perf_counter() - u0
            if time.perf_counter() - t_start + unit_s / 2 >= budget:
                return recs

    def oracle_checks(self, recs: list[dict]) -> dict:
        """Each query once against its DuckDB oracle; a failed oracle
        marks every execution of that query failed.  The Spark side is
        the DataFrame of the query's last untraced execution, so the
        check collects what was timed without building it again."""
        import duckdb

        from tests.oracle_utils import compare_to_oracle

        con = duckdb.connect()
        for t in fixture.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        verdict = {}
        for name in sorted({r["name"] for r in recs}):
            q = self.queries[name]
            t = time.perf_counter()
            try:
                df = self.last_df.pop(name, None)
                if df is None:  # no untraced execution succeeded
                    df = q.fn(self.spark, self.sf_dir)
                compare_to_oracle(df, con, q.oracle)
                verdict[name] = "ok"
            except Exception as ex:  # noqa: BLE001 - recorded as a failure
                verdict[name] = _err(ex)
                self.tracebacks.append(traceback.format_exc())
            self.diag.setdefault("oracle_s", {})[name] = time.perf_counter() - t
        for r in recs:
            r["ok"] = "error" not in r and verdict[r["name"]] == "ok"
        con.close()
        return verdict

    def main(self) -> dict:
        self.diag["host_start"] = stats.host_sample()
        setup = self.setup()
        recs = self.timed()
        rss_mb = stats.status_mb("VmHWM")
        self.diag["host_end"] = stats.host_sample()
        t = time.perf_counter()
        all_recs = self.cold + recs
        if self.workload != "mr_jobs":
            self.diag["oracle"] = self.oracle_checks(all_recs)
        self.diag["check_s"] = time.perf_counter() - t
        plain = [r for r in recs if not r["traced"]]
        e2e = e2e_metrics(setup["setup_s"], plain, rss_mb)
        attempted = len(all_recs)
        failed = sum(1 for r in all_recs if not r["ok"])
        result = {
            "workload": self.workload,
            "seed": self.seed,
            "cores": self.cores,
            "attempted": attempted,
            "failed": failed,
            "correct": failed == 0,
            "e2e": e2e,
            "tail": stats.timing_summary(ok_times(plain), TAIL_Q),
            "diagnostics": self.diag,
            "errors": sorted({r["error"] for r in all_recs if "error" in r})[:10],
            "tracebacks": self.tracebacks[:10],
            "jobs": [
                {k: r[k] for k in ("name", "pass", "traced", "ok", "wall_s") if k in r}
                for r in all_recs
            ],
        }
        if self.args.trace:
            traced = [r for r in recs if r["traced"]]
            layers = layer_metrics(traced, self.cores, setup)
            # setup_s: set-up runs the same untraced code in both modes, so
            # its difference is 0 by construction.  py_peak_rss_mb: both
            # modes share one process, so the peak cannot be split; compare
            # the largest resident set seen after a job instead.
            e2e_t = e2e_metrics(setup["setup_s"], traced, max(r["rss_mb"] for r in traced))
            base = dict(e2e, py_peak_rss_mb=max(r["rss_mb"] for r in plain))
            for m in E2E_UNITS:
                layers[f"overhead.{m}"] = e2e_t[m] - base[m]
            result["per_layer"] = layers
            result["trace_file"] = self.write_trace(all_recs)
        return result

    def write_trace(self, recs: list[dict]) -> str:
        path = os.path.join(
            os.environ["PERFBENCH_WORK"], "traces", f"{self.workload}-seed{self.seed}.json"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.probe.tracer.spans, "jobs": recs}, f)
        return path


# ---------------------------------------------------------------------------
# Summaries
# ---------------------------------------------------------------------------


def ok_times(recs: list[dict]) -> list[float]:
    return [r["wall_s"] for r in recs if "wall_s" in r]


def e2e_metrics(setup_s: float, recs: list[dict], rss_mb: float) -> dict:
    times = ok_times(recs)
    if not times:
        raise RuntimeError("no job of the timed phase completed")
    return {
        "setup_s": setup_s,
        "job_s_p50": stats.percentile(times, 0.5),
        "job_s_p90": stats.percentile(times, TAIL_Q),
        "jobs_per_min": 60.0 * len(recs) / sum(times),
        "py_peak_rss_mb": rss_mb,
        "fail_frac": stats.fail_frac(sum(1 for r in recs if not r["ok"]), len(recs)),
    }


def _mean(rows: list[dict], key: str) -> float:
    return sum(r[key] for r in rows) / len(rows) if rows else 0.0


def _idle(run_s: float, span_s: float, cores: int) -> float:
    return 1.0 - run_s / (span_s * cores) if span_s > 0 else 0.0


def layer_metrics(traced: list[dict], cores: int, setup: dict) -> dict:
    """Per-job means of the traced jobs' layer readings; fractions are
    taken over the whole traced phase."""
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in ("session.get_spark_s", "registry.load_s", "setup.cold_pass_s"):
        m[k] = setup[k]
    lay = [r["layer"] for r in traced]
    comp = [x for x in lay if x["kind"] == "compat"]
    if comp:
        for k in ("call_s", "driver_self_s", "jobs", "tasks", "result_bytes",
                  "pyworker_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes"):
            m[f"compat.{k}"] = _mean(comp, k)
        m["compat.exec_cpu_s"] = _mean(comp, "cpu_s")
        m["compat.idle_slot_frac"] = _idle(
            sum(x["run_s"] for x in comp), sum(x["span_s"] for x in comp), cores
        )
    qry = [x for x in lay if x["kind"] == "query"]
    if qry:
        m["operators.build_s"] = _mean(qry, "build_s")
        m["operators.build_jobs"] = _mean(qry, "build_jobs")
        m["operators.build_self_s"] = _mean(qry, "build_self_s")
        m["tables.scan_bytes"] = _mean(qry, "scan_bytes")
        m["tables.scan_records"] = _mean(qry, "scan_records")
        done = [x for x in qry if "sink" in x]
        sinks = [x["sink"] for x in done]
        m["sink.s"] = _mean(done, "sink_s")
        for k in ("jobs", "stages", "tasks", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"sink.{k}"] = _mean(sinks, k)
        m["sink.exec_run_s"] = _mean(sinks, "run_s")
        m["sink.exec_cpu_s"] = _mean(sinks, "cpu_s")
        m["sink.idle_slot_frac"] = _idle(
            sum(x["run_s"] for x in sinks), sum(x["span_s"] for x in sinks), cores
        )
        codec = [x for x in done if x["category"] == "multimodal"]
        m["multimodal.pyworker_cpu_s"] = _mean(codec, "pyworker_cpu_s")
        if codec:
            m["multimodal.py_wait_s"] = sum(
                x["sink"]["run_s"] - x["sink"]["cpu_s"] for x in codec
            ) / len(codec)
    tasks = sum(x["tasks"] for x in lay)
    m["tasks.failed"] = float(sum(x["failed_tasks"] for x in lay))
    m["tasks.attempts_per_task"] = (
        sum(x["task_attempts"] for x in lay) / tasks if tasks else 0.0
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--sf-dir")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    result = run.main()
    with open(args.out, "w") as f:
        json.dump(result, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
