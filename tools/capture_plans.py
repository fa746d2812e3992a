"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage:
  python tools/capture_plans.py <tag> <suffix> [name ...]

With no names: headline + extended bench queries (streaming *_e2e
entries are skipped — their fn() executes a stream, which is a run,
not a plan).  Writes plans/<tag>/<name>_<suffix>.txt plus the query's
``plan_facts`` (exchanges, joins and Python operators by kind, expensive
calls) on one stdout line, so notes can quote plan shapes without
re-running.
"""

from __future__ import annotations

import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def plan_text(df) -> str:
    jdf = df._jdf
    return jdf.queryExecution().explainString(
        SparkSession.getActiveSession()
        ._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    import bench
    from mincemeatpy_spark.plans import executed_plan, plan_facts
    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.session import get_spark

    if not names:
        names = [
            n
            for n in bench.HEADLINE + bench.EXTENDED
            if not n.endswith("_e2e")
        ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    queries = load_all_queries()
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = queries[name].fn(spark, sf_dir)
            plan = plan_text(df)
            facts = plan_facts(executed_plan(df))
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
            continue
        with io.open(
            os.path.join(outdir, f"{name}_{suffix}.txt"), "w"
        ) as f:
            f.write(plan)
        print(f"{name}: {json.dumps(facts, sort_keys=True)}")


if __name__ == "__main__":
    main()
