"""Quick A/B timing of named queries with the bench's methodology
(noop sink, local[$SPARK_GRAFT_CPUS], k trials, median) — the inner loop
of an optimization A/B.  NOT the driver contract; bench.py remains the
instrument of record.

Each query gets one untimed build plus noop sink before its timed
trials.  Without it the first trial pays the query's cold start —
loading its code path, JIT and whole-stage code generation — so with
``-k 1`` the first query named was timed mostly on warm-up:
``dedup_minhash_lsh`` read 5.1-7.1 s in fresh sessions at sf0.1 against
1.25-2.16 s once warm.

Usage: python tools/time_queries.py [-k N] name [name ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    k = 3
    if args and args[0] == "-k":
        k = int(args[1])
        args = args[2:]

    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")
    queries = load_all_queries()
    # same warmup as bench.py
    queries["tpch_q1_pricing_summary"].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    for name in args:
        q = queries[name]
        trials = []
        for i in range(k + 1):
            # Same trial isolation as bench.py: no cross-trial reuse of
            # cached intermediates via canonical-plan match.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i:  # trial 0 is the untimed warm-up
                trials.append(time.perf_counter() - t0)
        med = statistics.median(trials)
        print(
            f"{med:8.3f}  {name}  trials="
            + ",".join(f"{t:.3f}" for t in trials),
            flush=True,
        )


if __name__ == "__main__":
    main()
