"""Interleaved A/B: fan_out on the dedup_simhash scan.

The sign-vote aggregation (explode tokens -> 60-bit hash -> 32
conditional sums) runs entirely in the map side of ONE task on the
single-row-group fixture scan.  Candidate fix is the round's fan_out
pattern (round-robin repartition of the narrow (doc_id, text) scan,
no-op at real scale).  Alternates plain/fan_out signature builds plus
the full pairs query on top of each, in ONE session.

Usage: python probes/r13/simhash_fanout_ab.py [k]
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from functools import reduce

sys.path.insert(
    0,
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from mincemeatpy_spark.tables import fan_out, t  # noqa: E402
from mincemeatpy_spark.operators._util import hash60  # noqa: E402
from mincemeatpy_spark.text.dedup import _SIM_BITS, _WS  # noqa: E402


def _sigs(spark: SparkSession, sf_dir: str, wide: bool) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    if wide:
        d = fan_out(spark, d, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split("text", _WS)).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.select("doc_id", hash60(F.col("tok")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(h >> {i}) & 1 = 1"), F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"s{i}")
            for i in range(_SIM_BITS)
        ]
    )
    packed = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for i in range(_SIM_BITS)
        ],
    )
    return votes.select("doc_id", packed.alias("simhash"))


def _pairs(sigs: DataFrame) -> DataFrame:
    bands = sigs.selectExpr(
        "doc_id",
        "simhash",
        "stack(4, 0, shiftright(simhash, 0) & 255,"
        "         1, shiftright(simhash, 8) & 255,"
        "         2, shiftright(simhash, 16) & 255,"
        "         3, shiftright(simhash, 24) & 255) AS (band, sig)",
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.sig") == F.col("bb.sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("d1"),
            F.col("bb.doc_id").alias("d2"),
            F.col("ba.simhash").alias("h1"),
            F.col("bb.simhash").alias("h2"),
        )
        .filter(hamming <= 6)
        .select("d1", "d2", hamming.alias("hamming"))
        .distinct()
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5

    from mincemeatpy_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("simhash-fanout-ab")
    from mincemeatpy_spark.lineage import truncate_lazy

    forms = {
        "plain": lambda: _pairs(_sigs(spark, sf_dir, wide=False)),
        "fanout": lambda: _pairs(_sigs(spark, sf_dir, wide=True)),
        # the band self-join's two branches each recompute the FULL
        # signature aggregation (plan shows two complete scan->explode->
        # hash->agg chains, zero ReusedExchange) — share it via the
        # round's minhash-band pattern: one lazy truncation of the
        # 2-column doc-scale sig table.
        "lazy": lambda: _pairs(
            _sigs(spark, sf_dir, wide=False).transform(truncate_lazy)
        ),
        "lazy+fanout": lambda: _pairs(
            _sigs(spark, sf_dir, wide=True).transform(truncate_lazy)
        ),
    }
    for name, fn in forms.items():
        fn().write.format("noop").mode("overwrite").save()  # codegen warmup
    trials: dict[str, list[float]] = {n: [] for n in forms}
    for trial in range(k):
        for name, fn in forms.items():
            spark.sparkContext.setJobDescription(
                f"simhash-ab {name} trial {trial}"
            )
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            trials[name].append(time.perf_counter() - t0)
    for name, ts in trials.items():
        print(
            f"{name}: median {statistics.median(ts):.3f}  trials="
            + ",".join(f"{x:.3f}" for x in ts),
            flush=True,
        )


if __name__ == "__main__":
    main()
