"""The sf1 soak (r6 judge task 1): measure, don't argue.

Runs the 16 HEADLINE queries plus the 5 heaviest non-streaming EXTENDED
queries at BOTH sf0.1 and the generated sf1 (tools/gen_sf.py), same
session, same noop-sink materialization as bench.py, best-of-2 per
(query, sf) so one-off codegen compile doesn't pollute the ratio.

Writes BENCH_sf1.json: per-query seconds at each scale and the
sf1/sf0.1 wall-time ratio.  The pass criterion is NO SUPERLINEAR
BLOWUP: with 10x data on a fixed 32-thread host, a healthy ratio is
<= ~10 x (modulo fixed overheads amortizing — many queries should come
in well under 10); a ratio far above the data ratio flags a plan whose
cost curve bends the wrong way (the thing plan-reading at one scale
cannot prove).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENDED, HEADLINE  # noqa: E402
from mincemeatpy_spark.registry import load_all_queries  # noqa: E402
from mincemeatpy_spark.session import get_spark  # noqa: E402

NON_STREAMING_EXTENDED = [
    "text_suffix_array",
    "dedup_minhash_lsh_capped",
    "bpe_train_3merges",
    "lm_doc_score_kn",
    "similarity_ann_ivfpq",
]


def main() -> None:
    sf_small = os.environ.get("SOAK_BASE_DIR", "/root/testdata/sf0.1")
    sf_big = os.environ.get("SOAK_BIG_DIR", "/tmp/sfscale/sf1")
    if not set(NON_STREAMING_EXTENDED) <= set(EXTENDED):
        raise ValueError("NON_STREAMING_EXTENDED names a query outside EXTENDED")
    names = HEADLINE + NON_STREAMING_EXTENDED

    spark = get_spark("mincemeatpy-soak")
    queries = load_all_queries()

    def best_of(name: str, sf_dir: str, runs: int = 2) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            queries[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    # warm the session (codegen cache, parquet footers) once per scale
    queries["tpch_q1_pricing_summary"].fn(spark, sf_small).write.format(
        "noop"
    ).mode("overwrite").save()
    queries["tpch_q1_pricing_summary"].fn(spark, sf_big).write.format(
        "noop"
    ).mode("overwrite").save()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        small = best_of(name, sf_small)
        big = best_of(name, sf_big)
        out[name] = {
            "sf0.1_sec": small,
            "sf1_sec": big,
            "ratio": round(big / small, 2),
        }
        print(f"{name}: {small:.2f}s -> {big:.2f}s  ({out[name]['ratio']}x)",
              file=sys.stderr, flush=True)

    result = {
        "metric": "sf1_soak",
        "data_ratio": 10.0,
        "queries": out,
        "sf0.1_total_sec": round(sum(v["sf0.1_sec"] for v in out.values()), 3),
        "sf1_total_sec": round(sum(v["sf1_sec"] for v in out.values()), 3),
        "max_ratio": max(v["ratio"] for v in out.values()),
    }
    print(json.dumps(result))
    # merge, don't clobber: soak_sections.py adds named sections to the
    # same file (r7_additions etc.) — a wholesale dump here would erase
    # them (code-review catch)
    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_sf1.json",
    )
    doc = {}
    if os.path.exists(bench_path):
        with open(bench_path) as f:
            doc = json.load(f)
    doc.update(result)
    with open(bench_path, "w") as f:
        json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
