"""Section soak: extend BENCH_sf1.json with named query groups.

The main soak (tools/soak_sf1.py) covers HEADLINE + the heaviest
non-streaming EXTENDED queries.  This tool runs an arbitrary named list
at both scales with the same best-of-2 / noop-sink protocol and merges
the result as a section of BENCH_sf1.json — used for the round-7 query
additions and the streaming EXTENDED family (trigger-latency-dominated,
so the expected sf1/sf0.1 ratio is ~1x: batch COUNT, not data volume,
sets their wall time; a big ratio would mean state or shuffle grows
with input — the claim this soak turns into a measurement).

Usage: python tools/soak_sections.py SECTION query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mincemeatpy_spark.registry import load_all_queries  # noqa: E402
from mincemeatpy_spark.session import get_spark  # noqa: E402

BENCH_SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_sf1.json",
)


def main() -> None:
    section, names = sys.argv[1], sys.argv[2:]
    sf_small = os.environ.get("SOAK_BASE_DIR", "/root/testdata/sf0.1")
    sf_big = os.environ.get("SOAK_BIG_DIR", "/tmp/sfscale/sf1")

    spark = get_spark("mincemeatpy-soak-sections")
    queries = load_all_queries()
    missing = [n for n in names if n not in queries]
    if missing:
        raise ValueError(f"unknown queries: {missing}")

    def best_of(name: str, sf_dir: str, runs: int = 2) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            queries[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    # session warm-up at both scales (codegen + parquet footers)
    for sf in (sf_small, sf_big):
        queries["tpch_q1_pricing_summary"].fn(spark, sf).write.format(
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
        print(
            f"{name}: {small:.2f}s -> {big:.2f}s  ({out[name]['ratio']}x)",
            file=sys.stderr,
            flush=True,
        )

    with open(BENCH_SF1) as f:
        doc = json.load(f)
    doc[section] = {
        "queries": out,
        "max_ratio": max(v["ratio"] for v in out.values()),
    }
    with open(BENCH_SF1, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({section: doc[section]}))


if __name__ == "__main__":
    main()
