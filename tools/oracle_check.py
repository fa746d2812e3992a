"""Targeted oracle check: run NAMED queries against their DuckDB
oracles at a given SF (driver_sim's per-query logic, subset-capable).

Usage: python tools/oracle_check.py [--sf DIR] name [name ...]
Exit 0 iff every named query is green (hash_match where oracle-paired,
rows>0 otherwise).  The r13 optimization round's inner loop: every
restructured query re-proves equivalence here (sf0.01 default) before
the full driver_sim rerun at round end.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.driver_sim import TABLES, _value_hash  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    names = args
    if not names:
        print("usage: oracle_check.py [--sf DIR] name ...", file=sys.stderr)
        return 2

    import duckdb

    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    queries = load_all_queries()
    bad = 0
    for name in names:
        q = queries[name]
        t0 = time.time()
        df = q.fn(spark, sf)
        s_cols = list(df.columns)
        s_rows = [tuple(r) for r in df.collect()]
        if q.oracle is None:
            ok = len(s_rows) > 0
            print(f"{'ok' if ok else 'FAIL'} {name} rows-only "
                  f"({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            bad += not ok
            continue
        rel = con.execute(q.oracle)
        d_cols = [c[0] for c in rel.description]
        d_rows = [tuple(r) for r in rel.fetchall()]
        # ADVICE r13 item 5 (verified): the sorted-name schema check is
        # sufficient BECAUSE _value_hash is column-order canonical —
        # tests/oracle_utils.normalize reorders every row's values by
        # sorted column name before hashing, mirroring the driver's own
        # canonicalizer.  Column order is not part of the contract;
        # values-per-name are.  Duplicate column names would defeat that
        # canonicalization, so they are rejected loudly here.
        if len(set(s_cols)) != len(s_cols):
            raise ValueError(f"{name}: duplicate spark columns {s_cols}")
        if len(set(d_cols)) != len(d_cols):
            raise ValueError(f"{name}: duplicate oracle columns {d_cols}")
        ok = (
            len(s_rows) == len(d_rows)
            and sorted(s_cols) == sorted(d_cols)
            and _value_hash(s_cols, s_rows) == _value_hash(d_cols, d_rows)
        )
        print(
            f"{'ok' if ok else 'FAIL'} {name} "
            f"(spark {len(s_rows)} vs oracle {len(d_rows)} rows, "
            f"{time.time()-t0:.1f}s)"
        )
        bad += not ok
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
