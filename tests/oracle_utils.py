"""Order-insensitive DataFrame-vs-DuckDB comparison.

Normalization mirrors the driver contract: sort columns by name, then
compare row multisets.  Values are normalized (floats rounded, Decimals
to float, timestamps to ISO strings) so engine-level type differences
(int32 vs int64, DECIMAL(38,4) vs DOUBLE) don't mask real mismatches.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from typing import Any

FLOAT_DECIMALS = 6


def _norm_value(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, FLOAT_DECIMALS)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def assert_driver_canon_compatible(schema) -> None:
    """Registry-wide guard (VERDICT r10 task 1): the driver's pandas
    canonicalizer does ``sort_values`` over ALL output columns, which
    raises ``TypeError: unhashable type`` on any ArrayType/MapType cell
    and cannot order StructType rows deterministically — exactly how
    ``orders_nested_export`` went red in CORRECTNESS_r10 despite
    value-correct output.  Every driver-facing FINAL schema must
    therefore be flat (atomic columns only); nested types are fine in
    intermediate plans.  Checked on the schema for
    every registered query via test_oracle.py's full-registry
    parametrization."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nested = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"driver-facing final schema has nested-type columns {nested}; "
        "the driver's pandas canonicalizer (sort_values over all "
        "columns) cannot hash them — emit array_join/to_json strings "
        "instead (see orders_nested_export)"
    )


def compare_to_oracle(spark_df, duck, oracle_sql: str) -> None:
    """Assert the Spark result and the DuckDB oracle result match."""
    compare_rows_to_oracle(
        spark_df.schema, [tuple(r) for r in spark_df.collect()], duck, oracle_sql
    )


def compare_rows_to_oracle(schema, s_rows: list[tuple], duck, oracle_sql: str) -> None:
    """Assert already-collected Spark rows (with their schema) match the
    DuckDB oracle result."""
    assert_driver_canon_compatible(schema)
    s_cols = list(schema.names)

    rel = duck.execute(oracle_sql)
    d_cols = [c[0] for c in rel.description]
    d_rows = [tuple(r) for r in rel.fetchall()]

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row-count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    )

    sn = normalize(s_cols, s_rows)
    dn = normalize(d_cols, d_rows)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs (spark, duck): {diffs}")
