"""Oracle type-drift audit.

The driver's value hash is type-representation-sensitive: a DuckDB
``sum()`` over BIGINT yields HUGEINT (int128), which pandas/Arrow cannot
represent as int64, so the hash diverges from Spark's bigint even when
every value is identical (the round-3 red rows).  The local comparison in
``oracle_utils.normalize`` deliberately erases type differences, so this
audit is the only local guard: for EVERY registered oracle, bind the SQL
in DuckDB (no fetch needed — binding resolves result types) and assert
its result types are hash-compatible with the Spark schema, which
comes from the session's one registry pass (no second build).

Rules (mirroring what the driver's pandas/Arrow conversion preserves):
- HUGEINT/UHUGEINT anywhere is an immediate failure — Spark has no int128.
- Spark integer column  -> DuckDB type must be an integer of width <= 64.
- Spark double/float    -> DuckDB type must be FLOAT/DOUBLE (a DECIMAL
  oracle column against a Spark double hashes differently).
"""

from __future__ import annotations

import pytest

from mincemeatpy_spark.registry import load_all_queries

_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
_DUCK_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"}
_SPARK_FLOAT = {"float", "double"}
_DUCK_FLOAT = {"FLOAT", "DOUBLE"}

_QUERIES = [q for q in load_all_queries().values() if q.oracle is not None]


@pytest.mark.parametrize("query", _QUERIES, ids=lambda q: q.name)
def test_oracle_types_hash_compatible(query, registry_run, duck):
    rel = duck.sql(query.oracle)
    duck_types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}

    spark_types = dict(registry_run(query.name).checked().dtypes)

    for col, dt in duck_types.items():
        assert "HUGEINT" not in dt, (
            f"{query.name}: oracle column {col!r} is {dt} (int128) — wrap the "
            f"expression in CAST(... AS BIGINT); the driver hash cannot match."
        )
        st = spark_types.get(col)
        if st in _SPARK_INT:
            assert dt in _DUCK_INT or dt == "UBIGINT", (
                f"{query.name}: Spark column {col!r} is {st} but the oracle "
                f"yields {dt} — cast the oracle expression to an int64-width "
                f"type or the driver hash will diverge."
            )
        elif st in _SPARK_FLOAT:
            assert dt in _DUCK_FLOAT, (
                f"{query.name}: Spark column {col!r} is {st} but the oracle "
                f"yields {dt} — cast the oracle expression to DOUBLE."
            )
