"""The engine's main correctness gate: every registered query with an
oracle must match DuckDB on the same parquet tables (order-insensitive) —
the per-operator generalization of the reference's single golden smoke
test (reference smoke.sh:1-10).  Queries without an oracle get a
schema/rows sanity check.  Results come from the session's one
registry pass (``registry_run``), which the plan checks read too.
"""

from __future__ import annotations

import pytest

from mincemeatpy_spark.registry import load_all_queries
from tests.oracle_utils import assert_driver_canon_compatible, compare_rows_to_oracle

QUERIES = load_all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, registry_run, duck):
    run = registry_run(name).checked()
    oracle = QUERIES[name].oracle
    if oracle is None:
        assert_driver_canon_compatible(run.schema)
        assert run.schema.names, f"{name}: empty schema"
    else:
        compare_rows_to_oracle(run.schema, run.rows, duck, oracle)
