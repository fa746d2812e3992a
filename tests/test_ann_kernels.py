"""The integer-vector kernel kit of ``similarity/ann.py`` below the
oracle gate.

``_nearest`` is the map-side top-k every quantized-ANN query runs per
Arrow batch; it is pinned here against the per-query loop it replaced,
on inputs the fixtures never produce (heavy ties, self present or
absent, fewer than k + 1 columns, empty sides, float keys with NaN).
The per-batch pushdown is then checked end to end: a query's rows must
not depend on how the scan is cut into Arrow batches.  ``q6_dot``, the
float64 BLAS route to an exact int64 matrix product, is pinned at its
2^53 bound.
"""

from __future__ import annotations

import numpy as np
import pytest

from mincemeatpy_spark.operators._util import q6_dot
from mincemeatpy_spark.registry import load_all_queries
from mincemeatpy_spark.similarity.ann import _nearest


def _loop_nearest(row_ids, col_ids, key, k):
    """Reference: the per-query loop of SQ8's kernels before
    ``_nearest`` — drop self, ``lexsort`` by (key, col_id), keep k."""
    out = []
    for r in range(len(row_ids)):
        mask = col_ids != row_ids[r]
        cand = np.nonzero(mask)[0]
        sel = cand[np.lexsort((col_ids[mask], key[r][mask]))[:k]]
        out += [(r, int(col_ids[c])) for c in sel]
    return out


def _case(rng, i):
    n_rows = int(rng.integers(0, 8))
    n_cols = int(rng.integers(0, 12))
    pool = rng.permutation(40)
    rows = pool[:n_rows]
    # some of the row ids (so self pairs), then fresh ids, shuffled so
    # column order is not id order
    shared = pool[: int(rng.integers(0, n_rows + 1))]
    cols = rng.permutation(np.concatenate([shared, pool[n_rows : n_rows + n_cols]]))
    cols = cols[:n_cols]
    shape = (n_rows, len(cols))
    if i % 2:
        key = rng.integers(0, 4, shape)  # heavy ties, integer distances
    else:
        key = -np.round(rng.random(shape), 1)  # kNN's -cos, tied too
        if i % 6 == 0 and key.size:
            key.flat[int(rng.integers(0, key.size))] = np.nan
    return rows.astype(np.int64), cols.astype(np.int64), key, int(rng.integers(1, 6))


def test_nearest_matches_per_query_loop():
    rng = np.random.default_rng(13)
    cases = [_case(rng, i) for i in range(3000)]
    cases += [
        (np.zeros(0, np.int64), np.arange(5), np.zeros((0, 5)), 3),
        (np.arange(4), np.zeros(0, np.int64), np.zeros((4, 0)), 3),
        (np.array([7]), np.array([7]), np.array([[0]]), 3),  # only self
        (np.array([1, 2]), np.array([2, 1, 3]), np.zeros((2, 3)), 3),
    ]
    for rows, cols, key, k in cases:
        r, c = _nearest(rows, cols, key, k)
        got = [(int(a), int(cols[b])) for a, b in zip(r, c)]
        assert got == _loop_nearest(rows, cols, key, k), (rows, cols, key, k)


QUERIES = load_all_queries()

_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_q6_dot_is_the_int64_product_up_to_its_bound():
    k = 64
    top = 11_863_283  # largest m with k * m * m < 2^53
    assert k * top * top < 2**53 <= k * top * (top + 1)
    rng = np.random.default_rng(14)
    a = rng.integers(-top, top + 1, (9, k))
    b = rng.integers(-top, top + 1, (7, k))
    a[0], b[0], b[1] = top, top, -top  # dots of +-k*top^2: every partial sum near 2^53
    a[1, 0] = -top
    got = q6_dot(a, b)
    assert got.dtype == np.int64
    assert np.array_equal(got, a @ b.T)
    assert got[0, 0] == k * top * top
    assert q6_dot(a[:0], b).shape == (0, 7)
    b[2, 5] = top + 1
    with pytest.raises(ValueError):
        q6_dot(a, b)
    with pytest.raises(ValueError):  # k * max|a| * max|b| == 2^53 exactly
        q6_dot(np.full((1, k), 2**23), np.full((1, k), -(2**24)))


@pytest.mark.parametrize(
    "name",
    ["similarity_pq_recall", "similarity_ann_sq8", "embedding_knn_label_eval"],
)
def test_per_batch_pushdown_is_exact_under_any_batch_split(spark, sf_dir, name):
    """Each batch keeps only its per-query top k; the global cut must
    recover the same rows whether a batch holds 7 rows or the whole
    partition."""
    fn = QUERIES[name].fn
    old = spark.conf.get(_BATCH, None)
    try:
        spark.conf.set(_BATCH, "7")
        split = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        if old is None:
            spark.conf.unset(_BATCH)
        else:
            spark.conf.set(_BATCH, old)
    assert split == sorted(tuple(r) for r in fn(spark, sf_dir).collect())
