"""Shared expression helpers for oracle-exact determinism.

Floating-point SUM/AVG are order-dependent; Spark's partial aggregation
and DuckDB's will sum in different orders and differ in the last ulps,
which breaks value-hash comparison.  The fix: 6-decimal fixed-point —
scale each row's value to integer micro-units (``round(x * 1e6)`` as
BIGINT), sum exactly in a long accumulator, convert the total back to
double.  Every per-row step (IEEE multiply, half-up round, long sum,
long→double, IEEE divide) is bit-identical across engines regardless of
summation order, so the final double matches DuckDB exactly.

This replaced an earlier ``CAST(x AS DECIMAL(18,6))`` sum: same
semantics, but the long accumulator stays inside whole-stage codegen
(primitive ops) instead of allocating a BigDecimal per row — measured
2.4x faster on the TPC-H Q1 aggregate at sf0.1.

Range: totals are exact up to 2^63 micro-units ≈ 9.2e12 in value, ample
for any bench scale here.  These helpers exist for the oracle gate; a
production 100 TB aggregate would use plain ``F.sum`` (ulp-level
nondeterminism is inherent to distributed float summation and fine).

The oracle-side SQL must mirror the same shape:
``CAST(SUM(CAST(round(expr * 1000000) AS BIGINT)) AS DOUBLE) / 1000000``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_SCALE = 1e6

# Decimal type for inline casts where a sum runs inside a window frame
# (windows.py) — frame sums are small, so BigDecimal cost is irrelevant
# there and the cast reads clearer than micro-scaling each frame.
DEC = "decimal(18,6)"


def decsum(col: Column) -> Column:
    """Order-independent SUM of a double expression (see module doc)."""
    return F.sum(F.round(col * _SCALE).cast("bigint")).cast("double") / F.lit(_SCALE)


def decavg(col: Column) -> Column:
    """Order-independent AVG: exact fixed-point sum / count, in double."""
    return decsum(col) / F.count(F.lit(1))


def oracle_decsum(expr: str) -> str:
    """DuckDB SQL mirror of :func:`decsum`."""
    # Outer parens: the template ends in a division, so composing it into
    # a larger expression (e.g. as a ratio's denominator) must not
    # re-associate under SQL's left-assoc '/'.
    return f"(CAST(SUM(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)"


def oracle_decavg(expr: str) -> str:
    """DuckDB SQL mirror of :func:`decavg`."""
    return f"({oracle_decsum(expr)} / COUNT(*))"


def hash60(col: Column) -> Column:
    """60-bit integer hash of a string: the first 15 hex digits of its
    md5.  DuckDB computes the same integer as
    ``('0x' || substring(md5(x), 1, 15))::BIGINT``, so a hash-keyed join,
    sample or bucket gives identical rows in both engines."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def q6_i64(x):
    """numpy twin of the per-row micro-unit step: doubles to int64
    micro-units with HALF-AWAY-FROM-ZERO rounding, matching DuckDB
    ``round()`` and Spark ``ROUND`` exactly.  ``np.round`` is banker's
    (half-to-even) and silently diverges cross-engine whenever
    ``x * 1e6`` lands exactly on ``.5``."""
    import numpy as np

    y = np.asarray(x, dtype=np.float64) * 1_000_000.0
    return (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)


def q6_embeddings(batch):
    """An Arrow batch's ``embedding`` column as ``[n][64]`` int64
    micro-units (:func:`q6_i64`); ``(0, 64)`` for an empty batch.  The
    list offsets flatten to one values array, so no per-element Python
    object is made."""
    flat = batch.column("embedding").flatten().to_numpy(zero_copy_only=False)
    return q6_i64(flat).reshape(-1, 64)


def q6_sample(rows, *cols):
    """Collected embedding rows as numpy, sorted by ``vec_id``: the ids,
    the ``[n][64]`` int64 micro-unit matrix (:func:`q6_i64`) in the same
    order, then one int64 array per extra column name in ``cols``."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = q6_i64([r["embedding"] for r in rows]).reshape(-1, 64)
    return (ids, mat, *(np.array([r[c] for r in rows], dtype=np.int64) for c in cols))


def q6_dot(a, b):
    """``a @ b.T`` of int64 micro-unit matrices, exact, through BLAS.
    numpy has no BLAS kernel for int64 and multiplies in a plain loop, so
    the product runs in float64 and is cast back.  That is exact while
    every partial sum is an integer below 2^53, which holds when
    ``k * max|a| * max|b| < 2^53`` (k the shared width); ValueError
    otherwise.  Unit vectors in micro-units give at most
    64 * 1e6 * 1e6 = 6.4e13."""
    import numpy as np

    a, b = np.asarray(a), np.asarray(b)
    bound = a.shape[1] * (int(np.abs(a).max()) if a.size else 0) * (
        int(np.abs(b).max()) if b.size else 0
    )
    if bound >= 2**53:
        raise ValueError(f"q6_dot: k*max|a|*max|b| = {bound} is not below 2^53")
    return (a.astype(np.float64) @ b.astype(np.float64).T).astype(np.int64)
