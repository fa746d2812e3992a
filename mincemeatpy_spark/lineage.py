"""Lineage truncation with a reliability knob.

Iterative queries (PageRank, star-contraction CC, prefix-doubling
suffix array, k-means, BPE) re-plan on their own output each round;
without truncation the lineage doubles per iteration and the optimizer
re-analyzes an exponentially growing tree.  ``localCheckpoint`` is the
cheap fix — but it stores blocks on executors, so at cluster scale a
single lost executor makes the truncated lineage UNRECOVERABLE: the
exact single-point-of-failure class SURVEY §2a O11 flags in the
reference (master-RAM merge, mincemeat.py:344-347).

``truncate_eager`` / ``truncate_lazy`` keep the cheap local behavior by
default (right for tests and for clusters where retry-the-job is
acceptable) and switch to RELIABLE checkpoints — written to the fault-
tolerant checkpoint directory, surviving executor loss — when one is
configured, via either:

  * ``SparkContext.setCheckpointDir(...)`` set by the application, or
  * ``$SPARK_GRAFT_CHECKPOINT_DIR`` (applied to the context on first
    use), the operational knob documented in SCALE.md.

Call sites use ``df.transform(truncate_eager)`` so the fluent pipeline
shape is preserved.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F


def _reliable_dir(df: DataFrame) -> str | None:
    sc = df.sparkSession.sparkContext
    ck = sc.getCheckpointDir()
    if ck:
        return ck
    env = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if env:
        sc.setCheckpointDir(env)
        return env
    return None


def _truncate(df: DataFrame, eager: bool) -> DataFrame:
    if _reliable_dir(df) is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def truncate_eager(df: DataFrame) -> DataFrame:
    """Materialize now and truncate lineage (loop-step convention)."""
    return _truncate(df, eager=True)


def truncate_lazy(df: DataFrame) -> DataFrame:
    """Truncate lineage at first materialization (reuse-once convention)."""
    return _truncate(df, eager=False)


def fenced_filter(df: DataFrame, cond: Column) -> DataFrame:
    """Filter WITHOUT predicate pushdown below the projection that
    computes the condition's inputs (optimization guide §4.4, r13).

    Catalyst pushes a filter through a Project by SUBSTITUTING each
    referenced alias's full expression into the predicate.  For a cheap
    predicate over an expensive derived column (the HTML-extraction
    array tree, a hashed-feature classifier score) that plants a second
    complete copy of the expensive expression in the scan-side Filter —
    per predicate — on top of the projection's own copy; higher-order
    array functions evaluate interpreted, so no common-subexpression
    elimination rescues it at runtime (measured 3 copies in the web
    composites' scan Filter + 1 in the Project = ~4x the per-row
    extraction cost at any scale).

    The fence: project a ``monotonically_increasing_id()`` column and
    reference it in the condition as a tautology (the id is
    (partition_id << 33) + row_counter — always >= 0).  A projection
    carrying a nondeterministic field may not have filters pushed
    through it (SPARK-13473: nondeterministic expressions are
    stateful, their evaluation count is part of the observable
    semantics), so the filter stays put and evaluates against the
    MATERIALIZED columns.  Row set and output schema are unchanged —
    this is the built-in-expression analogue of the guide's
    ``udf.asNondeterministic()`` fix for duplicated UDF evaluation.

    Batch-only: monotonically_increasing_id is not available in
    streaming plans (the streaming twins keep their plain filters).

    ADVICE r13: the fence column name is collision-safe (withColumn on
    an existing name would silently REPLACE the caller's column), and
    tests/test_plans.py carries a plan-shape regression test asserting
    the gate predicate stays above the expensive projection — the
    SPARK-13473 behavior this helper relies on is undocumented, so a
    Spark upgrade that changes PushDownPredicates must fail CI loudly,
    not degrade silently back to duplicated evaluation.
    """
    fence = "_fence"
    taken = {c.lower() for c in df.columns}  # column names resolve case-insensitively
    i = 0
    while fence in taken:
        i += 1
        fence = f"_fence{i}"
    return (
        df.withColumn(fence, F.monotonically_increasing_id())
        .filter(cond & (F.col(fence) >= 0))
        .drop(fence)
    )
