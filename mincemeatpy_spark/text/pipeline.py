"""End-to-end training-corpus preparation pipeline.

The composite a 100 TB pre-training data pipeline actually runs, as one
declarative plan: quality gate → exact dedup → near-dup removal → kept
corpus with stats.  Each stage is an operator that also exists (and is
oracle-checked) standalone in ``text.analysis`` / ``text.dedup``; this
query proves they compose — the reference's equivalent would be four
chained MapReduce jobs with intermediate materialization (reference
mincemeat.py:294-297 allows exactly one map+reduce per job), where here
Catalyst fuses the whole thing and the corpus is scanned once per
distinct shuffle key, not once per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from mincemeatpy_spark.lineage import truncate_eager, truncate_lazy
from mincemeatpy_spark.operators._util import hash60
from mincemeatpy_spark.registry import QUERIES, register
from mincemeatpy_spark.tables import t
from mincemeatpy_spark.text.analysis import tokens
from mincemeatpy_spark.text.dedup import (
    _ORACLE_H60,
    _ORACLE_SHINGLES,
    _bands_sql,
    _hashed_shingles,
    _minh_cols_sql,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)

# Shared CTE prefix: quality gate + exact-dedup keeper (identical in both
# pipeline variants; only the near-dup loser source differs).
_PIPELINE_PREFIX = """
        stats AS (
            SELECT doc_id, text,
                   len(words) AS n_tokens,
                   len(list_distinct(words))::DOUBLE / len(words) AS uniq_ratio
            FROM (SELECT doc_id, text,
                         string_split_regex(text, '\\s+') AS words
                  FROM documents)
            WHERE len(words) > 0
        ),
        quality AS (
            SELECT * FROM stats
            WHERE n_tokens >= 5 AND uniq_ratio >= 0.3
        ),
        exact_kept AS (
            SELECT doc_id
            FROM (SELECT doc_id,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                  FROM documents)
            WHERE doc_id = keeper
        )"""

_PIPELINE_SELECT = """
        SELECT q.doc_id, q.n_tokens, round(q.uniq_ratio, 6) AS uniq_ratio
        FROM quality q
        JOIN exact_kept e ON e.doc_id = q.doc_id
        WHERE q.doc_id NOT IN (SELECT d2 FROM near_dup_losers)
        """


def _quality_and_exact_kept(spark: SparkSession, sf_dir: str):
    from mincemeatpy_spark.lineage import fenced_filter

    # (r13: a fan_out here was measured 0.19 s -> 0.23 s and reverted —
    # per-doc split/array_distinct does not dominate the added shuffle.)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("words")
    )
    n_tokens = F.size("words")
    uniq_ratio = F.size(F.array_distinct("words")).cast("double") / n_tokens
    # r13 optimization round: same rows, fenced gate.  The old shape's
    # two plain filters pushed below the projection and re-tokenized the
    # document once per predicate (the scan Filter carried FOUR split()
    # copies); the fenced filter evaluates against the materialized
    # stats columns.  n_tokens >= 5 subsumes the old n_tokens > 0
    # pre-filter (and 0-token rows yield uniq_ratio = 0/0 = NaN, which
    # fails >= 0.3), so the conjunction keeps the identical row set.
    quality = fenced_filter(
        docs.select(
            "doc_id",
            "text",
            n_tokens.alias("n_tokens"),
            uniq_ratio.alias("uniq_ratio"),
        ),
        (F.col("n_tokens") >= 5) & (F.col("uniq_ratio") >= 0.3),
    )
    # Keeper is the min doc_id within each digest group over the FULL
    # corpus (a quality-rejected keeper still shadows its duplicates) —
    # mirrors the oracle's exact_kept CTE.  Shuffle only (digest,
    # doc_id), never the text: groupBy(digest).min beats a window
    # partitioned by md5(text), which would shuffle every document body.
    exact_kept = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_id"))
        .select("kept_id")
    )
    return quality, exact_kept


def _finish_pipeline(quality: DataFrame, losers: DataFrame) -> DataFrame:
    # No hint on the loser set: it scales with the corpus's dup rate
    # (easily GBs at 100 TB); AQE broadcasts while it actually fits,
    # else the anti join shuffles on the 8-byte doc key.
    return (
        quality.join(losers, F.col("doc_id") == F.col("loser_id"), "left_anti")
        .select("doc_id", "n_tokens", F.round("uniq_ratio", 6).alias("uniq_ratio"))
    )


@register(
    "pipeline_training_corpus",
    oracle=f"""
        WITH {_PIPELINE_PREFIX.lstrip()},
        {_ORACLE_SHINGLES},
        based AS (
            SELECT doc_id, {_ORACLE_H60.format(x="s")} AS base
            FROM sh
        ),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()}
            FROM based GROUP BY doc_id
        ),
        bands AS (
            {_bands_sql("minh")}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM based GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM based a JOIN based b ON a.base = b.base AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        near_dup_losers AS (
            SELECT DISTINCT c.d2
            FROM cand c
            JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
            JOIN sizes sa ON sa.doc_id = c.d1
            JOIN sizes sb ON sb.doc_id = c.d2
            -- the Spark side thresholds dedup_minhash_lsh's ROUNDED 6-dp
            -- jaccard column; threshold the same rounded value here
            WHERE round(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) >= 0.25
        )
        {_PIPELINE_SELECT}
        """,
    category="text",
    doc="Composite corpus-prep pipeline, SCALE PATH: token-stat quality "
    "gate (>= 5 tokens, uniq_ratio >= 0.3) → exact-dedup keeper filter "
    "(min doc_id per content digest) → near-dup removal via the "
    "MinHash-LSH loser set (dedup_minhash_lsh: banded candidates, "
    "exact-Jaccard verify of candidates only, losers = higher doc_id of "
    "each verified pair ≥ 0.25).  This is the registered 100 TB default: "
    "near-dup work scales with documents + bucket collisions, never "
    "all co-shingled pairs.  Deterministic md5-derived hashing keeps "
    "even the LSH stage exactly oracle-checkable; "
    "pipeline_training_corpus_exact is the quadratic ground-truth twin "
    "for recall evals at sf-small.",
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality, exact_kept = _quality_and_exact_kept(spark, sf_dir)
    losers = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.25)
        .select(F.col("d2").alias("loser_id"))
        .distinct()
    )
    return _finish_pipeline(
        quality.join(exact_kept, quality.doc_id == F.col("kept_id"), "left_semi"),
        losers,
    )


@register(
    "pipeline_training_corpus_exact",
    oracle=f"""
        WITH {_PIPELINE_PREFIX.lstrip()},
        {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id,
                       ('0x' || substring(md5(s), 1, 15))::BIGINT AS s
                FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        near_dup_losers AS (
            SELECT DISTINCT d2
            FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        )
        {_PIPELINE_SELECT}
        """,
    category="text",
    doc="Ground-truth twin of pipeline_training_corpus: identical quality "
    "gate and exact-dedup stages, but the near-dup loser set comes from "
    "the exact shingle-inverted-index Jaccard (dedup_ngram_jaccard) — "
    "quadratic in hot shingles, the sf-small eval baseline the LSH "
    "default is measured against (dedup_lsh_recall quantifies the gap).",
)
def pipeline_training_corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality, exact_kept = _quality_and_exact_kept(spark, sf_dir)
    losers = dedup_ngram_jaccard(spark, sf_dir).select(F.col("d2").alias("loser_id")).distinct()
    return _finish_pipeline(
        quality.join(exact_kept, quality.doc_id == F.col("kept_id"), "left_semi"),
        losers,
    )


@register(
    "corpus_diff_incremental",
    oracle="""
        WITH old AS (SELECT doc_id,
                            CASE WHEN doc_id % 7 = 0 THEN upper(text)
                                 ELSE text END AS text
                     FROM documents WHERE doc_id % 13 <> 0),
        new AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)
        SELECT status, count(*) AS n_docs, min(doc_id) AS first_doc
        FROM (SELECT coalesce(new.doc_id, old.doc_id) AS doc_id,
                     CASE WHEN old.doc_id IS NULL THEN 'added'
                          WHEN new.doc_id IS NULL THEN 'removed'
                          WHEN md5(old.text) <> md5(new.text) THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
        GROUP BY status
        """,
    category="text",
    doc="Incremental corpus update — the snapshot-diff step that decides "
    "what a 100 TB pipeline must reprocess: full outer join of the "
    "previous and current snapshots on doc_id, content compared by "
    "digest (md5) instead of the full text, rows classified "
    "added/removed/changed/unchanged.  At scale both snapshots shuffle "
    "once on doc_id (or zero times if both are bucketed by doc_id on "
    "disk), the digests are computed scan-side, and only the "
    "added+changed slice flows into downstream recompute.  The two "
    "snapshots here are deterministic views of the fixture (13-cycle "
    "deletions, 10-cycle additions, 7-cycle edits).",
)
def corpus_diff_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("old_id"),
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text")))
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("old_fp"),
    )
    new = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("new_id"),
        F.md5(F.col("text").cast("binary")).alias("new_fp"),
    )
    status = (
        F.when(F.col("old_id").isNull(), "added")
        .when(F.col("new_id").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, F.col("old_id") == F.col("new_id"), "full_outer")
        .select(
            F.coalesce(F.col("new_id"), F.col("old_id")).alias("doc_id"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@register(
    "corpus_mixture_quota",
    oracle="""
        WITH quota AS (
            SELECT min(c) AS q
            FROM (SELECT count(*) AS c FROM documents GROUP BY source)
        ),
        ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        SELECT source,
               count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars
        FROM ranked, quota
        WHERE rn <= q
        GROUP BY source
        """,
    category="text",
    doc="Domain-mixture rebalancing (the data-mixture step of a "
    "pre-training pipeline): cap every source at a uniform quota — the "
    "smallest source's count — selecting each source's survivors by "
    "deterministic md5-hash rank (a seeded uniform subsample, stable "
    "across reruns).  The quota is a one-row aggregate joined back as a "
    "broadcast; the rank is one window shuffle on source.  At scale the "
    "same plan expresses any target mixture by making the quota table "
    "per-source weights instead of a global min.",
)
def corpus_mixture_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    quota = F.broadcast(
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("q"))
    )
    ranked = docs.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        ),
    )
    return (
        ranked.crossJoin(quota)
        .filter(F.col("rn") <= F.col("q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )


@register(
    "pack_sequences",
    oracle="""
        WITH RECURSIVE d AS (
            SELECT lang, doc_id,
                   len(string_split_regex(text, '\\s+')) AS n,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       AS rn
            -- NULL-lang docs are excluded on BOTH sides: the recursion's
            -- d.lang = p.lang join never matches NULL, so without the
            -- filter the engines would diverge on a NULL-lang group
            FROM documents WHERE lang IS NOT NULL
        ),
        packed AS (
            SELECT lang, rn, n, 0 AS batch_id, n AS running
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.lang, d.rn, d.n,
                   CASE WHEN p.running + d.n > 512
                        THEN p.batch_id + 1 ELSE p.batch_id END,
                   CASE WHEN p.running + d.n > 512
                        THEN d.n ELSE p.running + d.n END
            FROM packed p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1
        )
        SELECT lang, batch_id,
               count(*) AS n_docs,
               CAST(sum(n) AS BIGINT) AS sum_tokens
        FROM packed
        GROUP BY lang, batch_id
        """,
    category="text",
    doc="Sequence packing (the batch-assembly step of LLM training): "
    "documents stream through per-language in doc_id order and pack "
    "greedily into 512-token batches — a new batch starts when the next "
    "document would overflow.  Packing is inherently sequential per "
    "group (each decision depends on the running total, not a prefix "
    "sum), so it runs as applyInPandas: one ordered pass per language "
    "partition, which is exactly how a 100 TB corpus packs — parallel "
    "across shards, linear within.  The oracle is a recursive CTE "
    "making the same greedy decision row by row; hash-equality proves "
    "the custom stateful operator implements the declared recurrence.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        t(spark, sf_dir, "documents")
        # NULL lang is excluded in the oracle too (its recursive join
        # can never traverse a NULL group); packing unlabeled docs is a
        # policy decision, not a default
        .filter(F.col("lang").isNotNull())
        .select("lang", "doc_id", F.size(tokens(F.col("text"))).alias("n"))
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        batch, running, ids = 0, 0, []
        first = True
        for n in pdf["n"]:
            if not first and running + n > 512:
                batch += 1
                running = n
            else:
                running += n
            first = False
            ids.append(batch)
        pdf = pdf.assign(batch_id=ids)
        g = pdf.groupby("batch_id", as_index=False).agg(
            n_docs=("doc_id", "size"), sum_tokens=("n", "sum")
        )
        g.insert(0, "lang", pdf["lang"].iloc[0])
        return g

    return docs.groupBy("lang").applyInPandas(
        pack, schema="lang string, batch_id long, n_docs long, sum_tokens long"
    )


@register(
    "corpus_shard_bybytes",
    oracle="""
        WITH cum AS (
            SELECT doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_bytes
            FROM documents
        )
        SELECT CAST((cum_bytes - n_chars) // 100000 AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM cum
        GROUP BY 1
        """,
    category="text",
    doc="Output sharding by byte budget — the step that turns a deduped "
    "corpus into ~equal-size training shards: each document's shard is "
    "its starting offset in the doc_id-ordered byte stream divided by "
    "the 100 kB target.  A naive global running sum is a single-"
    "partition window — the classic scale trap — so this computes the "
    "prefix sum in two phases: per-range-bucket subtotals (tiny: one "
    "row per 500 docs), an offset window over that bucket table only, "
    "then an intra-bucket running sum joined back by bucket id.  The "
    "full corpus never passes through one partition; only the bucket "
    "table does.  Exact int64 arithmetic end to end.",
)
def corpus_shard_bybytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = (F.col("doc_id") / 500).cast("bigint").alias("bkt")
    d = docs.select("doc_id", "n_chars", bucket)
    # Phase 1: per-bucket totals (one row per bucket — thousands of rows
    # at 100 TB, not billions), then exclusive prefix offsets over the
    # tiny bucket table.
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("n_chars").alias("bkt_bytes"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_bytes").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    # Phase 2: intra-bucket running sum + broadcast offset join.
    intra = W.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = (
        d.join(F.broadcast(offsets), "bkt")
        .withColumn("cum_bytes", F.col("offset") + F.sum("n_chars").over(intra))
    )
    # Integer div, not a double quotient: past 2^53 cumulative bytes a
    # double loses integer precision and a boundary doc can land in the
    # wrong shard while the oracle's integer // stays exact.
    shard = F.expr("(cum_bytes - n_chars) div 100000")
    return (
        cum.groupBy(shard.alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "corpus_train_test_split",
    oracle="""
        SELECT source, split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc
        FROM (
            SELECT source, doc_id, n_chars,
                   CASE WHEN h < 90 THEN 'train'
                        WHEN h < 97 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT source, doc_id, n_chars,
                         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                             % 100 AS h
                  FROM documents)
        )
        GROUP BY source, split
        """,
    category="text",
    doc="Deterministic 90/7/3 train/val/test split — the holdout "
    "assignment step of corpus prep: split is a pure function of a "
    "salted content-independent key (md5 of doc_id, 60-bit prefix mod "
    "100), so membership is stable across reruns, machines, and "
    "partitionings — no RNG state, no sampling drift between pipeline "
    "stages that must agree on the split.  Per source x split counts "
    "audit stratification.  Pure scan-side expressions, one tiny "
    "aggregate; at 100 TB the split adds zero shuffles to whatever "
    "reads it.",
)
def corpus_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 90, F.lit("train"))
        .when(h < 97, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("source", "doc_id", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "corpus_epoch_shuffle",
    oracle="""
        SELECT epoch, batch_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc
        FROM (
            SELECT e.epoch, d.doc_id, d.n_chars,
                   ('0x' || substring(
                        md5(CAST(e.epoch AS VARCHAR) || ':'
                            || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 16 AS batch_id
            FROM documents d,
                 (SELECT unnest([0, 1]) AS epoch) e
        )
        GROUP BY epoch, batch_id
        """,
    category="text",
    doc="Epoch-wise training shuffle — the data-loader reshuffle between "
    "epochs, done the way that scales: each document's batch is a pure "
    "hash of (epoch, doc_id), so every epoch is a different but fully "
    "deterministic permutation, reproducible on any cluster layout "
    "with no RNG state and no coordination.  The naive alternative — "
    "ORDER BY random() + row_number to cut exact-size batches — needs "
    "a global sort per epoch; hash-bucket batching is shuffle-free at "
    "assignment time and batch sizes concentrate tightly around "
    "n/batches (audited here per epoch x batch).  Two epochs "
    "materialized via a tiny lateral epoch table.",
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    j = d.crossJoin(F.broadcast(epochs))
    batch = (
        hash60(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
        )
        % 16
    )
    return j.groupBy("epoch", batch.alias("batch_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "pipeline_stage_counts",
    oracle=f"""
        WITH stats AS (
            SELECT doc_id, text,
                   len(string_split_regex(text, '\\s+')) AS n_tokens,
                   len(list_distinct(string_split_regex(text, '\\s+')))::DOUBLE
                       / len(string_split_regex(text, '\\s+')) AS uniq_ratio
            FROM documents
            WHERE len(string_split_regex(text, '\\s+')) > 0
        ),
        quality AS (
            SELECT doc_id FROM stats
            WHERE n_tokens >= 5 AND uniq_ratio >= 0.3
        ),
        exact_kept AS (
            SELECT doc_id
            FROM (SELECT doc_id,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                  FROM documents)
            WHERE doc_id = keeper
        ),
        {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id,
                       ('0x' || substring(md5(s), 1, 15))::BIGINT AS s
                FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        near_dup_losers AS (
            SELECT DISTINCT d2
            FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        )
        SELECT (SELECT count(*) FROM documents)       AS n_total,
               (SELECT count(*) FROM quality)          AS n_quality,
               (SELECT count(*) FROM exact_kept)       AS n_exact_kept,
               (SELECT count(*) FROM near_dup_losers)  AS n_near_dup_losers,
               (SELECT count(*) FROM quality q
                JOIN exact_kept e ON e.doc_id = q.doc_id
                WHERE q.doc_id NOT IN (SELECT d2 FROM near_dup_losers))
                   AS n_final
        """,
    category="text",
    doc="Pipeline observability: the per-stage funnel of "
    "pipeline_training_corpus — total docs, quality-gate survivors, "
    "exact-dedup keepers, near-dup losers, and the final corpus — in "
    "one row.  The report every production corpus build publishes "
    "next to its output so a sudden gate-rate shift is visible before "
    "training does something expensive with a broken corpus.  Each "
    "count is an aggregate over a stage the pipeline already "
    "computes; Catalyst shares the scans.",
)
def pipeline_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("words")
    )
    n_tokens = F.size("words")
    uniq_ratio = F.size(F.array_distinct("words")).cast("double") / n_tokens
    # r14 (guide §2.4, the r13 duplicated-evaluation class): each stage
    # feeds BOTH its own funnel count and the final-corpus leg, so
    # without truncation every expensive chain ran twice — the quality
    # tokenization (scan Filter carried the split chain per count leg)
    # and, worst, the whole quadratic ngram-jaccard loser pipeline.
    # The truncated intermediates are doc-scale single columns; plan
    # md5/split node count drops ~4x (plans/r14/pipeline_stage_counts_*).
    quality = (
        docs.filter(n_tokens > 0)
        .filter((n_tokens >= 5) & (uniq_ratio >= 0.3))
        .select("doc_id")
        .transform(truncate_lazy)
    )
    exact_kept = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_id"))
        .select(F.col("kept_id").alias("doc_id"))
        .transform(truncate_lazy)
    )
    losers = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .transform(truncate_lazy)
    )
    final = (
        quality.join(exact_kept, "doc_id", "left_semi")
        .join(losers, "doc_id", "left_anti")
    )
    return (
        t(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(quality.agg(F.count(F.lit(1)).alias("n_quality")))
        .crossJoin(exact_kept.agg(F.count(F.lit(1)).alias("n_exact_kept")))
        .crossJoin(losers.agg(F.count(F.lit(1)).alias("n_near_dup_losers")))
        .crossJoin(final.agg(F.count(F.lit(1)).alias("n_final")))
    )


@register(
    "corpus_temperature_mixture",
    oracle="""
        WITH counts AS (
            SELECT source, count(*) AS n_docs
            FROM documents GROUP BY source
        ),
        weighted AS (
            SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w
            FROM counts
        )
        SELECT source, n_docs,
               CAST(round(1000000.0 * w / (SELECT sum(w) FROM weighted))
                    AS BIGINT) AS share_ppm
        FROM weighted
        """,
    category="text",
    doc="Temperature-scaled mixture weights (T = 2): each source's "
    "sampling share is proportional to n_docs^(1/T) = sqrt(n_docs) — "
    "the standard rebalancing that keeps low-resource sources from "
    "vanishing in a multilingual/multi-source pre-training mix "
    "(Conneau & Lample 2019).  Shares reported in exact ppm (one "
    "correctly-rounded sqrt per source, one division; the denominator "
    "is a sum over |sources| doubles, orders of magnitude below the "
    "ppm rounding grain).  The source rollup is the only shuffle; "
    "downstream, corpus_mixture_quota turns shares into per-source "
    "row quotas.",
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("w", F.sqrt(F.col("n_docs").cast("double")))
    )
    denom = counts.agg(F.sum("w").alias("sw"))
    return (
        counts.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            F.round(F.lit(1_000_000.0) * F.col("w") / F.col("sw"))
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


@register(
    "corpus_webdataset_manifest",
    oracle="""
        WITH cum AS (
            SELECT doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_bytes
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, n_chars,
                   CAST((cum_bytes - n_chars) // 100000 AS BIGINT) AS shard_id,
                   md5(text) AS digest
            FROM cum JOIN documents USING (doc_id, n_chars)
        )
        SELECT shard_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc,
               md5(string_agg(digest, '' ORDER BY doc_id)) AS shard_checksum
        FROM sharded
        GROUP BY shard_id
        """,
    category="text",
    doc="Training-shard manifest — the WebDataset/tar-shard index a data "
    "loader actually consumes: per shard (the corpus_shard_bybytes "
    "100 kB byte-budget assignment), doc count, byte size, id range, "
    "and a deterministic shard checksum = md5 over the member digests "
    "concatenated in doc_id order (ordered string_agg / collect+sort "
    "— verifiable end-to-end integrity for every shard, the thing you "
    "diff after a re-shard or a transfer).  Same two-phase prefix sum "
    "as the sharder; the checksum concatenates 32-byte digests, never "
    "document bodies.",
)
def corpus_webdataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.col("text").cast("binary")).alias("digest")
    )
    bucket = (F.col("doc_id") / 500).cast("bigint").alias("bkt")
    d = docs.select("doc_id", "n_chars", "digest", bucket)
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("n_chars").alias("bkt_bytes"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_bytes").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    intra = W.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    sharded = (
        d.join(F.broadcast(offsets), "bkt")
        .withColumn("cum_bytes", F.col("offset") + F.sum("n_chars").over(intra))
        .withColumn(
            "shard_id",
            F.expr("(cum_bytes - n_chars) div 100000").cast("bigint"),
        )
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.md5(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "digest"))
                ).getField("digest"),
            ).cast("binary")
        ).alias("shard_checksum"),
    )


@register(
    "pipeline_incremental_update",
    oracle="""
        WITH old AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END
                       AS text
            FROM documents WHERE doc_id % 13 <> 0
        ),
        new AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        diff AS (
            SELECT new.doc_id, new.text,
                   CASE WHEN old.doc_id IS NULL THEN 'added'
                        WHEN md5(old.text) <> md5(new.text) THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM new LEFT JOIN old ON old.doc_id = new.doc_id
        ),
        to_process AS (
            SELECT doc_id, text FROM diff WHERE status <> 'unchanged'
        ),
        quality AS (
            SELECT doc_id, text
            FROM (SELECT doc_id, text,
                         string_split_regex(text, '\\s+') AS w
                  FROM to_process)
            WHERE len(w) >= 5
              AND len(list_distinct(w))::DOUBLE / len(w) >= 0.3
        ),
        index_side AS (
            SELECT DISTINCT md5(text) AS fp FROM diff WHERE status = 'unchanged'
        ),
        keeper AS (
            SELECT md5(text) AS fp, min(doc_id) AS k
            FROM quality GROUP BY md5(text)
        ),
        triage AS (
            SELECT q.doc_id,
                   CASE WHEN i.fp IS NOT NULL THEN 'dup_of_index'
                        WHEN q.doc_id <> kp.k THEN 'dup_in_batch'
                        ELSE 'unique_new' END AS verdict
            FROM quality q
            LEFT JOIN index_side i ON i.fp = md5(q.text)
            JOIN keeper kp ON kp.fp = md5(q.text)
        )
        SELECT stage, CAST(n AS BIGINT) AS n_docs
        FROM (
            SELECT 'to_process' AS stage, count(*) AS n FROM to_process
            UNION ALL
            SELECT 'quality_pass', count(*) FROM quality
            UNION ALL
            SELECT 'dup_of_index',
                   count(*) FILTER (verdict = 'dup_of_index') FROM triage
            UNION ALL
            SELECT 'dup_in_batch',
                   count(*) FILTER (verdict = 'dup_in_batch') FROM triage
            UNION ALL
            SELECT 'unique_new',
                   count(*) FILTER (verdict = 'unique_new') FROM triage
        )
        """,
    category="text",
    doc="The DAILY RUN of the corpus pipeline — the incremental "
    "composite that chains corpus_diff_incremental and "
    "dedup_incremental_index end to end: snapshot diff by digest "
    "selects only added+changed documents (unchanged rows cost one "
    "digest compare and are never reprocessed), the quality gate runs "
    "on that slice alone, and dedup triages survivors against the "
    "unchanged corpus represented ONLY by its digest index.  The "
    "per-stage funnel (to_process → quality_pass → dup_of_index / "
    "dup_in_batch / unique_new) is the run report an orchestrator "
    "logs.  Work scales with the day's churn, not the corpus — THE "
    "property that makes a 100 TB corpus maintainable; fixture churn "
    "is the deterministic 13/10/7-cycle snapshot pair.",
)
def pipeline_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text")))
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("old_fp"),
    )
    new = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    diff = new.join(old, "doc_id", "left").withColumn(
        "status",
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("old_fp") != F.col("fp"), "changed")
        .otherwise("unchanged"),
    )
    to_process = diff.filter(F.col("status") != "unchanged").select(
        "doc_id", "text", "fp"
    )
    w = F.split("text", r"\s+")
    # r14 (guide §2.4): ``quality`` feeds THREE consumers (its funnel
    # count, the keeper aggregate, and the triage join) and ``triage``
    # feeds three verdict counts — without truncation each leg re-ran
    # the fingerprint join + tokenization chain from the scan (plan
    # carried 34 md5 nodes).  Both intermediates are narrow doc-scale
    # (doc_id, fp[, verdict]); text never materializes.
    quality = to_process.withColumn("w", w).filter(
        (F.size("w") >= 5)
        & (F.size(F.array_distinct("w")).cast("double") / F.size("w") >= 0.3)
    ).select("doc_id", "fp").transform(truncate_lazy)
    index_side = (
        diff.filter(F.col("status") == "unchanged")
        .select("fp")
        .distinct()
        .withColumn("in_index", F.lit(1))
    )
    keeper = quality.groupBy("fp").agg(F.min("doc_id").alias("k"))
    triage = (
        quality.join(index_side, "fp", "left")
        .join(keeper, "fp")
        .withColumn(
            "verdict",
            F.when(F.col("in_index").isNotNull(), "dup_of_index")
            .when(F.col("doc_id") != F.col("k"), "dup_in_batch")
            .otherwise("unique_new"),
        )
        .transform(truncate_lazy)
    )

    def stage(name, df):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage("to_process", to_process)
        .unionAll(stage("quality_pass", quality))
        .unionAll(stage("dup_of_index", triage.filter(F.col("verdict") == "dup_of_index")))
        .unionAll(stage("dup_in_batch", triage.filter(F.col("verdict") == "dup_in_batch")))
        .unionAll(stage("unique_new", triage.filter(F.col("verdict") == "unique_new")))
    )


@register(
    "corpus_quality_stratified_sample",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')) AS n_tokens,
                   len(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                                 x -> x <> '')))::DOUBLE
                       / nullif(len(list_filter(string_split_regex(text, '\\s+'),
                                                x -> x <> '')), 0) AS uniq
            FROM documents
        ),
        banded AS (
            SELECT doc_id,
                   CASE WHEN n_tokens >= 40 AND uniq >= 0.6 THEN 'high'
                        WHEN n_tokens >= 10 AND uniq >= 0.4 THEN 'mid'
                        ELSE 'low' END AS band,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 1000 AS bucket
            FROM scored
        )
        SELECT band,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN (band = 'high')
                          OR (band = 'mid' AND bucket < 500)
                          OR (band = 'low' AND bucket < 100)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               min(CASE WHEN (band = 'high')
                          OR (band = 'mid' AND bucket < 500)
                          OR (band = 'low' AND bucket < 100)
                        THEN doc_id END) AS first_kept
        FROM banded
        GROUP BY band
        """,
    category="text",
    doc="Quality-weighted corpus sampling — the curriculum step between "
    "scoring and training: documents band into high/mid/low quality "
    "(token count x uniqueness thresholds) and sample at 100%/50%/10% "
    "via the deterministic md5 hash-bucket rule "
    "(sample_stratified_hash's engine-independent keep set — "
    "reproducible, incremental, partition-independent).  Upsampling "
    "quality instead of filtering hard keeps distributional coverage "
    "while shifting mass — the knob quality-curriculum recipes tune.  "
    "Scan-side scoring and bucketing; the only shuffle is the band "
    "rollup.",
)
def corpus_quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    n_tokens = F.size(toks)
    uniq = F.size(F.array_distinct(toks)).cast("double") / F.nullif(
        n_tokens, F.lit(0)
    )
    band = (
        F.when((n_tokens >= 40) & (uniq >= 0.6), "high")
        .when((n_tokens >= 10) & (uniq >= 0.4), "mid")
        .otherwise("low")
    )
    bucket = hash60(F.col("doc_id").cast("string")) % 1000
    keep = (
        (F.col("band") == "high")
        | ((F.col("band") == "mid") & (F.col("bucket") < 500))
        | ((F.col("band") == "low") & (F.col("bucket") < 100))
    )
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", band.alias("band"), bucket.alias("bucket"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.min(F.when(keep, F.col("doc_id"))).alias("first_kept"),
        )
    )


@register(
    "corpus_run_ledger",
    oracle="""
        WITH stats AS (
            SELECT doc_id, n_chars, md5(text) AS fp,
                   len(list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')) AS n_tokens,
                   len(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                                 x -> x <> '')))::DOUBLE
                       / nullif(len(list_filter(string_split_regex(text, '\\s+'),
                                                x -> x <> '')), 0) AS uniq
            FROM documents
        ),
        cum AS (
            SELECT n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_bytes
            FROM documents
        )
        SELECT metric, CAST(value AS BIGINT) AS value
        FROM (
            SELECT 'n_docs' AS metric, count(*) AS value FROM stats
            UNION ALL
            SELECT 'total_bytes', sum(n_chars) FROM stats
            UNION ALL
            SELECT 'total_tokens', sum(n_tokens) FROM stats
            UNION ALL
            SELECT 'n_quality_pass',
                   sum(CASE WHEN n_tokens >= 5 AND uniq >= 0.3
                            THEN 1 ELSE 0 END) FROM stats
            UNION ALL
            SELECT 'n_unique_content', count(DISTINCT fp) FROM stats
            UNION ALL
            SELECT 'n_shards',
                   count(DISTINCT (cum_bytes - n_chars) // 100000) FROM cum
        )
        """,
    category="text",
    doc="The corpus RUN LEDGER — the one-table summary an orchestrator "
    "publishes after a pipeline run and dashboards diff between runs: "
    "document/byte/token totals, quality-gate survivors, distinct-"
    "content count (exact-dedup ceiling), and the shard count the "
    "byte-budget sharder will emit.  Every number is a cheap aggregate "
    "over artifacts the pipeline already computes (digests, token "
    "stats, the two-phase byte prefix sum); publishing them together "
    "is what makes run-over-run regressions (ingest drop, dedup-rate "
    "spike, shard-count jump) visible before training consumes the "
    "data.",
)
def corpus_run_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    n_tokens = F.size(toks)
    uniq = F.size(F.array_distinct(toks)).cast("double") / F.nullif(
        n_tokens, F.lit(0)
    )
    stats = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        n_tokens.alias("n_tokens"),
        uniq.alias("uniq"),
    )
    base = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_bytes"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.when((F.col("n_tokens") >= 5) & (F.col("uniq") >= 0.3), 1).otherwise(0)
        ).alias("n_quality_pass"),
        F.countDistinct("fp").alias("n_unique_content"),
    )
    # shard count via the two-phase prefix sum (corpus_shard_bybytes)
    bucket = (F.col("doc_id") / 500).cast("bigint").alias("bkt")
    d = docs.select("doc_id", "n_chars", bucket)
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("n_chars").alias("bkt_bytes"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_bytes").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    intra = W.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    shards = (
        d.join(F.broadcast(offsets), "bkt")
        .withColumn("cum_bytes", F.col("offset") + F.sum("n_chars").over(intra))
        .select(F.expr("(cum_bytes - n_chars) div 100000").alias("shard_id"))
        .agg(F.countDistinct("shard_id").alias("n_shards"))
    )
    row = base.crossJoin(F.broadcast(shards))
    metrics = [
        "n_docs",
        "total_bytes",
        "total_tokens",
        "n_quality_pass",
        "n_unique_content",
        "n_shards",
    ]
    out = None
    for m in metrics:
        r = row.select(F.lit(m).alias("metric"), F.col(m).cast("bigint").alias("value"))
        out = r if out is None else out.unionAll(r)
    return out


@register(
    "corpus_select_token_budget",
    oracle="""
        WITH stats AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'),
                                   w -> w <> '')) AS ntok,
                   len(list_distinct(list_filter(
                       string_split_regex(text, '\\s+'),
                       w -> w <> ''))) AS q
            FROM documents
        ),
        cum AS (
            SELECT doc_id, ntok, q,
                   COALESCE(sum(ntok) OVER (
                       ORDER BY q DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_excl
            FROM stats
        )
        SELECT count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               CAST(min(q) AS BIGINT) AS min_quality,
               CAST(max(cum_excl + ntok) AS BIGINT) AS tokens_consumed
        FROM cum WHERE cum_excl < 50000
        """,
    category="text",
    doc="Data selection under a token budget: rank documents by a "
    "quality score (distinct-token count, the vocabulary-richness "
    "proxy), admit in rank order until the 50k-token training budget "
    "is consumed — the selection step behind quality-pruned training "
    "mixes, where you keep the best N tokens, not the best N docs.  "
    "The running token total over the quality order is the classic "
    "single-partition-window trap, so it is a two-phase prefix sum "
    "like corpus_shard_bybytes but over an ARBITRARY sort order: "
    "coarse buckets = negated quality-score octiles (monotone with "
    "the quality order), per-bucket subtotals get exclusive offsets "
    "on the tiny bucket table, intra-bucket running sums recompose "
    "the exact global prefix under any partitioning.  Exact integer "
    "token counts end to end.",
)
def corpus_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("ntok"),
        F.size(F.array_distinct(toks)).alias("q"),
    )
    # Coarse bucket monotone with (q DESC): negated octile of the score.
    d = stats.withColumn("bkt", F.expr("-(q div 8)"))
    offsets = (
        d.groupBy("bkt")
        .agg(F.sum("ntok").alias("bkt_toks"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_toks").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    intra = W.partitionBy("bkt").orderBy(
        F.col("q").desc(), F.col("doc_id")
    ).rowsBetween(W.unboundedPreceding, 0)
    cum = (
        d.join(F.broadcast(offsets), "bkt")
        .withColumn("cum_incl", F.col("offset") + F.sum("ntok").over(intra))
        .withColumn("cum_excl", F.col("cum_incl") - F.col("ntok"))
    )
    return cum.filter(F.col("cum_excl") < 50000).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.min("q").cast("bigint").alias("min_quality"),
        F.max("cum_incl").cast("bigint").alias("tokens_consumed"),
    )


@register(
    "rag_chunk_index_retrieve",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        sized AS (
            SELECT doc_id, w,
                   CASE WHEN len(w) <= 32 THEN 1
                        ELSE (len(w) - 32 + 23) // 24 + 1 END AS nc
            FROM toks WHERE len(w) >= 1
        ),
        chunks AS (
            SELECT doc_id, i AS chunk_idx,
                   array_to_string(w[i*24 + 1 : i*24 + 32], ' ') AS ctext
            FROM (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS i
                  FROM sized)
        ),
        emb AS (
            SELECT doc_id, chunk_idx,
                   list_transform(generate_series(1, 16),
                       d -> ('0x' || substring(md5('emb:' || CAST(d AS VARCHAR)
                                 || ':' || ctext), 1, 15))::BIGINT
                            % 2001 - 1000) AS e
            FROM chunks
        ),
        cent AS (
            SELECT doc_id AS c, e AS ce FROM emb
            WHERE doc_id < 4 AND chunk_idx = 0
        ),
        assign AS (
            SELECT doc_id, chunk_idx, c AS lst
            FROM (SELECT x.doc_id, x.chunk_idx, cent.c,
                         row_number() OVER (
                             PARTITION BY x.doc_id, x.chunk_idx
                             ORDER BY list_sum(list_transform(
                                 generate_series(1, 16),
                                 d -> (x.e[d] - cent.ce[d])
                                    * (x.e[d] - cent.ce[d]))), cent.c) AS rn
                  FROM emb x, cent)
            WHERE rn = 1
        ),
        q AS (SELECT e AS qe FROM emb WHERE doc_id = 7 AND chunk_idx = 0),
        probes AS (
            SELECT c FROM (
                SELECT cent.c,
                       row_number() OVER (ORDER BY
                           list_sum(list_transform(generate_series(1, 16),
                               d -> (q.qe[d] - cent.ce[d])
                                  * (q.qe[d] - cent.ce[d]))), cent.c) AS rn
                FROM cent, q)
            WHERE rn <= 2
        )
        SELECT CAST(rk AS BIGINT) AS rank, doc_id, chunk_idx,
               CAST(dist AS BIGINT) AS dist
        FROM (SELECT x.doc_id, x.chunk_idx,
                     list_sum(list_transform(generate_series(1, 16),
                         d -> (x.e[d] - q.qe[d]) * (x.e[d] - q.qe[d]))) AS dist,
                     row_number() OVER (ORDER BY
                         list_sum(list_transform(generate_series(1, 16),
                             d -> (x.e[d] - q.qe[d]) * (x.e[d] - q.qe[d]))),
                         x.doc_id, x.chunk_idx) AS rk
              FROM emb x
              JOIN assign a ON a.doc_id = x.doc_id
                           AND a.chunk_idx = x.chunk_idx
              CROSS JOIN q
              WHERE a.lst IN (SELECT c FROM probes)
                AND NOT (x.doc_id = 7 AND x.chunk_idx = 0))
        WHERE rk <= 5
        """,
    category="text",
    doc="RAG ingestion END TO END in one declarative plan: documents → "
    "32-token chunks (stride 24, the text_chunk_overlap arithmetic) → "
    "deterministic hash-projection embeddings (16 dims of salted-md5 "
    "integers — the stub for a model encoder, same role as the "
    "multimodal decode stub: the Spark-side plumbing is real, the "
    "model is swappable) → 4-centroid IVF assignment → nprobe=2 "
    "retrieval of the top-5 chunks for a query chunk.  Everything is "
    "exact integer arithmetic, so the full chunk→embed→index→retrieve "
    "chain hash-matches the oracle.  The corpus side is ONE linear "
    "pass (chunk + embed + assign are scan-side against 4 broadcast "
    "centroids); only centroid seeds and the query are bounded picks.  "
    "At 100 TB: swap the hash embed for an Arrow-batched encoder "
    "(vector_quantize_int8's kernel shape), keep the plan.",
)
def rag_chunk_index_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    ).filter(F.size("w") >= 1)
    nc = F.when(F.size("w") <= 32, F.lit(1)).otherwise(
        F.expr("(size(w) - 32 + 23) div 24 + 1")
    )
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("chunk_idx"),
        "w",
    ).select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.expr("slice(w, chunk_idx * 24 + 1, 32)")
        ).alias("ctext"),
    )
    emb = chunks.select(
        "doc_id",
        "chunk_idx",
        F.array(
            *[
                (
                    hash60(
                        F.concat(
                            F.lit(f"emb:{d}:"), F.col("ctext")
                        )
                    )
                    % 2001
                    - 1000
                )
                for d in range(1, 17)
            ]
        ).alias("e"),
    ).transform(truncate_eager)

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    cent = F.broadcast(
        emb.filter((F.col("doc_id") < 4) & (F.col("chunk_idx") == 0)).select(
            F.col("doc_id").alias("c"), F.col("e").alias("ce")
        )
    )
    # nearest centroid per chunk: min (dist, c) struct — one aggregate,
    # no per-chunk window.
    assign = (
        emb.crossJoin(cent)
        .select(
            "doc_id",
            "chunk_idx",
            F.struct(l2(F.col("e"), F.col("ce")).alias("d"), F.col("c")).alias(
                "dc"
            ),
        )
        .groupBy("doc_id", "chunk_idx")
        .agg(F.min("dc").alias("dc"))
        .select("doc_id", "chunk_idx", F.col("dc.c").alias("lst"))
    )
    q = F.broadcast(
        emb.filter((F.col("doc_id") == 7) & (F.col("chunk_idx") == 0)).select(
            F.col("e").alias("qe")
        )
    )
    probes = F.broadcast(
        cent.crossJoin(q)
        .select("c", l2(F.col("ce"), F.col("qe")).alias("d"))
        .orderBy("d", "c")
        .limit(2)
        .select(F.col("c").alias("plst"))
    )
    cand = (
        emb.join(assign, ["doc_id", "chunk_idx"])
        .join(probes, F.col("lst") == F.col("plst"))
        .filter(~((F.col("doc_id") == 7) & (F.col("chunk_idx") == 0)))
        .crossJoin(q)
        .select("doc_id", "chunk_idx", l2(F.col("e"), F.col("qe")).alias("dist"))
    )
    top = cand.orderBy("dist", "doc_id", "chunk_idx").limit(5)
    w = W.orderBy("dist", "doc_id", "chunk_idx")  # 5 rows — safe
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "rank", "doc_id", "chunk_idx", F.col("dist").cast("bigint").alias("dist")
    )


@register(
    "corpus_split_leakage_matrix",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (
            SELECT DISTINCT
                   CASE WHEN hdoc < 90 THEN 'train'
                        WHEN hdoc < 97 THEN 'val'
                        ELSE 'test' END AS split,
                   doc_id, hs AS sh
            FROM (SELECT doc_id,
                         {_ORACLE_H60.format(x="s")} AS hs,
                         {_ORACLE_H60.format(x="CAST(doc_id AS VARCHAR)")} % 100
                             AS hdoc
                  FROM sh)
        ),
        ss AS (SELECT DISTINCT split, sh FROM shh),
        shared AS (
            SELECT a.split AS split_a, b.split AS split_b,
                   count(*) AS shared_shingles
            FROM ss a JOIN ss b ON a.sh = b.sh AND a.split <> b.split
            GROUP BY 1, 2
        ),
        leaked AS (
            SELECT a.split AS split_a, d.split AS split_b,
                   count(DISTINCT d.doc_id) AS leaked_docs
            FROM shh d JOIN ss a ON a.sh = d.sh AND a.split <> d.split
            GROUP BY 1, 2
        )
        SELECT s.split_a, s.split_b,
               CAST(s.shared_shingles AS BIGINT) AS shared_shingles,
               CAST(coalesce(l.leaked_docs, 0) AS BIGINT) AS leaked_docs
        FROM shared s LEFT JOIN leaked l USING (split_a, split_b)
        """,
    category="text",
    doc="Cross-split contamination matrix over the deterministic "
    "train/val/test assignment (corpus_train_test_split's md5 split): "
    "for every ordered split pair (a, b), the number of 3-gram shingle "
    "hashes present in BOTH splits and the number of split-b documents "
    "carrying at least one shingle that also occurs in split a — the "
    "leakage report an eval-integrity audit runs BEFORE training, "
    "complementing dedup_decontaminate (which removes leaked docs "
    "against a fixed eval set; this MEASURES leakage between the "
    "pipeline's own splits).  Scale shape: shingle strings die at the "
    "hash step (rule 5); the (split, hash) presence table is "
    "shingle-TYPE-scale and self-joins on the 8-byte hash key — at "
    "most 3 split rows per hash, so the join output is linear in "
    "types; leaked-doc counting joins doc-level hashes to the same "
    "presence table, one keyed shuffle, count-distinct per pair.  No "
    "broadcast hints: every table here scales with the corpus.",
)
def corpus_split_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(h < 90, F.lit("train"))
        .when(h < 97, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # ``sh`` is consumed four ways (ss→a, ss→b, ss→a2, and the
    # doc-level leak join), so it is truncated: one computation shared
    # instead of the scan→shingle→md5 chain run once per consumer.  The
    # truncated table is the only reader of the hashed shingle set,
    # which is therefore not cached.  Both truncated tables are narrow
    # (3 / 2 columns, shingle-scale — linear in corpus tokens).
    sh = (
        _hashed_shingles(spark, sf_dir)
        .select("doc_id", F.col("s").alias("sh"))
        .withColumn("split", split)
        .distinct()
        .transform(truncate_lazy)
    )
    ss = sh.select("split", "sh").distinct().transform(truncate_lazy)
    a, b = ss.alias("a"), ss.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.split") != F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    leaked = (
        sh.alias("d")
        .join(
            ss.alias("a2"),
            (F.col("a2.sh") == F.col("d.sh"))
            & (F.col("a2.split") != F.col("d.split")),
        )
        .groupBy(
            F.col("a2.split").alias("split_a"),
            F.col("d.split").alias("split_b"),
        )
        .agg(F.countDistinct(F.col("d.doc_id")).alias("leaked_docs"))
    )
    return shared.join(leaked, ["split_a", "split_b"], "left").select(
        "split_a",
        "split_b",
        "shared_shingles",
        F.coalesce("leaked_docs", F.lit(0)).cast("bigint").alias("leaked_docs"),
    )


@register(
    "corpus_dsir_weights",
    oracle="""
        WITH words AS (
            SELECT doc_id, lang,
                   unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ),
        toks AS (
            SELECT doc_id, lang,
                   ('0x' || substring(md5(word), 1, 15))::BIGINT % 64 AS bkt
            FROM words WHERE word <> ''
        ),
        bs AS (
            SELECT bkt,
                   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt,
                   sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS r_cnt
            FROM toks GROUP BY bkt
        ),
        tot AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM bs),
        lr AS (
            SELECT bkt,
                   ln((t_cnt + 1.0) / (t_tot + 64.0))
                       - ln((r_cnt + 1.0) / (r_tot + 64.0)) AS lw
            FROM bs, tot
        ),
        db AS (
            SELECT doc_id, lang, bkt, count(*) AS n
            FROM toks WHERE lang <> 'en'
            GROUP BY doc_id, lang, bkt
        )
        SELECT d.doc_id, d.lang,
               CAST(sum(d.n) AS BIGINT) AS n_tokens,
               sum(d.n * lr.lw) AS dsir_logweight
        FROM db d JOIN lr ON d.bkt = lr.bkt
        GROUP BY d.doc_id, d.lang
        """,
    category="text",
    doc="DSIR data-selection importance weights (Xie et al. 2023, "
    "'Data Selection for Language Models via Importance Resampling'): "
    "score every candidate (non-en) document by the log-likelihood "
    "ratio of its hashed-unigram features under the target (en) vs "
    "raw bag-of-buckets models, add-1 smoothed over B=64 buckets — "
    "the published recipe for choosing pre-training data that looks "
    "like a target domain.  Derandomized the repo's standard way: the "
    "feature hash is md5(word) % 64 (sample_stratified_hash's trick), "
    "identical in both engines.  Scale shape: ONE token explode feeds "
    "both models via conditional aggregation; the per-bucket model is "
    "a fixed-64-row aggregate (grouped by `bkt`, the rule-13 bounded "
    "bucket rollup) cross-joined with its 1-row totals and broadcast, "
    "so the per-doc scoring join is map-side — the corpus shuffles "
    "only (doc_id, bkt) partial counts, never the vocabulary, and "
    "Heaps' law never touches the driver.  Resampling from these "
    "weights is sample_weighted_priority's job.",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("word"),
    ).filter(F.col("word") != "")
    toks = words.select(
        "doc_id",
        "lang",
        (hash60(F.col("word")) % 64).alias("bkt"),
    )
    bs = toks.groupBy("bkt").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("r_cnt"),
    )
    tot = bs.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    lr = bs.crossJoin(tot).select(
        "bkt",
        (
            F.log((F.col("t_cnt") + 1.0) / (F.col("t_tot") + 64.0))
            - F.log((F.col("r_cnt") + 1.0) / (F.col("r_tot") + 64.0))
        ).alias("lw"),
    )
    db = (
        toks.filter(F.col("lang") != "en")
        .groupBy("doc_id", "lang", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        db.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lw")).alias("dsir_logweight"),
        )
    )


@register(
    "corpus_url_parse_stats",
    oracle="""
        SELECT source || '.example.com' AS host,
               count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               CAST(sum(CASE WHEN length(regexp_replace(
                                 w[1], '[^a-zA-Z0-9]', '', 'g')) >= 4
                        THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_qlong,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM (SELECT source, lang, n_chars,
                     string_split_regex(text, '\\s+') AS w
              FROM documents)
        GROUP BY source
        """,
    category="text",
    doc="Web-corpus URL surface: build a canonical URL per document "
    "(https://{source}.example.com/{lang}/doc{id}?q={first_token}&p=N) "
    "and make Spark's parse_url() recover HOST, PATH and the q QUERY "
    "parameter, then aggregate crawl stats per host (doc count, "
    "distinct path languages, long-query share, bytes).  The oracle "
    "reconstructs every component directly from the base columns, so "
    "the query certifies parse_url's component extraction end-to-end "
    "— the curation primitive behind domain-level filtering, "
    "per-host dedup, and robots/blocklist joins in a crawl pipeline.  "
    "Scale shape: URL construction and parsing are pure projections "
    "in codegen (one scan, no Python, no UDF); the per-host rollup is "
    "a two-phase aggregate on a low-cardinality key; the distinct-"
    "langs count is the standard expand-then-partial distinct "
    "aggregate, never a driver-side set.",
)
def corpus_url_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        # sanitize the free-text token before embedding: a token with
        # URL metacharacters ('&', '#', '=') or non-URI bytes would make
        # parse_url's components diverge from the oracle's raw-column
        # arithmetic (code-review catch) — a real crawler percent-encodes
        # here; the alnum projection keeps the oracle exact
        F.regexp_replace(
            F.element_at(F.split("text", r"\s+"), 1), "[^a-zA-Z0-9]", ""
        ),
        F.lit("&p="),
        (F.col("doc_id") % 7).cast("string"),
    )
    parsed = d.select(
        "n_chars",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q"),
    ).select(
        "n_chars",
        "host",
        "q",
        F.element_at(F.split("path", "/"), 2).alias("path_lang"),
    )
    return parsed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("path_lang").alias("n_langs"),
        F.sum(F.when(F.length("q") >= 4, 1).otherwise(0)).alias("n_qlong"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "corpus_dsir_resample",
    oracle=None,  # assembled below from corpus_dsir_weights' oracle
    category="text",
    doc="The complete DSIR recipe (Xie et al. 2023) in one plan: hashed "
    "n-gram importance weights (corpus_dsir_weights) fed into Gumbel "
    "top-k resampling — adding an independent Gumbel draw g = "
    "-ln(-ln(u)) to each log-weight and keeping the k largest keys is "
    "EXACTLY sampling k docs without replacement with probability "
    "proportional to exp(log-weight), the paper's resampling step.  "
    "The Gumbel draw is derandomized from md5(doc_id) (the repo's "
    "standard trick), so the selected set is engine- and rerun-"
    "invariant and the oracle replays the identical draw.  Scale "
    "shape: the weight computation keeps its broadcast 64-bucket "
    "model; the global top-k compiles to TakeOrderedAndProject "
    "(map-side partial top-k, k rows per partition to the driver-side "
    "merge) — no global sort, no single-partition exchange.",
)
def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = corpus_dsir_weights(spark, sf_dir)
    h = hash60(F.col("doc_id").cast("string")) % 1000003
    u = (h + 1) / F.lit(1000004.0)
    key = F.col("dsir_logweight") - F.log(-F.log(u))
    return (
        w.select("doc_id", "lang", key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(40)
        .select("doc_id", "lang")
    )


QUERIES["corpus_dsir_resample"].oracle = """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   dsir_logweight
                       - ln(-ln((('0x' || substring(
                                      md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                 )::BIGINT % 1000003 + 1) / 1000004.0))
                       AS k
            FROM ({weights}) w
            ORDER BY k DESC, doc_id ASC
            LIMIT 40
        ) q
""".format(weights=QUERIES["corpus_dsir_weights"].oracle)


@register(
    "dedup_url_canonicalize",
    oracle="""
        SELECT source || '.example.com' AS host,
               count(*) AS n_urls,
               count(DISTINCT
                   'https://' || source || '.example.com/' || lang
                   || '/doc' || CAST(doc_id - doc_id % 2 AS VARCHAR)
                   || CASE WHEN doc_id % 6 = 0 THEN '?ref=keep' ELSE '' END
               ) AS n_canon
        FROM documents
        GROUP BY source
        """,
    category="dedup",
    doc="URL canonicalization dedup, the crawl-frontier staple: raw "
    "URLs carry case-noise in the host, an explicit :443 port, "
    "trailing slashes, utm_* tracking parameters and fragments — all "
    "spelling variants of the same resource — while every second "
    "document shares a landing path with its neighbor.  The query "
    "BUILDS the noisy URL deterministically from base columns, then "
    "canonicalizes using only the URL string (lowercase host via "
    "parse_url HOST which drops the port, strip the trailing path "
    "slash, strip utm_* but KEEP ref=, drop the fragment — parse_url "
    "QUERY already excludes it) and counts raw-vs-canonical distinct "
    "URLs per host.  The oracle reconstructs each URL's canonical "
    "form directly from the base columns, so the string surgery is "
    "certified against ground truth, not against itself.  Scale "
    "shape: all projection-stage codegen; the per-host distinct "
    "count is the standard two-phase expand-distinct aggregate — the "
    "canonical-URL dedup of a 100 TB frontier shuffles canonical-URL "
    "hashes, and this query is the certified canonicalizer in front "
    "of it.",
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    host_noisy = F.when(
        F.col("doc_id") % 2 == 1,
        F.upper(F.concat(F.col("source"), F.lit(".example.com"))),
    ).otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    port = F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    params = F.concat_ws(
        "&",
        F.when(F.col("doc_id") % 4 == 0, F.lit("utm_source=feed")),
        F.when(F.col("doc_id") % 6 == 0, F.lit("ref=keep")),
    )
    frag = F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"),
        host_noisy,
        port,
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc"),
        (F.col("doc_id") - F.col("doc_id") % 2).cast("string"),
        slash,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
        frag,
    )
    raw = d.select(url.alias("url"))
    qs = F.coalesce(F.parse_url(F.col("url"), F.lit("QUERY")), F.lit(""))
    qs_clean = F.regexp_replace(
        F.regexp_replace(qs, r"(^|&)utm_[^&]*", ""), r"^&", ""
    )
    canon = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))),
        F.regexp_replace(F.parse_url(F.col("url"), F.lit("PATH")), r"/$", ""),
        F.when(qs_clean != "", F.concat(F.lit("?"), qs_clean)).otherwise(
            F.lit("")
        ),
    )
    return (
        raw.select(
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
            canon.alias("canon"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canon").alias("n_canon"),
        )
    )
