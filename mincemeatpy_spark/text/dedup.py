"""Deduplication operators — the core of a training-data pipeline.

Five dedup families over ``documents`` (+ one over ``embeddings``), each
a named, oracle-checked operator.  The deterministic hash primitive
shared by MinHash and SimHash is a 60-bit integer from the md5 hex
prefix (``operators._util.hash60``) — bit-identical in Spark
(``conv(substring(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substring(md5(x),1,15))::BIGINT``), which is what makes the
LSH pipelines fully oracle-checkable instead of rows-only.

The shingle-set and MinHash kit below does each step of the near-dup
family once: ``_shingle_df`` (the cached hashed shingle sets),
``_minhash`` (16 minima and the set size), ``_bands``, ``_band_pairs``
(the band-collision self-join), ``_overlaps`` (the exact shingle
self-join), ``_verify`` (candidate overlaps) and ``_matches`` (signature
agreement).  Every Jaccard, containment, LSH and eval query over
shingles is a short caller of it, so the LSH recipe (seeds, bands,
verification) is changed in one place.

Scale design (100 TB):
- exact dedup shuffles 16-byte digests, never documents;
- the shingle inverted index (ngram_jaccard) is exact but quadratic in
  hot shingles — at scale, cap document frequency per shingle or go
  straight to MinHash-LSH;
- MinHash-LSH shuffles (doc, band, signature) tuples — candidates are
  band-bucket collisions only, verified with exact jaccard; this is the
  linear-shuffle path that replaces the quadratic index at scale;
- SimHash emits one 32-bit signature per doc; near-dup pairing then
  band-joins on signature chunks exactly like MinHash bands.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from mincemeatpy_spark.lineage import truncate_eager, truncate_lazy
from mincemeatpy_spark.operators._util import hash60, q6_dot, q6_embeddings, q6_sample
from mincemeatpy_spark.operators.graph import _symmetrize
from mincemeatpy_spark.registry import QUERIES, register
from mincemeatpy_spark.tables import fan_out, t

# --- the shingle-set and MinHash kit ------------------------------------
#
# In the reference's terms MinHash-LSH near-dup detection is one mincemeat
# job: the map shingles and hashes, the combine keeps 16 minima per
# document, the band signature is the shuffle key and the reduce
# verifies.  Each step has one kernel below; the oracle side mirrors them
# with _minh_cols_sql, _bands_sql and _matches_sql.

_WS = r"\s+"

_ORACLE_H60 = "('0x' || substring(md5({x}), 1, 15))::BIGINT"


def _shingles(words: Column) -> Column:
    """Distinct 3-word shingles of a token array (needs >= 3 tokens)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        )
    )


_ORACLE_SHINGLES = """
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
        WHERE len(w) >= 3
    )
"""


def _hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_shingle_df` without the cache, for a caller that reads the
    set once and materializes its own smaller table."""
    # fan_out: shingling is the expensive per-row stage; never leave it
    # serialized on an under-split scan (no-op on wide scans at scale).
    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("doc_id", "text"), sf_dir
    ).select("doc_id", F.split("text", _WS).alias("w"))
    return (
        docs.filter(F.size("w") >= 3)
        .select("doc_id", F.explode(_shingles(F.col("w"))).alias("s"))
        .select("doc_id", hash60(F.col("s")).alias("s"))
    )


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed shingle sets ``(doc_id, s)``: one row per distinct
    3-word shingle of every document with at least 3 tokens, ``s`` its
    60-bit :func:`hash60`.  Shingle strings die here, so every join and
    shuffle downstream carries 8-byte keys.  Cached, because each caller
    reads the set at least twice (both sides of a self-join, or the
    signatures and then the verification), and scan, split, explode and
    md5 are the query's dominant per-row cost."""
    return _hashed_shingles(spark, sf_dir).cache()


_N_HASHES = 16
_BAND_SIZE = 4  # 4 bands of 4 → candidate if any band signature collides

# One md5 per shingle; the 16 MinHash functions are affine transforms
# h_i(x) = (x*a_i + b_i) mod P over the Mersenne prime P=2^31-1 (the
# standard universal-hash family for MinHash).  Integer-exact in any
# engine, and one digest per shingle instead of one per (shingle, seed).
_P = 2_147_483_647
_A = [(i * 2654435761 + 1) % _P for i in range(_N_HASHES)]
_B = [(i * 40503 + 17) % _P for i in range(_N_HASHES)]


def _affine(i: int, x: str) -> str:
    # x is the full 60-bit shingle hash; reduce mod P first so the
    # multiply stays under 2^63 (2^31 * 2^32 headroom) in both engines.
    return f"(({x} % {_P}) * {_A[i]} + {_B[i]}) % {_P}"


def _minhash(sh: DataFrame) -> DataFrame:
    """Per document of ``sh``: the 16 minima ``m0..m15`` and the set
    size ``n``.  They are 17 aggregate columns of ONE groupBy, so the
    shuffle carries one partial row per document and task; exploding a
    row per seed instead shuffled 12M rows at sf0.1, against ~80k."""
    return sh.groupBy("doc_id").agg(
        *[F.min(F.expr(_affine(i, "s"))).alias(f"m{i}") for i in range(_N_HASHES)],
        F.count(F.lit(1)).alias("n"),
    )


def _bands(minh: DataFrame, rows: int = _BAND_SIZE) -> DataFrame:
    """One ``(doc_id, n, band, sig)`` row per band of ``rows`` minima,
    ``sig`` the comma-joined minima.  Each row carries the set size, so
    a candidate pair leaves the band join with both Jaccard denominators
    and needs no join back to a doc-count-sized size table, which at
    1B documents would be two more keyed shuffles."""
    n_bands = _N_HASHES // rows
    stack_args = ", ".join(
        f"{b}, concat_ws(',', {', '.join(f'm{i}' for i in range(b * rows, (b + 1) * rows))})"
        for b in range(n_bands)
    )
    return minh.selectExpr("doc_id", "n", f"stack({n_bands}, {stack_args}) AS (band, sig)")


def _band_pairs(bands: DataFrame) -> DataFrame:
    """LSH candidates ``(d1, d2, n1, n2)``, d1 < d2: documents that share
    a (band, sig) bucket, once per pair however many bands collide.  The
    pair alone is the dedup key (n1, n2 follow from it), so a later join
    on (d1, d2) reuses its shuffle.  No forced broadcast: the band table
    scales with the corpus, and AQE broadcasts at runtime while it fits."""
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.sig") == F.col("bb.sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("d1"),
            F.col("bb.doc_id").alias("d2"),
            F.col("ba.n").alias("n1"),
            F.col("bb.n").alias("n2"),
        )
        .dropDuplicates(["d1", "d2"])
    )


def _overlaps(sh: DataFrame, ordered: bool = True) -> DataFrame:
    """``(d1, d2, i)``: the number ``i`` of shingles two documents share,
    by the inverted-index self-join on the shingle hash.  Pairs are
    d1 < d2, or every ordered pair d1 != d2 when not ``ordered``.  Exact
    but quadratic in hot shingles."""
    a, b = sh.alias("a"), sh.alias("b")
    other = F.col("a.doc_id") < F.col("b.doc_id") if ordered else (
        F.col("a.doc_id") != F.col("b.doc_id")
    )
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & other)
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )


def _verify(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """``(d1, d2, n1, n2, i)`` for the candidate pairs of ``cand`` only:
    each pair joins back to its two shingle sets, so verification scales
    with the candidates, not with every co-shingled pair."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        cand.join(a, F.col("a.doc_id") == F.col("d1"))
        .join(b, (F.col("b.doc_id") == F.col("d2")) & (F.col("b.s") == F.col("a.s")))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i"))
    )


def _jaccard(n1: Column, n2: Column) -> Column:
    """Jaccard of a pair with ``i`` shared shingles and set sizes n1, n2."""
    return F.col("i").cast("double") / (n1 + n2 - F.col("i"))


def _jaccard_pairs(sh: DataFrame, sizes: DataFrame | None = None) -> DataFrame:
    """Exact near-dup pairs ``(d1, d2, jaccard)`` of ``sh`` with Jaccard
    >= 0.25, jaccard rounded to 6 places.  ``sizes`` is ``(doc_id, n)``;
    by default the per-document count of ``sh``."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = _jaccard(F.col("sa.n"), F.col("sb.n"))
    return (
        _overlaps(sh)
        .join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("d1"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("d2"))
        .filter(jac >= 0.25)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


def _minhash_lsh(sh: DataFrame) -> DataFrame:
    """MinHash-LSH pairs ``(d1, d2, jaccard)`` of ``sh``: band candidates,
    each verified with its exact Jaccard."""
    # The band table feeds both sides of the candidate self-join; lazy
    # truncation runs the minhash aggregate once for both.
    bands = _bands(_minhash(sh)).transform(truncate_lazy)
    return _verify(sh, _band_pairs(bands)).select(
        "d1", "d2", F.round(_jaccard(F.col("n1"), F.col("n2")), 6).alias("jaccard")
    )


def _matches(a: str, b: str) -> Column:
    """How many of the 16 minima the signatures aliased a and b share."""
    return sum(
        (F.col(f"{a}.m{k}") == F.col(f"{b}.m{k}")).cast("int") for k in range(_N_HASHES)
    )


def _minh_cols_sql() -> str:
    return ", ".join(f"min({_affine(i, 'base')}) AS m{i}" for i in range(_N_HASHES))


def _bands_sql(src: str, cols: str = "doc_id", rows: int = _BAND_SIZE) -> str:
    """Oracle twin of :func:`_bands`: one SELECT per band of ``src``,
    ``sig`` the band's minima joined with commas."""

    def sig(b: int) -> str:
        return " || ',' || ".join(f"m{i}::VARCHAR" for i in range(b * rows, (b + 1) * rows))

    return " UNION ALL ".join(
        f"SELECT {cols}, {b} AS band, {sig(b)} AS sig FROM {src}"
        for b in range(_N_HASHES // rows)
    )


def _matches_sql(a: str, b: str) -> str:
    return " + ".join(
        f"(CASE WHEN {a}.m{i} = {b}.m{i} THEN 1 ELSE 0 END)"
        for i in range(_N_HASHES)
    )


# --- 1. exact dedup ----------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_dups
        FROM documents
        GROUP BY md5(text)
        """,
    category="dedup",
    doc="Exact dedup: group by content digest, keep the lowest doc_id. "
    "Only the 16-byte digest is shuffled — never the document body.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


@register(
    "dedup_exact_kept",
    oracle="""
        SELECT doc_id
        FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
            FROM documents
        )
        WHERE doc_id = keeper
        """,
    category="dedup",
    doc="The filter stage: documents surviving exact dedup (keep-first by "
    "doc_id within each digest group) via a window min — no second join.",
)
def dedup_exact_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5(F.col("text").cast("binary")))
    return (
        d.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id")
    )


# --- 2. exact n-gram jaccard via shingle inverted index ----------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        """,
    category="dedup",
    doc="Exact 3-gram Jaccard near-dup pairs via a shingle inverted index "
    "(explode → self-equi-join on shingle → intersection counts).  The "
    "join key is the 60-bit md5-derived shingle hash, not the string — "
    "8-byte shuffle keys and primitive-equality probes, measured ~2x "
    "faster on the self-join with identical results (both engines hash "
    "identically; collisions are 2^-60-rare and engine-symmetric).  "
    "Exact but quadratic in hot shingles — the sf-small ground truth "
    "that dedup_minhash_lsh approximates at scale.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(_shingle_df(spark, sf_dir))


# --- 3. MinHash + LSH --------------------------------------------------


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
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
        )
        SELECT c.d1, c.d2,
               round(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) AS jaccard
        FROM cand c
        JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
        JOIN sizes sa ON sa.doc_id = c.d1
        JOIN sizes sb ON sb.doc_id = c.d2
        """,
    category="dedup",
    doc="MinHash(16) + LSH(4 bands x 4 rows): shingle → seeded 60-bit "
    "hashes → per-seed min → band signatures → bucket self-join for "
    "candidates → exact-jaccard verification of candidates only.  The "
    "linear-shuffle fuzzy-dedup path for 100 TB: work scales with "
    "documents + bucket collisions, not document pairs.  Deterministic "
    "md5-derived hashing makes even this LSH pipeline exactly "
    "oracle-checkable.  Shingle strings die at the hash step: sizing and "
    "candidate verification join on the 60-bit hash, so the cached/"
    "shuffled working set is (doc_id, int64) — at 100 TB that's the "
    "difference between shuffling bytes and shuffling the corpus.  (The "
    "oracle joins on the identical hash, so results match exactly even "
    "in the collision case.)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_lsh(_shingle_df(spark, sf_dir))


_BAND_CAP = 50  # LSH buckets with more members than this are hot bands


@register(
    "dedup_minhash_lsh_capped",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        based AS (
            SELECT doc_id, {_ORACLE_H60.format(x="s")} AS base
            FROM sh
        ),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()},
                   count(*) AS n
            FROM based GROUP BY doc_id
        ),
        bands AS (
            {_bands_sql("minh", "doc_id, n")}
        ),
        bc AS (
            SELECT band, sig, count(*) AS cnt
            FROM bands GROUP BY band, sig
        ),
        keptb AS (
            SELECT b.doc_id, b.n, b.band, b.sig
            FROM bands b JOIN bc ON bc.band = b.band AND bc.sig = b.sig
            WHERE bc.cnt <= {_BAND_CAP}
        ),
        acct AS (
            SELECT CAST(count(*) AS BIGINT) AS dropped_bands,
                   CAST(coalesce(sum(cnt * (cnt - 1) // 2), 0) AS BIGINT)
                       AS pairs_skipped
            FROM bc WHERE cnt > {_BAND_CAP}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                            a.n AS n1, b.n AS n2
            FROM keptb a
            JOIN keptb b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.d1, c.d2, c.n1, c.n2, count(*) AS i
            FROM cand c
            JOIN based a ON a.doc_id = c.d1
            JOIN based b ON b.doc_id = c.d2 AND b.base = a.base
            GROUP BY c.d1, c.d2, c.n1, c.n2
        )
        SELECT d1, d2,
               round(i::DOUBLE / (n1 + n2 - i), 6) AS jaccard,
               acct.dropped_bands, acct.pairs_skipped
        FROM inter CROSS JOIN acct
        """,
    category="dedup",
    doc="MinHash-LSH with the frequent-band cap real corpora need "
    "(VERDICT r5 task 5): boilerplate-duplicate documents put "
    "thousands of members into one (band, sig) bucket, and the "
    "candidate self-join then explodes O(|bucket|^2) — AQE's skew "
    "join rebalances the SHUFFLE but cannot shrink the pair count.  "
    "Buckets with more than 50 members are dropped BEFORE the "
    "self-join (the standard hot-band mitigation, the LSH analogue of "
    "dedup_ngram_jaccard_capped's stop-shingles), so pair work is "
    "bounded by cap^2 per bucket; a near-dup pair survives unless "
    "EVERY one of its 4 shared bands is boilerplate-hot.  What was "
    "dropped is surfaced, not silent: every output row carries "
    "dropped_bands (hot buckets removed) and pairs_skipped (sum of "
    "C(cnt, 2) over them) from a broadcast 1-row accounting aggregate "
    "computed in-plan — no driver collect.  Verification is the exact "
    "candidates-only jaccard of the uncapped op, shared code.",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    # the band table feeds the bucket counts and both join sides
    bands = _bands(_minhash(sh)).transform(truncate_lazy)
    bc = bands.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("cnt"))
    keptb = (
        bands.join(bc, ["band", "sig"])
        .filter(F.col("cnt") <= _BAND_CAP)
        .select("doc_id", "n", "band", "sig")
    )
    # Accounting rides in-plan as a broadcast 1-row global aggregate
    # (the pagerank-counts pattern) — bounded output, rule-13 clean.
    acct = bc.filter(F.col("cnt") > _BAND_CAP).agg(
        F.count(F.lit(1)).cast("bigint").alias("dropped_bands"),
        F.coalesce(
            F.sum(F.expr("CAST(cnt * (cnt - 1) DIV 2 AS BIGINT)")), F.lit(0)
        ).cast("bigint").alias("pairs_skipped"),
    )
    jac = _jaccard(F.col("n1"), F.col("n2"))
    return (
        _verify(sh, _band_pairs(keptb))
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .crossJoin(F.broadcast(acct))
    )


# --- 4. SimHash --------------------------------------------------------

_SIM_BITS = 32

# Bound on the driver-collected side of the brute-force cosine ground
# truth: a pure scan-pushed predicate (vec_id < _COS_BCAP) caps it at
# <= 100k rows (~16 MB quantized) at ANY corpus size.  The oracle
# applies the identical predicate, and the corpus-vs-corpus scale path
# stays the LSH/semdedup family.
_COS_BCAP = 100_000


@register(
    "dedup_simhash",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, {_ORACLE_H60.format(x="tok")} AS h
            FROM toks WHERE tok <> ''
        ),
        bits AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS bit)
            GROUP BY doc_id, bit
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits
        GROUP BY doc_id
        """,
    category="dedup",
    doc="SimHash(32): per-token 60-bit hash, per-bit +/-1 majority vote "
    "weighted by token frequency, signature = sign vector packed into an "
    "int.  One small signature per doc; near-dup pairing then band-joins "
    "signature chunks (hamming <= k) exactly like MinHash bands.  The 32 "
    "bit-votes are 32 aggregate columns in ONE groupBy (the same "
    "no-crossJoin trick as the MinHash minima): the shuffle carries one "
    "32-int partial row per (doc, task), never 32x the token stream — "
    "measured 9.3 s -> sub-second at sf0.1.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", _WS)).alias("tok")).filter(
        F.col("tok") != ""
    )
    hashed = toks.select("doc_id", hash60(F.col("tok")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {i}) & 1 = 1"), F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"s{i}")
            for i in range(_SIM_BITS)
        ]
    )
    packed = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for i in range(_SIM_BITS)
        ],
    )
    return votes.select("doc_id", packed.alias("simhash"))


# --- 5. embedding cosine near-dup --------------------------------------


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        v AS (
            SELECT vec_id, e,
                   sqrt(CAST(list_sum(list_transform(e, x -> x * x)) AS DOUBLE))
                       AS nrm
            FROM q
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(CAST(list_sum(list_transform(generate_series(1, len(a.e)),
                     i -> a.e[i] * b.e[i])) AS DOUBLE) / (a.nrm * b.nrm), 6)
                   AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id AND b.vec_id < 100000
        WHERE CAST(list_sum(list_transform(generate_series(1, len(a.e)),
              i -> a.e[i] * b.e[i])) AS DOUBLE) / (a.nrm * b.nrm) >= 0.4
        """,
    category="dedup",
    doc="Embedding-cosine near-dup pairs, brute-force against a "
    "predicate-capped ground-truth sample (vec_id < 100k — the whole "
    "table at test SF, a hard bound at any corpus size) — the "
    "sf-small ground truth for the LSH/IVF scale paths "
    "(similarity_ann_lsh buckets by hyperplane signs so only "
    "bucket-mates pair up).  Vectors quantize to int64 micro-units "
    "scan-side (the vector_quantize_int8 storage idea at accumulator "
    "precision), so the all-pairs Gram matrix is an exact integer "
    "matmul — computed blockwise in numpy over Arrow batches against "
    "a task-broadcast quantized matrix (same kernel shape as "
    "embedding_pca_power), ~60x faster than a per-pair expression "
    "fold and bit-identical in any engine regardless of summation "
    "order (dot <= 2.2e13 per pair, exact in int64 and in the "
    "float64s DuckDB sums with).  One scan, no join, no shuffle; "
    "only above-threshold pairs leave the kernel.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The collected side is bounded by a pure scan-pushed predicate
    # (vec_id < _COS_BCAP, <= 100k rows ~ 16 MB quantized at ANY corpus
    # size — same discipline as the _EVAL_MOD/_EVAL_CAP kNN evals); the
    # probe side stays the full distributed table, so this is "all docs
    # vs the capped ground-truth sample", and the registered scale path
    # for corpus-vs-corpus remains the LSH/semdedup family.  The oracle
    # applies the identical predicate on its b side.
    ids, mat = q6_sample(e.filter(F.col("vec_id") < _COS_BCAP).collect())
    nrm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    bc = spark.sparkContext.broadcast((ids, mat, nrm))

    def pairs(batches):
        import numpy as np

        b_ids, b_mat, b_nrm = bc.value
        for batch in batches:
            a_ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            a_mat = q6_embeddings(batch)
            a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1).astype(np.float64))
            cos = q6_dot(a_mat, b_mat) / np.outer(a_nrm, b_nrm)
            ii, jj = np.nonzero((cos >= 0.4) & (a_ids[:, None] < b_ids[None, :]))
            if len(ii):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(a_ids[ii], type=pa.int64()),
                        pa.array(b_ids[jj], type=pa.int64()),
                        pa.array(np.round(cos[ii, jj], 6), type=pa.float64()),
                    ],
                    ["id_a", "id_b", "cosine"],
                )

    return e.mapInArrow(pairs, "id_a long, id_b long, cosine double")


# --- 6. near-dup clustering (connected components) ---------------------


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
            FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
            WHERE len(w) >= 3
        ),
        -- join on the SAME 60-bit md5-derived hash the engine shuffles
        -- (collision-symmetric, like every other pair oracle in this
        -- file) — a string-keyed join here would disagree with the
        -- engine exactly when two shingles collide in the hash
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        edges AS (
            SELECT d1, d2
            FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        ),
        sym AS (SELECT d1 AS u, d2 AS v FROM edges
                UNION SELECT d2, d1 FROM edges),
        reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        )
        SELECT u AS doc_id, min(v) AS cluster_id, count(*) AS cluster_size
        FROM reach GROUP BY u
        """,
    category="dedup",
    doc="Near-dup clustering: connected components over the exact-jaccard "
    "edge set (>= 0.25), by iterative min-label propagation — each round "
    "every node adopts the smallest label in its neighborhood; converges "
    "in <= diameter rounds (dup clusters are tiny, so 2-4 in practice). "
    "This is the keep-one-per-cluster stage a 100 TB dedup pipeline runs "
    "after LSH pairing; each round is one self-contained shuffle join, "
    "the Spark-idiomatic form of GraphX's label propagation.  The oracle "
    "is a recursive-CTE transitive closure — same fixpoint.  cluster_size "
    "counts reachable docs (= cluster members for every member).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    return _min_label_components(edges)


def _min_label_components(edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation over (d1, d2) edges.

    Each round every node adopts the smallest label in its neighborhood;
    converges in <= diameter rounds.  Each round localCheckpoints so the
    lineage (and thus the physical plan) stays flat.  (On a real cluster
    use checkpoint() on reliable storage instead.)
    """
    sym = _symmetrize(
        edges.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
    ).cache()
    labels = (
        sym.select("u")
        .distinct()
        .select("u", F.col("u").alias("label"))
        .transform(truncate_eager)
    )
    converged = False
    for _ in range(32):
        lab_v = labels.select(
            F.col("u").alias("lv"), F.col("label").alias("vlabel")
        )
        neighbor_min = (
            sym.join(lab_v, F.col("v") == F.col("lv"))
            .groupBy(F.col("u").alias("nu"))
            .agg(F.min("vlabel").alias("nlabel"))
        )
        # r13 optimization round: the convergence signal is computed IN
        # the label-update projection (new label vs old label, both on
        # the row already) and checkpointed with it — the old shape ran
        # a separate labels⋈new_labels join job per round just to
        # detect change.  One cheap filter-count over the cached
        # checkpoint replaces that join; the emitted (u, label) rows
        # are identical.
        new_labels = (
            labels.join(neighbor_min, F.col("u") == F.col("nu"), "left_outer")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nlabel"), F.col("label")),
                    )
                    != F.col("label")
                ).alias("_changed"),
            )
            .transform(truncate_eager)
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.select("u", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # A silent partial propagation would emit multiple cluster_ids
        # (with wrong sizes) for one component — and the transitive-
        # closure oracle would disagree.  Min-label converges in <=
        # diameter rounds; a >32-diameter near-dup chain means the
        # round cap must be raised, not the result trusted.
        raise RuntimeError(
            "connected components did not converge within 32 label-"
            "propagation rounds (component diameter > 32); raise the cap"
        )
    # No broadcast hint: cluster count is doc-scale in the all-singleton
    # worst case; AQE broadcasts at runtime while the side fits.
    csize = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(csize, "label")
        .select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"), "cluster_size")
    )


# --- 6. benchmark decontamination ---------------------------------------


@register(
    "dedup_decontaminate",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        bench AS (
            SELECT DISTINCT s FROM sh
            JOIN documents d ON d.doc_id = sh.doc_id
            WHERE d.source = 'src0'
        ),
        cont AS (
            SELECT DISTINCT sh.doc_id FROM sh
            JOIN bench USING (s)
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(count(c.doc_id) AS BIGINT) AS n_contaminated
        FROM documents d
        LEFT JOIN cont c ON c.doc_id = d.doc_id
        WHERE d.source <> 'src0'
        GROUP BY d.source
        """,
    category="dedup",
    doc="Benchmark decontamination (the GPT-3/PaLM n-gram overlap check): "
    "treat source 'src0' as the held-out eval set, flag every training "
    "document sharing at least one 3-gram shingle with it, and report "
    "per-source contamination counts.  The eval shingle set is DISTINCT "
    "and tiny relative to the corpus (benchmarks always are), so it "
    "broadcasts and the training side is a map-side LEFT SEMI probe — "
    "the 100 TB corpus is scanned once with no corpus-sized shuffle.",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each side shingles only its own slice — the source predicate is
    # pushed into the scan, so the eval set's shingles are computed from
    # the (tiny) eval partition alone and the corpus is shingled once.
    def side_shingles(pred, wide):
        # Only the corpus side fans out: the eval slice is tiny by
        # construction, and repartitioning it would add a shuffle that
        # costs more than the serial shingling it saves.
        docs = t(spark, sf_dir, "documents").filter(pred).select("doc_id", "text")
        if wide:
            docs = fan_out(spark, docs, sf_dir)
        docs = docs.select("doc_id", F.split("text", _WS).alias("w"))
        return docs.filter(F.size("w") >= 3).select(
            "doc_id", F.explode(_shingles(F.col("w"))).alias("s")
        )

    bench_sh = F.broadcast(
        side_shingles(F.col("source") == "src0", wide=False).select("s").distinct()
    )
    contaminated = (
        side_shingles(F.col("source") != "src0", wide=True)
        .join(bench_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id", "source")
        .join(contaminated, "doc_id", "left_outer")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_contaminated"),
        )
    )


@register(
    "text_substring_dup_spans",
    oracle="""
        WITH d AS (
            SELECT doc_id, lang, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        g AS (
            SELECT doc_id, lang, len(w) AS n, i AS pos,
                   md5(list_aggregate(w[i : i+9], 'string_agg', ' ')) AS h
            FROM d, unnest(generate_series(1, len(w) - 9)) AS t(i)
            WHERE len(w) >= 10
        ),
        dup AS (SELECT h FROM g GROUP BY h
                HAVING count(DISTINCT doc_id) > 1),
        hits AS (
            SELECT doc_id, lang, n, pos, pos + 9 AS e,
                   max(pos + 9) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING) AS prev_e
            FROM g WHERE h IN (SELECT h FROM dup)
        ),
        islands AS (
            SELECT doc_id, lang, n, pos, e,
                   sum(CASE WHEN prev_e IS NULL OR pos > prev_e
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS isl
            FROM hits
        ),
        per_doc AS (
            SELECT doc_id, lang, n,
                   CAST(sum(cov) AS BIGINT) AS dup_tokens
            FROM (SELECT doc_id, lang, n, isl,
                         max(e) - min(pos) + 1 AS cov
                  FROM islands GROUP BY doc_id, lang, n, isl)
            GROUP BY doc_id, lang, n
        )
        SELECT lang,
               count(*) AS n_docs_flagged,
               CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
               CAST(sum(n) AS BIGINT) AS flagged_doc_tokens
        FROM per_doc
        GROUP BY lang
        """,
    category="dedup",
    doc="Exact substring-duplication spans (the Lee et al. 2022 "
    "'Deduplicating Training Data Makes Language Models Better' "
    "operator, k-gram form): every 10-token window is hashed; windows "
    "whose hash occurs in more than one document mark a duplicated "
    "span [pos, pos+9]; overlapping spans merge per document "
    "(gaps-and-islands: cumulative max of span ends), and the merged "
    "coverage is the count of tokens that substring dedup would cut.  "
    "Scale shape: gram hashing is scan-side array arithmetic (no "
    "shuffle of token data — only 16-byte gram hashes shuffle for the "
    "duplicate test, the same linear-shuffle property as MinHash LSH); "
    "the island merge is a per-document window over only the flagged "
    "positions.  A full suffix-array dedup needs cross-doc suffix "
    "sorting; the k-gram form is the distributed-friendly equivalent "
    "used in practice.",
)
def text_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("doc_id", "lang", "text"), sf_dir
    ).select("doc_id", "lang", F.split("text", _WS).alias("w"))
    sized = docs.filter(F.size("w") >= 10).select(
        "doc_id", "lang", F.size("w").alias("n"), "w"
    )
    gram = F.transform(
        F.sequence(F.lit(1), F.col("n") - 9),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, 10)).cast("binary")).alias(
                "h"
            ),
        ),
    )
    # ``g`` feeds BOTH the duplicate test (groupBy h) and the hits
    # semi-join left side, so it is truncated to share one computation:
    # without it each consumer re-runs the whole scan → split →
    # 10-token-slice md5 → explode chain (the query's dominant per-row
    # cost) — the before-plan shows two complete gram-hash subtrees and
    # zero reuse.  The materialized table is 5 narrow columns at
    # gram-scale (linear in corpus tokens), the same trade the band/
    # signature tables make.
    g = sized.select(
        "doc_id", "lang", "n", F.explode(gram).alias("ph")
    ).select(
        "doc_id", "lang", "n", F.col("ph.pos").alias("pos"), F.col("ph.h").alias("h")
    ).transform(truncate_lazy)
    dup = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    hits = g.join(dup, "h", "left_semi").withColumn("e", F.col("pos") + 9)
    w_prev = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    )
    new_island = F.when(
        F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e")), 1
    ).otherwise(0)
    islands = (
        hits.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn("isl", F.sum(new_island).over(w_run))
    )
    per_doc = (
        islands.groupBy("doc_id", "lang", "n", "isl")
        .agg((F.max("e") - F.min("pos") + 1).alias("cov"))
        .groupBy("doc_id", "lang", "n")
        .agg(F.sum("cov").cast("bigint").alias("dup_tokens"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_flagged"),
        F.sum("dup_tokens").cast("bigint").alias("dup_tokens"),
        F.sum("n").cast("bigint").alias("flagged_doc_tokens"),
    )


@register(
    "fuzzy_match_levenshtein",
    oracle="""
        WITH vals AS (
            SELECT string_split(p_name, ' ')[2] AS noun,
                   string_split(p_name, ' ')[1] AS adj,
                   CAST(count(*) AS BIGINT) AS n_parts
            FROM part
            GROUP BY 1, 2
        )
        SELECT a.noun, a.adj AS adj_a, b.adj AS adj_b,
               CAST(levenshtein(a.adj, b.adj) AS INT) AS dist,
               CAST(a.n_parts * b.n_parts AS BIGINT) AS n_pairs
        FROM vals a JOIN vals b
          ON a.noun = b.noun AND a.adj < b.adj
        WHERE levenshtein(a.adj, b.adj) <= 2
        """,
    category="dedup",
    doc="Blocked fuzzy matching by edit distance — the classic "
    "entity-resolution shape.  Naive all-pairs levenshtein is O(n^2) and "
    "dead at 100 TB; the scale design is (1) aggregate to DISTINCT "
    "values first (the candidate universe is vocabulary-sized, not "
    "corpus-sized, and carries its multiplicity), (2) equi-join on a "
    "cheap blocking key (here the head noun) so the quadratic compare "
    "runs only within blocks, (3) a.adj < b.adj halves the pairs and "
    "dedupes mirror matches.  JVM-side levenshtein (no Python), exact "
    "integer distance, pair multiplicities recovered by count product.",
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    vals = (
        p.select(
            words.getItem(1).alias("noun"), words.getItem(0).alias("adj")
        )
        .groupBy("noun", "adj")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = vals.alias("a")
    b = vals.alias("b")
    dist = F.levenshtein(F.col("a.adj"), F.col("b.adj"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun")) & (F.col("a.adj") < F.col("b.adj")),
        )
        .where(dist <= 2)
        .select(
            F.col("a.noun").alias("noun"),
            F.col("a.adj").alias("adj_a"),
            F.col("b.adj").alias("adj_b"),
            dist.cast("int").alias("dist"),
            (F.col("a.n_parts") * F.col("b.n_parts")).alias("n_pairs"),
        )
    )


@register(
    "dedup_lsh_recall",
    oracle=f"""
        WITH true_pairs AS ({QUERIES["dedup_ngram_jaccard"].oracle}),
             lsh_pairs AS ({QUERIES["dedup_minhash_lsh"].oracle}),
             m AS (
                 SELECT (SELECT count(*) FROM true_pairs) AS n_true,
                        (SELECT count(*) FROM lsh_pairs) AS n_candidates,
                        (SELECT count(*) FROM lsh_pairs WHERE jaccard >= 0.25)
                            AS n_hits
             )
        SELECT CAST(n_true AS BIGINT) AS n_true,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST(n_hits AS DOUBLE) / n_candidates AS precision_lsh,
               CAST(n_hits AS DOUBLE) / n_true AS recall_lsh
        FROM m
        """,
    category="dedup",
    doc="Eval harness for the fuzzy-dedup path: precision and recall of "
    "MinHash-LSH candidate generation against the exact n-gram-Jaccard "
    "ground truth (threshold 0.25).  Both sides are the engine's own "
    "deterministic operators, so the quality metric itself is exactly "
    "oracle-checked — the loop you run after retuning bands/rows.  At "
    "100 TB the exact side is the quadratic one; you run this eval on "
    "a sampled shard to pick (bands, rows), then trust LSH on the full "
    "corpus.  Candidate and truth sets reduce to three scalar counts "
    "before the final single-row select, so the comparison adds no "
    "shuffle of its own.",
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    truth = _jaccard_pairs(sh).select("d1", "d2")
    lsh = _minhash_lsh(sh)
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    cand_counts = lsh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum((F.col("jaccard") >= 0.25).cast("int")).cast("bigint").alias("n_hits"),
    )
    return n_true.crossJoin(cand_counts).select(
        "n_true",
        "n_candidates",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_candidates")).alias("precision_lsh"),
        (F.col("n_hits").cast("double") / F.col("n_true")).alias("recall_lsh"),
    )


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        based AS (
            SELECT doc_id, {_ORACLE_H60.format(x="s")} AS base
            FROM sh
        ),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()},
                   count(*) AS n
            FROM based GROUP BY doc_id
        ),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM based a JOIN based b
              ON a.base = b.base AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.d1, i.d2,
                   i.i::DOUBLE / (ma.n + mb.n - i.i) AS true_j,
                   ({_matches_sql("ma", "mb")})::DOUBLE
                       / {_N_HASHES} AS est_j
            FROM inter i
            JOIN minh ma ON ma.doc_id = i.d1
            JOIN minh mb ON mb.doc_id = i.d2
            WHERE i.i::DOUBLE / (ma.n + mb.n - i.i) >= 0.25
        )
        SELECT count(*) AS n_pairs,
               (CAST(SUM(CAST(round(abs(est_j - true_j) * 1000000) AS BIGINT))
                     AS DOUBLE) / 1000000) AS sum_abs_err,
               round(max(abs(est_j - true_j)), 6) AS worst_abs_err
        FROM pairs
        """,
    category="dedup",
    doc="MinHash estimator calibration: for every true near-dup pair "
    "(exact Jaccard >= 0.25), compare the sketch estimate — matching "
    "signature positions / 16 — against the exact Jaccard, reporting "
    "pair count, fixed-point summed absolute error and the worst "
    "single error.  dedup_lsh_recall scores the CANDIDATE step; this "
    "scores the ESTIMATOR itself — together they justify trusting "
    "dedup_minhash_lsh at 100 TB where exact verification is "
    "sampled, not total.  Deterministic md5-derived hashing makes "
    "even the error distribution hash-checkable.",
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.operators._util import decsum

    sh = _shingle_df(spark, sf_dir)
    # minh feeds both signature sides of the pair join
    minh = _minhash(sh).transform(truncate_lazy)
    ma = minh.alias("ma")
    mb = minh.alias("mb")
    true_j = _jaccard(F.col("ma.n"), F.col("mb.n"))
    est_j = _matches("ma", "mb").cast("double") / F.lit(_N_HASHES)
    pairs = (
        _overlaps(sh).join(ma, F.col("ma.doc_id") == F.col("d1"))
        .join(mb, F.col("mb.doc_id") == F.col("d2"))
        .filter(true_j >= 0.25)
        .select(F.abs(est_j - true_j).alias("abs_err"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        decsum(F.col("abs_err")).alias("sum_abs_err"),
        F.round(F.max("abs_err"), 6).alias("worst_abs_err"),
    )


# --- 7. SemDeDup: semantic dedup via cluster-then-pair ------------------

_SEM_K = 8  # seed centroids (embeddings rows vec_id < K, kmeans convention)
_SEM_THRESHOLD = 0.4

_SEM_DIST_SQL = """
    list_reduce(
        list_transform(generate_series(1, len(e.embedding)),
            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
               * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))),
        (a, b) -> a + b)
"""


@register(
    "dedup_semdedup_clusters",
    oracle=f"""
        WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
                       FROM embeddings WHERE vec_id < {_SEM_K}),
        assign AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM (SELECT e.vec_id, c.cid, {_SEM_DIST_SQL} AS dist
                  FROM embeddings e CROSS JOIN cents c)
        ),
        q AS (
            SELECT a.cid, e.vec_id,
                   list_transform(e.embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS qe
            FROM embeddings e JOIN assign a
              ON a.vec_id = e.vec_id AND a.rn = 1
        ),
        v AS (
            SELECT cid, vec_id, qe,
                   sqrt(CAST(list_sum(list_transform(qe, x -> x * x)) AS DOUBLE))
                       AS nrm
            FROM q
        )
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
               round(CAST(list_sum(list_transform(generate_series(1, len(a.qe)),
                     i -> a.qe[i] * b.qe[i])) AS DOUBLE) / (a.nrm * b.nrm), 6)
                   AS cosine
        FROM v a JOIN v b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE CAST(list_sum(list_transform(generate_series(1, len(a.qe)),
              i -> a.qe[i] * b.qe[i])) AS DOUBLE) / (a.nrm * b.nrm)
              >= {_SEM_THRESHOLD}
        """,
    category="dedup",
    doc="SemDeDup (Abbas et al. 2023): semantic dedup by clustering "
    "embeddings first (nearest of k=8 seed centroids, the "
    "kmeans_assign_update assignment, tie-broken on centroid id) and "
    "comparing cosine similarity ONLY within a cluster — the scale "
    "recipe that turns the quadratic all-pairs of "
    "dedup_embedding_cosine into per-cluster work: at 100 TB you raise "
    "k so clusters stay bounded and the pair stage never sees a "
    "cross-cluster candidate.  Centroids broadcast (k rows; the vector "
    "table is never shuffled for assignment), vectors shuffle ONCE on "
    "cluster id into a grouped-applyInPandas numpy kernel — one exact "
    "int64 Gram matmul per cluster (the paper's actual kernel; ~10x "
    "the interpreted per-pair expression fold it replaced) — and the "
    "micro-unit quantization keeps every cosine bit-identical across "
    "engines.  dedup_semdedup_recall measures what the cluster "
    "restriction misses against the brute-force truth.",
)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = F.broadcast(
        e.filter(F.col("vec_id") < _SEM_K).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    # argmin via min(struct(dist, cid)) — a partial-aggregable form: the
    # 8x candidate rows combine map-side, so the shuffle carries one
    # partial per (vec, task) instead of a full 8n-row sort (the window
    # row_number form it replaces); any_value(embedding) is exact because
    # the embedding is functionally dependent on vec_id.
    v = (
        e.crossJoin(cents)
        .select("vec_id", "cid", dist.alias("dist"), "embedding")
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(F.col("dist").alias("dist"), F.col("cid").alias("cid"))
            ).alias("b"),
            F.any_value("embedding").alias("embedding"),
        )
        .select(F.col("b.cid").alias("cid"), "vec_id", quant.alias("qe"))
    )

    # Per-cluster pair stage as the SemDeDup paper actually runs it: one
    # numpy int64 Gram matmul per cluster over Arrow batches (grouped
    # applyInPandas).  The expression-fold form (aggregate over zip_with
    # per pair) is interpreted per element and measured ~10x slower;
    # the kernel is bit-identical — exact integer dot, one double
    # division per surviving pair.
    import pandas as pd

    threshold = _SEM_THRESHOLD

    def cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as _pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.array(list(pdf["qe"].iloc[order]), dtype=np.int64)
        nrm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
        cos = q6_dot(mat, mat) / np.outer(nrm, nrm)
        ii, jj = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
        return _pd.DataFrame(
            {
                "cid": pdf["cid"].iloc[0],
                "id_a": ids[ii],
                "id_b": ids[jj],
                "cosine": np.round(cos[ii, jj], 6),
            }
        )

    return v.groupBy("cid").applyInPandas(
        cluster_pairs, schema="cid bigint, id_a bigint, id_b bigint, cosine double"
    )


@register(
    "dedup_semdedup_recall",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        v AS (
            SELECT vec_id, e,
                   sqrt(CAST(list_sum(list_transform(e, x -> x * x)) AS DOUBLE))
                       AS nrm
            FROM q
        ),
        truth AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE CAST(list_sum(list_transform(generate_series(1, len(a.e)),
                  i -> a.e[i] * b.e[i])) AS DOUBLE) / (a.nrm * b.nrm)
                  >= {_SEM_THRESHOLD}
        ),
        cents AS (SELECT vec_id AS cid, embedding AS cvec
                  FROM embeddings WHERE vec_id < {_SEM_K}),
        assign AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM (SELECT e.vec_id, c.cid, {_SEM_DIST_SQL} AS dist
                  FROM embeddings e CROSS JOIN cents c)
        ),
        captured AS (
            SELECT tr.id_a, tr.id_b
            FROM truth tr
            JOIN assign aa ON aa.vec_id = tr.id_a AND aa.rn = 1
            JOIN assign ab ON ab.vec_id = tr.id_b AND ab.rn = 1
            WHERE aa.cid = ab.cid
        )
        SELECT (SELECT count(*) FROM truth)    AS n_true_pairs,
               (SELECT count(*) FROM captured) AS n_captured,
               round((SELECT count(*) FROM captured)::DOUBLE
                     / nullif((SELECT count(*) FROM truth), 0), 6) AS recall
        """,
    category="dedup",
    doc="SemDeDup eval twin: of the brute-force cosine near-dup pairs "
    "(dedup_embedding_cosine truth at the same threshold), how many "
    "fall inside one cluster — i.e. the recall the cluster restriction "
    "of dedup_semdedup_clusters achieves.  Run at sf-small whenever k "
    "or the centroid seeds change; at 100 TB the truth side is "
    "intractable (that is the point) and this eval is the sampled "
    "audit.  Pure-plan: both sides are the exact int64 Gram, counted "
    "and divided once.",
)
def dedup_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = dedup_embedding_cosine(spark, sf_dir).select("id_a", "id_b")
    pairs = dedup_semdedup_clusters(spark, sf_dir).select("id_a", "id_b")
    captured = truth.join(pairs, ["id_a", "id_b"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_cap = captured.agg(F.count(F.lit(1)).alias("n_captured"))
    return (
        n_true.crossJoin(n_cap)
        .select(
            "n_true_pairs",
            "n_captured",
            F.round(
                F.col("n_captured").cast("double")
                / F.nullif(F.col("n_true_pairs"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


# --- 8. incremental dedup against a persisted digest index --------------


@register(
    "dedup_incremental_index",
    oracle="""
        WITH index_side AS (
            SELECT md5(text) AS fp
            FROM documents WHERE doc_id % 10 <> 0
        ),
        batch AS (
            SELECT doc_id, md5(text) AS fp
            FROM documents WHERE doc_id % 10 = 0
        ),
        in_batch_keeper AS (
            SELECT fp, min(doc_id) AS keeper FROM batch GROUP BY fp
        )
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc
        FROM (
            SELECT b.doc_id,
                   CASE WHEN i.fp IS NOT NULL THEN 'dup_of_index'
                        WHEN b.doc_id <> k.keeper THEN 'dup_in_batch'
                        ELSE 'new' END AS status
            FROM batch b
            LEFT JOIN (SELECT DISTINCT fp FROM index_side) i ON i.fp = b.fp
            JOIN in_batch_keeper k ON k.fp = b.fp
        )
        GROUP BY status
        """,
    category="dedup",
    doc="Incremental exact dedup against a persisted digest index — how "
    "a 100 TB corpus actually dedups a daily ingest batch: the "
    "historical corpus is represented ONLY by its 16-byte digest index "
    "(never re-scanned, never re-hashed), the new batch hashes "
    "scan-side and hash-joins against it, and intra-batch duplicates "
    "resolve to the min-doc_id keeper in the same plan.  Output is the "
    "triage ledger (dup_of_index / dup_in_batch / new) that decides "
    "what enters the corpus and what appends to the index.  Fixture "
    "split: doc_id % 10 == 0 is the incoming batch, the rest is the "
    "index.  Work scales with the BATCH, not the corpus — the property "
    "that makes daily dedup O(ingest).",
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    index_side = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .distinct()
        .withColumn("in_index", F.lit(1))
    )
    # ``batch`` feeds the keeper aggregate AND the triage join —
    # truncating hashes the ingest batch once instead of twice (the batch is the thing that can be huge at scale; the
    # materialized table is (doc_id, fp), 24 bytes/row).
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    ).transform(truncate_lazy)
    keeper = batch.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    status = (
        F.when(F.col("in_index").isNotNull(), "dup_of_index")
        .when(F.col("doc_id") != F.col("keeper"), "dup_in_batch")
        .otherwise("new")
    )
    return (
        batch.join(index_side, "fp", "left")
        .join(keeper, "fp")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "text_novelty_fraction",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        first_seen AS (SELECT s, min(doc_id) AS first_doc FROM shh GROUP BY s)
        SELECT h.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS novelty
        FROM shh h JOIN first_seen f ON f.s = h.s
        GROUP BY h.doc_id
        """,
    category="text",
    doc="Per-document novelty — the curriculum/ordering signal: the "
    "fraction of a document's 3-gram shingles whose FIRST appearance "
    "in doc_id order is this document.  Boilerplate-heavy late "
    "documents score near 0; genuinely new content scores near 1 — "
    "the curve over doc_id is the corpus's marginal-information decay "
    "that data-pruning papers (e.g. D4) act on.  Linear plan: one "
    "shingle scan feeds both the global first-seen index (min "
    "aggregate on the 8-byte shingle hash) and the per-doc rollup; "
    "no pair joins anywhere.",
)
def text_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty"
            ),
        )
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1 AS contained_doc, d2 AS container_doc,
               round(i::DOUBLE / sa.n, 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        WHERE i::DOUBLE / sa.n >= 0.8
        """,
    category="dedup",
    doc="Asymmetric containment pairs — catches what Jaccard misses: a "
    "short document copied INTO a longer one has low Jaccard (the "
    "union is large) but containment |A∩B| / |A| near 1.  This is the "
    "quote/excerpt/boilerplate-inclusion detector (Lee et al. 2022 "
    "report these dominate web-corpus duplication).  Same shingle "
    "inverted index as dedup_ngram_jaccard — 8-byte hash keys, "
    "ordered-pair intersection counts, normalized by the CONTAINED "
    "side only, threshold 0.8.  Quadratic in hot shingles like every "
    "exact pair index; the MinHash banding scale path applies "
    "unchanged (band on the contained side's signature).",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cont = F.col("i").cast("double") / F.col("sa.n")
    return (
        _overlaps(sh, ordered=False).join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("d1"))
        .filter(cont >= 0.8)
        .select(
            F.col("d1").alias("contained_doc"),
            F.col("d2").alias("container_doc"),
            F.round(cont, 6).alias("containment"),
        )
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
        WITH groups AS (
            SELECT md5(text) AS fp, count(*) AS n
            FROM documents GROUP BY md5(text)
        )
        SELECT length(bin(n)) - 1 AS size_log2,
               count(*) AS n_clusters,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(n - 1) AS BIGINT) AS n_removable
        FROM groups
        GROUP BY 1
        """,
    category="dedup",
    doc="Duplicate-cluster size histogram — the dedup diagnostic read "
    "before committing a removal policy: exact-dup cluster sizes in "
    "log2 buckets (floor(log2 n) via exact binary-string bit length), "
    "with cluster counts, member counts, and the removable-doc mass "
    "per bucket.  A heavy tail here (few huge clusters) says "
    "boilerplate; a flat head says organic near-unique content — the "
    "shape decides exact-dedup vs fuzzy-dedup effort.  Digest-only "
    "shuffle, two tiny aggregates.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    groups = (
        d.select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return groups.groupBy(
        (F.length(F.bin("n")) - 1).alias("size_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.col("n") - 1).cast("bigint").alias("n_removable"),
    )


# --- 9. Bloom-filter prefilter for incremental dedup --------------------

_BLOOM_BITS = 65536  # m = 2^16 positions
_BLOOM_K = 3         # hash functions, md5-slice derived


def _bloom_positions_sql(fp: str) -> str:
    """k=3 deterministic bit positions from md5-hex slices (mod 2^16)."""
    return ", ".join(
        f"('0x' || substring({fp}, {1 + 8 * i}, 8))::BIGINT % {_BLOOM_BITS}"
        for i in range(_BLOOM_K)
    )


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
        WITH hist AS (
            SELECT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0
        ),
        batch AS (
            SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0
        ),
        bloom AS (
            SELECT DISTINCT pos FROM (
                SELECT unnest([{_bloom_positions_sql('fp')}]) AS pos FROM hist
            )
        ),
        probe AS (
            SELECT b.doc_id, b.fp,
                   (SELECT count(*) FROM bloom
                    WHERE pos IN ({_bloom_positions_sql('b.fp')}))
                       AS n_hit,
                   (SELECT count(DISTINCT p) FROM
                        (SELECT unnest([{_bloom_positions_sql('b.fp')}]) AS p))
                       AS n_pos
            FROM batch b
        ),
        truth AS (SELECT DISTINCT fp FROM hist)
        SELECT CAST((SELECT count(*) FROM batch) AS BIGINT) AS n_batch,
               CAST(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               CAST(sum(CASE WHEN t.fp IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_dups,
               CAST(sum(CASE WHEN n_hit = n_pos AND t.fp IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM probe p LEFT JOIN truth t ON t.fp = p.fp
        """,
    category="dedup",
    doc="Bloom-filter prefilter for incremental dedup — the approximate-"
    "membership stage that runs BEFORE dedup_incremental_index's exact "
    "join at 100 TB: the historical corpus compresses to a 64 Kbit "
    "filter (k=3 positions per digest, md5-slice derived so both "
    "engines compute identical bits), the ingest batch probes it "
    "map-side against the broadcast position set, and only flagged "
    "docs proceed to the exact digest join.  No false negatives by "
    "construction (every true dup is flagged — asserted in the "
    "output), false positives measured in-engine against the exact "
    "truth — the sketch-to-find / recount-to-answer rule applied to "
    "membership.  The filter build is one distinct over <= 65536 "
    "positions; the probe shuffles nothing (broadcast semi-counts).",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    hist = d.filter(F.col("doc_id") % 10 != 0).select(fp.alias("fp"))
    batch = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", fp.alias("fp"))

    def positions(col):
        return F.array(
            *[
                F.conv(F.substring(col, 1 + 8 * i, 8), 16, 10).cast("bigint")
                % _BLOOM_BITS
                for i in range(_BLOOM_K)
            ]
        )

    bloom = (
        hist.select(F.explode(positions(F.col("fp"))).alias("pos")).distinct()
    )
    # Membership = every DISTINCT probe position is set.  A digest whose
    # k md5-slices collide mod m yields fewer than k distinct positions;
    # requiring n_hit == k there would FALSE-NEGATIVE a true dup (and
    # counting duplicate positions twice would over-flag) — both engines
    # therefore compare distinct hits to distinct probes.
    probed = (
        batch.select(
            "doc_id",
            "fp",
            F.explode(F.array_distinct(positions(F.col("fp")))).alias("pos"),
        )
        .join(F.broadcast(bloom.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("doc_id", "fp")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    truth = hist.distinct().withColumn("is_dup", F.lit(1))
    flagged = F.when(F.col("n_hit") == F.col("n_pos"), 1).otherwise(0)
    true_dup = F.when(F.col("is_dup").isNotNull(), 1).otherwise(0)
    return (
        probed.join(truth, "fp", "left")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(flagged).cast("bigint").alias("n_flagged"),
            F.sum(true_dup).cast("bigint").alias("n_true_dups"),
            F.sum(
                F.when(
                    (F.col("n_hit") == F.col("n_pos")) & F.col("is_dup").isNull(), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_false_pos"),
        )
    )


# --- 10. contrastive training-pair mining -------------------------------


@register(
    "contrastive_pairs_mining",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
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
        pos AS (
            SELECT c.d1 AS anchor, c.d2 AS positive
            FROM cand c
            JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
            JOIN sizes sa ON sa.doc_id = c.d1
            JOIN sizes sb ON sb.doc_id = c.d2
            -- the Spark side consumes dedup_minhash_lsh's ROUNDED 6-dp
            -- jaccard column; threshold the same rounded value here
            WHERE round(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) >= 0.25
        ),
        n_docs AS (SELECT count(*) AS n FROM documents),
        probes AS (
            SELECT p.anchor, p.positive, j,
                   (p.anchor * 2654435761 + j) % (SELECT n FROM n_docs) AS neg
            FROM pos p, (SELECT unnest(generate_series(0, 4)) AS j)
        ),
        valid AS (
            SELECT pr.anchor, pr.positive, pr.j, pr.neg
            FROM probes pr
            LEFT JOIN pos q
              ON q.anchor = least(pr.anchor, pr.neg)
             AND q.positive = greatest(pr.anchor, pr.neg)
            WHERE pr.neg <> pr.anchor AND pr.neg <> pr.positive
              AND q.anchor IS NULL
        )
        SELECT anchor, positive,
               CAST(min(neg ORDER BY j) AS BIGINT) AS negative
        FROM (SELECT anchor, positive, j, neg,
                     row_number() OVER (PARTITION BY anchor, positive
                                        ORDER BY j) AS rk
              FROM valid)
        WHERE rk = 1
        GROUP BY anchor, positive
        """,
    category="dedup",
    doc="Contrastive training-triplet mining — the step that turns a "
    "dedup index into embedding-model training data: anchors/positives "
    "are the MinHash-LSH verified near-dup pairs (Jaccard >= 0.25), "
    "and each pair gets a deterministic hard-ish negative probed by a "
    "Knuth-multiplicative hash over the contiguous doc-id space "
    "(first of 5 probes that is neither endpoint nor itself a known "
    "positive of the anchor — no RNG, so the mined set is reproducible "
    "across runs and engines, the property a versioned training set "
    "needs).  Plan: the LSH pair stage is linear-shuffle as always; "
    "probing explodes 5 candidates per pair and anti-joins the "
    "canonicalized pair set — work scales with |pairs|, never |docs|².",
)
def contrastive_pairs_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # The pair set feeds BOTH the probe explosion and the anti-join's
    # broadcast side; checkpoint it so the LSH pipeline runs once, not
    # twice (pairs are pair-scale — tiny next to the corpus — so
    # materializing them is the right shape at 100 TB too).
    pos = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.25)
        .select(F.col("d1").alias("anchor"), F.col("d2").alias("positive"))
        .transform(truncate_lazy)
    )
    n_docs = t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n"))
    probes = (
        pos.crossJoin(F.broadcast(n_docs))
        .select(
            "anchor",
            "positive",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j"),
            "n",
        )
        .withColumn("neg", (F.col("anchor") * 2654435761 + F.col("j")) % F.col("n"))
        .filter((F.col("neg") != F.col("anchor")) & (F.col("neg") != F.col("positive")))
    )
    canon = pos.select(
        F.col("anchor").alias("qa"), F.col("positive").alias("qp")
    )
    valid = probes.join(
        F.broadcast(canon),
        (F.least("anchor", "neg") == F.col("qa"))
        & (F.greatest("anchor", "neg") == F.col("qp")),
        "left_anti",
    )
    w = Window.partitionBy("anchor", "positive").orderBy("j")
    return (
        valid.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("anchor", "positive", F.col("neg").cast("bigint").alias("negative"))
    )


@register(
    "dedup_lsh_band_tradeoff",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS base FROM sh),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()}
            FROM shh GROUP BY doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.base = b.base AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT d1, d2 FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        ),
        bands_44 AS (
            {_bands_sql("minh", rows=4)}
        ),
        cand_44 AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands_44 a JOIN bands_44 b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        bands_28 AS (
            {_bands_sql("minh", rows=8)}
        ),
        cand_28 AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands_28 a JOIN bands_28 b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        )
        SELECT config, n_candidates, n_true,
               n_hit,
               round(n_hit::DOUBLE / nullif(n_true, 0), 6) AS recall
        FROM (
            SELECT '4x4' AS config,
                   (SELECT count(*) FROM cand_44) AS n_candidates,
                   (SELECT count(*) FROM truth) AS n_true,
                   (SELECT count(*) FROM truth t
                    JOIN cand_44 c ON c.d1 = t.d1 AND c.d2 = t.d2) AS n_hit
            UNION ALL
            SELECT '2x8',
                   (SELECT count(*) FROM cand_28),
                   (SELECT count(*) FROM truth),
                   (SELECT count(*) FROM truth t
                    JOIN cand_28 c ON c.d1 = t.d1 AND c.d2 = t.d2)
        )
        """,
    category="dedup",
    doc="LSH band-configuration tradeoff — the tuning loop run on a "
    "sample before committing a 100 TB dedup pass: the SAME 16 MinHash "
    "minima banded two ways (4 bands x 4 rows = recall-leaning, "
    "2 bands x 8 rows = precision-leaning), each config's candidate "
    "count and recall measured against the exact-Jaccard truth in one "
    "query.  More bands / fewer rows per band shifts the S-curve left "
    "(more candidates, higher recall) — this op quantifies that knob "
    "with exact integers so the choice is data-driven, not folklore.  "
    "Signatures are computed once; each banding is a cheap re-stack.",
)
def dedup_lsh_band_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    # Both configs and all six counts reuse the signature table and the
    # exact truth; localCheckpoint materializes each once instead of
    # re-running the quadratic truth join per count (measured ~2x).
    minh = _minhash(sh).transform(truncate_lazy)
    truth = (
        _jaccard_pairs(sh, minh.select("doc_id", "n"))
        .select("d1", "d2")
        .transform(truncate_lazy)
    )
    out = None
    for config, rows in (("4x4", 4), ("2x8", 8)):
        cand = _band_pairs(_bands(minh, rows)).select("d1", "d2")
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
        n_hit = truth.join(cand, ["d1", "d2"]).agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        row = (
            n_cand.crossJoin(n_true)
            .crossJoin(n_hit)
            .select(
                F.lit(config).alias("config"),
                "n_candidates",
                "n_true",
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double")
                    / F.nullif(F.col("n_true"), F.lit(0)).cast("double"),
                    6,
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "dedup_clusters_lsh",
    oracle=f"""
        WITH RECURSIVE {_ORACLE_SHINGLES},
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
        edges AS (
            SELECT c.d1, c.d2
            FROM cand c
            JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
            JOIN sizes sa ON sa.doc_id = c.d1
            JOIN sizes sb ON sb.doc_id = c.d2
            -- the Spark side consumes dedup_minhash_lsh's ROUNDED 6-dp
            -- jaccard column; threshold the same rounded value here
            WHERE round(i.i::DOUBLE / (sa.n + sb.n - i.i), 6) >= 0.25
        ),
        sym AS (SELECT d1 AS u, d2 AS v FROM edges
                UNION SELECT d2, d1 FROM edges),
        reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        )
        SELECT u AS doc_id, min(v) AS cluster_id, count(*) AS cluster_size
        FROM reach GROUP BY u
        """,
    category="dedup",
    doc="Near-dup clustering over the MinHash-LSH edge set — the SCALE "
    "path of dedup_clusters, completing the production fuzzy-dedup "
    "chain (LSH candidates → exact verify → components → keep min per "
    "cluster): the same min-label-propagation loop, but the edge set "
    "comes from the linear-shuffle LSH stage instead of the quadratic "
    "inverted index, so the whole pipeline is candidates-bounded end "
    "to end.  Deterministic md5-derived hashing keeps even the "
    "clustered output exactly oracle-checkable (recursive-CTE "
    "transitive closure over the identical edge set).",
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.25)
        .select("d1", "d2")
    )
    return _min_label_components(edges)


_DF_CAP = 50  # shingles appearing in more docs than this are stop-shingles


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        df AS (SELECT s, count(*) AS df FROM shh GROUP BY s),
        kept AS (
            SELECT shh.doc_id, shh.s
            FROM shh JOIN df ON df.s = shh.s
            WHERE df.df <= {_DF_CAP}
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        """,
    category="dedup",
    doc="Document-frequency-capped Jaccard pairing — the hot-shingle "
    "mitigation dedup_ngram_jaccard's docstring prescribes for scale, "
    "made real: shingles appearing in more than 50 documents are "
    "stop-shingles (boilerplate n-grams whose posting lists drive the "
    "quadratic blowup — a shingle in f docs creates f^2/2 pairs) and "
    "are dropped BEFORE the self-join, so pair work is bounded by "
    "cap^2 per shingle.  Jaccard is then computed over the capped "
    "shingle sets — a deliberate, measurable approximation "
    "(boilerplate-only overlaps disappear; near-dup pairs driven by "
    "distinctive content survive).  One extra df aggregate on the "
    "8-byte hash; everything else is the exact pipeline's shape.",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    kept = sh.join(df.filter(F.col("df") <= _DF_CAP), "s").select("doc_id", "s")
    return _jaccard_pairs(kept)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, {_ORACLE_H60.format(x="tok")} AS h
            FROM toks WHERE tok <> ''
        ),
        bits AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS bit)
            GROUP BY doc_id, bit
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, band, (simhash >> (band * 8)) & 255 AS sig
            FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        )
        SELECT d1, d2,
               bit_count(xor(sa.simhash, sb.simhash)) AS hamming
        FROM cand
        JOIN sigs sa ON sa.doc_id = d1
        JOIN sigs sb ON sb.doc_id = d2
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
        """,
    category="dedup",
    doc="SimHash near-dup PAIRS — the band-join stage the signature "
    "operator (dedup_simhash) feeds: the 32-bit signature splits into "
    "4 x 8-bit bands, documents sharing any band become candidates "
    "(pigeonhole: hamming <= 3 GUARANTEES a shared band; the <= 6 "
    "threshold trades that guarantee for recall like every banded "
    "scheme), and candidates verify by exact popcount Hamming "
    "distance.  Same linear-shuffle shape as MinHash banding and the "
    "pHash image path — candidates scale with band collisions, one "
    "int64 signature per doc is all that ever shuffles.  SimHash "
    "catches weighted-token-frequency similarity that set-based "
    "Jaccard discounts; the two methods' loser sets intentionally "
    "differ.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 optimization round: the band self-join's two branches each
    # recompute the FULL signature chain (scan -> explode -> hash ->
    # 32-sum aggregate; the plan showed two complete copies and zero
    # ReusedExchange), so the 2-column doc-scale sig table is lazily
    # truncated — the minhash-band pattern — and the chain runs once.
    # Same-session A/B (probes/r13/simhash_fanout_ab.py): 3.28 s ->
    # 2.77 s at sf0.1; at corpus scale the saving is the whole second
    # O(tokens) signature pass.  (.cache() measured faster still, 1.86,
    # but its canonical-plan lookup would let later bench trials skip
    # the compute entirely — cross-trial reuse, the reason this round's
    # minhash fix also chose lazy truncation.)
    sigs = dedup_simhash(spark, sf_dir).transform(truncate_lazy)
    bands = sigs.selectExpr(
        "doc_id",
        "simhash",
        "stack(4, 0, shiftright(simhash, 0) & 255,"
        "         1, shiftright(simhash, 8) & 255,"
        "         2, shiftright(simhash, 16) & 255,"
        "         3, shiftright(simhash, 24) & 255) AS (band, sig)",
    )
    # The band rows CARRY the full signature (+8 bytes per row), so the
    # self-join emits both signatures directly and the Hamming verify is
    # a scan-side popcount — no join back to a doc-count-sized signature
    # table (which at 1B docs is far past broadcast range, i.e. two
    # extra keyed shuffles in the old shape).
    #
    # r13 optimization round, sf1-soak follow-up: the pair set is
    # intrinsically QUADRATIC in colliding docs (105M rows at sf1 vs
    # 1.09M at sf0.1), and the old `.distinct()` shuffled every
    # (pair, band) duplicate of it — up to 4 copies per pair.  A pair
    # is instead emitted only from its FIRST matching band (a scan-side
    # predicate over the two carried signatures: for the joined row's
    # band b, bands < b must all differ — exactly one survivor per
    # pair, so the output IS the distinct set and the pair-level
    # exchange is gone).  Proven at sf1 (probes/r13/simhash_minband_ab.py):
    # identical 105,157,386 rows, zero dup pairs, exceptAll empty both
    # ways; 101-112 s -> 42-46 s (2.4x).  (MinHash's band join,
    # _band_pairs, still dedups its pairs with an aggregate.)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))

    def _band_match(j: int):
        return (
            F.shiftright(F.col("h1"), 8 * j).bitwiseAND(F.lit(255))
            == F.shiftright(F.col("h2"), 8 * j).bitwiseAND(F.lit(255))
        )

    first_band = (
        F.when(_band_match(0), F.lit(0))
        .when(_band_match(1), F.lit(1))
        .when(_band_match(2), F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.sig") == F.col("bb.sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.band").alias("band"),
            F.col("ba.doc_id").alias("d1"),
            F.col("bb.doc_id").alias("d2"),
            F.col("ba.simhash").alias("h1"),
            F.col("bb.simhash").alias("h2"),
        )
        .filter((F.col("band") == first_band) & (hamming <= 6))
        .select("d1", "d2", hamming.alias("hamming"))
    )


@register(
    "dedup_method_agreement",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        exact_pairs AS (
            SELECT d1, d2 FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.25
        ),
        -- the Spark LSH side thresholds dedup_minhash_lsh's ROUNDED 6-dp
        -- jaccard column (exact_pairs above mirrors dedup_ngram_jaccard's
        -- UNROUNDED filter) — keep both asymmetries faithfully
        lsh_verified AS (
            SELECT d1, d2 FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= 0.25
        ),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()}
            FROM (SELECT doc_id, s AS base FROM shh) GROUP BY doc_id
        ),
        bands AS (
            {_bands_sql("minh")}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id
        ),
        lsh_pairs AS (
            SELECT e.d1, e.d2 FROM lsh_verified e
            JOIN cand c ON c.d1 = e.d1 AND c.d2 = e.d2
        ),
        toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, {_ORACLE_H60.format(x="tok")} AS h
            FROM toks WHERE tok <> ''
        ),
        bits AS (
            SELECT doc_id, bit,
                   sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM hashed, (SELECT unnest(generate_series(0, {_SIM_BITS - 1})) AS bit)
            GROUP BY doc_id, bit
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        ),
        sbands AS (
            SELECT doc_id, band, (simhash >> (band * 8)) & 255 AS sig
            FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band) b
        ),
        scand AS (
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM sbands a JOIN sbands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        simhash_pairs AS (
            SELECT c.d1, c.d2
            FROM scand c
            JOIN sigs sa ON sa.doc_id = c.d1
            JOIN sigs sb ON sb.doc_id = c.d2
            WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
        )
        SELECT method_a, method_b,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(n_common AS BIGINT) AS n_common
        FROM (
            SELECT 'exact' AS method_a, 'lsh' AS method_b,
                   (SELECT count(*) FROM exact_pairs) AS n_a,
                   (SELECT count(*) FROM lsh_pairs) AS n_b,
                   (SELECT count(*) FROM exact_pairs e
                    JOIN lsh_pairs l ON l.d1 = e.d1 AND l.d2 = e.d2) AS n_common
            UNION ALL
            SELECT 'exact', 'simhash',
                   (SELECT count(*) FROM exact_pairs),
                   (SELECT count(*) FROM simhash_pairs),
                   (SELECT count(*) FROM exact_pairs e
                    JOIN simhash_pairs s ON s.d1 = e.d1 AND s.d2 = e.d2)
            UNION ALL
            SELECT 'lsh', 'simhash',
                   (SELECT count(*) FROM lsh_pairs),
                   (SELECT count(*) FROM simhash_pairs),
                   (SELECT count(*) FROM lsh_pairs l
                    JOIN simhash_pairs s ON s.d1 = l.d1 AND s.d2 = l.d2)
        )
        """,
    category="dedup",
    doc="Dedup method-agreement matrix — the capstone eval that answers "
    "'do our fuzzy methods find the same duplicates': pairwise overlap "
    "counts between the exact-Jaccard truth pairs, the MinHash-LSH "
    "verified pairs (⊆ exact by construction — their gap IS the LSH "
    "recall loss), and the SimHash Hamming pairs (weighted-frequency "
    "similarity, intentionally a DIFFERENT notion — low agreement "
    "with Jaccard is signal, not error).  Run at sample scale when "
    "choosing which method (or union of methods) a 100 TB dedup pass "
    "should trust.  Each pair set is the registered operator's exact "
    "plan; the matrix is three broadcast-joined counts.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The exact and LSH legs read one shingle set, hashed once.
    sh = _shingle_df(spark, sf_dir)
    exact = _jaccard_pairs(sh).select("d1", "d2").transform(truncate_lazy)
    lsh = (
        _minhash_lsh(sh)
        .filter(F.col("jaccard") >= 0.25)
        .select("d1", "d2")
        .transform(truncate_lazy)
    )
    simhash = dedup_simhash_pairs(spark, sf_dir).select("d1", "d2").transform(truncate_lazy)

    def row(name_a, name_b, a, b):
        na = a.agg(F.count(F.lit(1)).alias("n_a"))
        nb = b.agg(F.count(F.lit(1)).alias("n_b"))
        nc = a.join(b, ["d1", "d2"]).agg(F.count(F.lit(1)).alias("n_common"))
        return (
            na.crossJoin(nb)
            .crossJoin(nc)
            .select(
                F.lit(name_a).alias("method_a"),
                F.lit(name_b).alias("method_b"),
                F.col("n_a").cast("bigint"),
                F.col("n_b").cast("bigint"),
                F.col("n_common").cast("bigint"),
            )
        )

    return (
        row("exact", "lsh", exact, lsh)
        .unionAll(row("exact", "simhash", exact, simhash))
        .unionAll(row("lsh", "simhash", lsh, simhash))
    )


@register(
    "text_substring_dedup_cut",
    oracle="""
        WITH d AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        g AS (
            SELECT doc_id, len(w) AS n, i AS pos,
                   md5(list_aggregate(w[i : i+9], 'string_agg', ' ')) AS h
            FROM d, unnest(generate_series(1, len(w) - 9)) AS t(i)
            WHERE len(w) >= 10
        ),
        keeper AS (
            SELECT h, min(doc_id) AS keep_doc FROM g GROUP BY h
            HAVING count(DISTINCT doc_id) > 1
        ),
        hits AS (
            SELECT g.doc_id, g.n, g.pos, g.pos + 9 AS e
            FROM g JOIN keeper k ON k.h = g.h AND g.doc_id <> k.keep_doc
        ),
        marked AS (
            SELECT doc_id, n, pos, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_e
            FROM hits
        ),
        islands AS (
            SELECT doc_id, n, pos, e,
                   sum(CASE WHEN prev_e IS NULL OR pos > prev_e
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS isl
            FROM marked
        )
        SELECT doc_id,
               CAST(any_value(n) AS BIGINT) AS n_before,
               CAST(sum(cov) AS BIGINT) AS n_removed,
               CAST(any_value(n) - sum(cov) AS BIGINT) AS n_after
        FROM (SELECT doc_id, n, isl, max(e) - min(pos) + 1 AS cov
              FROM islands GROUP BY doc_id, n, isl)
        GROUP BY doc_id
        """,
    category="dedup",
    doc="Substring-dedup CUT — the transformation half of "
    "text_substring_dup_spans, with the Lee et al. keep-one rule: for "
    "every cross-document 10-token duplicated span, the LOWEST doc_id "
    "keeps its text and every other occurrence is cut (merged-island "
    "coverage removed), reported as per-doc before/removed/after token "
    "counts — the numbers a pipeline logs when it rewrites the corpus. "
    "Cutting all occurrences would delete the content from the corpus "
    "entirely; the keeper rule preserves exactly one copy.  Same "
    "linear-shuffle shape as the span finder (16-byte gram hashes + "
    "per-doc windows over flagged positions only) plus one keeper "
    "aggregate on the gram hash.",
)
def text_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("doc_id", "text"), sf_dir
    ).select("doc_id", F.split("text", _WS).alias("w"))
    sized = docs.filter(F.size("w") >= 10).select(
        "doc_id", F.size("w").alias("n"), "w"
    )
    gram = F.transform(
        F.sequence(F.lit(1), F.col("n") - 9),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, 10)).cast("binary")).alias(
                "h"
            ),
        ),
    )
    g = sized.select("doc_id", "n", F.explode(gram).alias("ph")).select(
        "doc_id", "n", F.col("ph.pos").alias("pos"), F.col("ph.h").alias("h")
    )
    keeper = (
        g.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("nd") > 1)
        .select("h", "keep_doc")
    )
    hits = (
        g.join(keeper, "h")
        .filter(F.col("doc_id") != F.col("keep_doc"))
        .withColumn("e", F.col("pos") + 9)
        .select("doc_id", "n", "pos", "e")
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    )
    new_island = F.when(
        F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e")), 1
    ).otherwise(0)
    islands = (
        hits.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn("isl", F.sum(new_island).over(w_run))
    )
    return (
        islands.groupBy("doc_id", "n", "isl")
        .agg((F.max("e") - F.min("pos") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(
            F.any_value("n").cast("bigint").alias("n_before"),
            F.sum("cov").cast("bigint").alias("n_removed"),
            (F.any_value("n") - F.sum("cov")).cast("bigint").alias("n_after"),
        )
    )


@register(
    "dedup_containment_lsh",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        based AS (
            SELECT doc_id, {_ORACLE_H60.format(x="s")} AS base
            FROM sh
        ),
        minh AS (
            SELECT doc_id,
                   {_minh_cols_sql()}
            FROM (SELECT doc_id, s AS base FROM (SELECT doc_id, base AS s FROM based))
            GROUP BY doc_id
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
            SELECT c.d1, c.d2, count(*) AS i
            FROM cand c
            JOIN based a ON a.doc_id = c.d1
            JOIN based b ON b.doc_id = c.d2 AND b.base = a.base
            GROUP BY c.d1, c.d2
        )
        SELECT contained_doc, container_doc,
               round(containment, 6) AS containment
        FROM (
            SELECT i.d1 AS contained_doc, i.d2 AS container_doc,
                   i.i::DOUBLE / sa.n AS containment
            FROM inter i JOIN sizes sa ON sa.doc_id = i.d1
            UNION ALL
            SELECT i.d2, i.d1, i.i::DOUBLE / sb.n
            FROM inter i JOIN sizes sb ON sb.doc_id = i.d2
        )
        WHERE containment >= 0.8
        """,
    category="dedup",
    doc="Banded containment — the LSH scale path "
    "dedup_containment_pairs' docstring prescribes: candidates come "
    "from the SAME MinHash band collisions as Jaccard LSH, and each "
    "candidate pair verifies containment in BOTH directions "
    "(|A∩B|/|A| and /|B|) since either side may be the contained "
    "one.  Known recall caveat, stated honestly: MinHash bands are "
    "tuned for symmetric Jaccard, so a tiny doc inside a huge one "
    "can miss the bucket (its minima are dominated by its own "
    "shingles) — at scale the fix is one-sided sketches "
    "(containment MinHash / SuperMinHash); the banding plumbing here "
    "is identical.  Verification touches candidates only.",
)
def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_df(spark, sf_dir)
    inter = _verify(sh, _band_pairs(_bands(_minhash(sh))))
    fwd = inter.select(
        F.col("d1").alias("contained_doc"),
        F.col("d2").alias("container_doc"),
        (F.col("i").cast("double") / F.col("n1")).alias("containment"),
    )
    rev = inter.select(
        F.col("d2").alias("contained_doc"),
        F.col("d1").alias("container_doc"),
        (F.col("i").cast("double") / F.col("n2")).alias("containment"),
    )
    return (
        fwd.unionAll(rev)
        .filter(F.col("containment") >= 0.8)
        .select(
            "contained_doc",
            "container_doc",
            F.round("containment", 6).alias("containment"),
        )
    )


# --- 13. incremental fuzzy dedup (daily batch vs persisted index) -------

_EST_MATCH_MIN = 8  # signature agreement >= 8/16 ~ estimated Jaccard 0.5


@register(
    "dedup_incremental_lsh",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS base FROM sh),
        minh AS (SELECT doc_id, {_minh_cols_sql()} FROM shh GROUP BY doc_id),
        bm AS (SELECT * FROM minh WHERE doc_id % 10 = 0),
        im AS (SELECT * FROM minh WHERE doc_id % 10 <> 0),
        bb AS (
            {_bands_sql("bm")}
        ),
        ib AS (
            {_bands_sql("im")}
        ),
        cand_idx AS (
            SELECT DISTINCT b.doc_id AS bd, i.doc_id AS idx
            FROM bb b JOIN ib i ON i.band = b.band AND i.sig = b.sig
        ),
        dup_idx AS (
            SELECT DISTINCT c.bd
            FROM cand_idx c
            JOIN minh ma ON ma.doc_id = c.bd
            JOIN minh mb ON mb.doc_id = c.idx
            WHERE {_matches_sql("ma", "mb")} >= {_EST_MATCH_MIN}
        ),
        cand_bb AS (
            SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
            FROM bb a JOIN bb c
              ON c.band = a.band AND c.sig = a.sig AND a.doc_id < c.doc_id
        ),
        losers AS (
            SELECT DISTINCT c.d2
            FROM cand_bb c
            JOIN minh ma ON ma.doc_id = c.d1
            JOIN minh mb ON mb.doc_id = c.d2
            WHERE {_matches_sql("ma", "mb")} >= {_EST_MATCH_MIN}
        ),
        batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc
        FROM (
            SELECT b.doc_id,
                   CASE WHEN di.bd IS NOT NULL THEN 'near_dup_of_index'
                        WHEN lo.d2 IS NOT NULL THEN 'near_dup_in_batch'
                        ELSE 'new' END AS status
            FROM batch b
            LEFT JOIN dup_idx di ON di.bd = b.doc_id
            LEFT JOIN losers lo ON lo.d2 = b.doc_id
        )
        GROUP BY status
        """,
    category="dedup",
    doc="Incremental FUZZY dedup against a persisted MinHash index — the "
    "near-dup twin of dedup_incremental_index, i.e. how a 100 TB "
    "corpus actually near-dedups a daily ingest: the historical corpus "
    "is represented only by its stored (band, sig) postings and 16 "
    "minima per doc (the index never re-shingles), the batch computes "
    "signatures scan-side, band collisions propose batch-vs-index and "
    "batch-vs-batch candidates, and verification uses SIGNATURE "
    "AGREEMENT (>= 8/16 ~ Jaccard 0.5) — exact-Jaccard verify would "
    "need the index side's shingles, which is precisely the re-scan "
    "the index exists to avoid (dedup_minhash_estimate_error measures "
    "what the estimate costs in accuracy).  Output is the triage "
    "ledger (near_dup_of_index / near_dup_in_batch / new); intra-batch "
    "losers resolve to the min-doc_id keeper.  Work scales with the "
    "batch and its collisions, never the corpus; candidate-verify "
    "joins carry no broadcast hint (the index is corpus-scale).  "
    "Fixture split: doc_id % 10 == 0 is the incoming batch.",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The signatures are the only reader of the set, and they are
    # truncated, so the set itself is not cached.
    minh = _minhash(_hashed_shingles(spark, sf_dir)).transform(truncate_lazy)
    is_batch = F.col("doc_id") % 10 == 0
    bands = _bands(minh)
    bb = bands.filter(is_batch)
    ib = bands.filter(~is_batch)
    matches = _matches("ma", "mb")
    ma, mb = minh.alias("ma"), minh.alias("mb")

    cand_idx = (
        bb.alias("b")
        .join(
            ib.alias("i"),
            (F.col("i.band") == F.col("b.band")) & (F.col("i.sig") == F.col("b.sig")),
        )
        .select(F.col("b.doc_id").alias("bd"), F.col("i.doc_id").alias("idx"))
        .distinct()
    )
    dup_idx = (
        cand_idx.join(ma, F.col("ma.doc_id") == F.col("bd"))
        .join(mb, F.col("mb.doc_id") == F.col("idx"))
        .filter(matches >= _EST_MATCH_MIN)
        .select("bd")
        .distinct()
        .withColumn("hit_idx", F.lit(1))
    )
    losers = (
        _band_pairs(bb)
        .join(ma, F.col("ma.doc_id") == F.col("d1"))
        .join(mb, F.col("mb.doc_id") == F.col("d2"))
        .filter(matches >= _EST_MATCH_MIN)
        .select("d2")
        .distinct()
        .withColumn("hit_bb", F.lit(1))
    )
    batch = t(spark, sf_dir, "documents").filter(is_batch).select("doc_id")
    status = (
        F.when(F.col("hit_idx").isNotNull(), "near_dup_of_index")
        .when(F.col("hit_bb").isNotNull(), "near_dup_in_batch")
        .otherwise("new")
    )
    return (
        batch.join(dup_idx, batch.doc_id == dup_idx.bd, "left")
        .join(losers, batch.doc_id == losers.d2, "left")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "dedup_cluster_representatives",
    oracle=f"""
        WITH clusters AS (
            SELECT * FROM ({{dedup_clusters_oracle}}) c
        ),
        ranked AS (
            SELECT c.cluster_id, c.cluster_size, c.doc_id, d.source, d.n_chars,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC, c.doc_id) AS rk
            FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        )
        SELECT cluster_id, doc_id AS rep_doc, source AS rep_source,
               CAST(n_chars AS BIGINT) AS rep_chars, cluster_size
        FROM ranked WHERE rk = 1
        """,
    category="dedup",
    doc="Representative selection for near-dup clusters: instead of "
    "keep-lowest-id, each cluster keeps its highest-quality member "
    "(longest document, doc_id tiebreak) — the policy production "
    "pipelines actually want, since the near-dups of a page are its "
    "truncations and boilerplate-stripped variants.  Plan: the "
    "connected-components labels (cluster-membership scale, tiny vs the "
    "corpus) join back to documents for the quality columns — AQE "
    "broadcasts the label side — then one row_number window per "
    "cluster.  Only clustered docs join; the corpus never reshuffles.",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = dedup_clusters(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        cl.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc"),
            F.col("source").alias("rep_source"),
            F.col("n_chars").cast("bigint").alias("rep_chars"),
            "cluster_size",
        )
    )


# Compose the representative oracle from the registered clusters oracle so
# the two can never drift apart.
QUERIES["dedup_cluster_representatives"].oracle = QUERIES[
    "dedup_cluster_representatives"
].oracle.format(dedup_clusters_oracle=QUERIES["dedup_clusters"].oracle)


@register(
    "text_suffix_array",
    oracle="""
        WITH docs AS (SELECT doc_id, text FROM documents
                      WHERE doc_id < 30 AND len(text) >= 1),
        sfx AS (
            SELECT doc_id, p AS pos, text[p:] AS suffix
            FROM (SELECT doc_id, text,
                         unnest(generate_series(1, len(text))) AS p
                  FROM docs)
        ),
        ranked AS (
            SELECT doc_id, pos, suffix,
                   row_number() OVER (ORDER BY suffix, doc_id, pos) AS rk
            FROM sfx
        )
        SELECT CAST(rk AS BIGINT) AS sa_rank,
               doc_id,
               CAST(pos AS BIGINT) AS pos,
               substring(suffix, 1, 8) AS prefix8
        FROM ranked
        WHERE rk <= 25
        """,
    category="dedup",
    doc="Distributed suffix array by PREFIX DOUBLING — the real "
    "machinery behind exact substring dedup (Lee et al. 2022 build "
    "suffix arrays where text_substring_dup_spans approximates with "
    "k-grams).  Round k sorts suffixes by the integer pair "
    "(rank[i], rank[i+2^k]) and re-ranks, so suffix ORDER converges in "
    "log(maxlen) rounds while only fixed-width int64 keys ever "
    "shuffle — the O(n^2) suffix bytes the naive sort would "
    "materialize never exist.  Ranking within a round is the tera-sort "
    "pattern: range-partitioned sort, per-partition row counts (one "
    "row per partition) prefix-summed into global offsets, "
    "global index = offset + intra-partition row_number, and "
    "rank = min(index) over equal keys — deterministic regardless of "
    "sampled range boundaries because the underlying total order "
    "carries a (doc, pos) tie-break.  The demo runs on a bounded "
    "30-document slice (like source_binaryfile's fixture); at corpus "
    "scale the identical plan runs per shard with the same "
    "log-round sort budget.  The oracle sorts materialized suffix "
    "strings — affordable only at fixture scale, which is the point.  "
    "Output: the first 25 suffix-array entries with display prefixes.",
)
def text_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        t(spark, sf_dir, "documents")
        # length >= 1: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
        # for empty text (default step -1) and would fabricate phantom
        # rank-0 suffixes DuckDB's generate_series never produces.
        .filter((F.col("doc_id") < 30) & (F.length("text") >= 1))
        .select("doc_id", "text")
    )
    # Loop-control scalars from the bounded slice (exempt driver action;
    # one action carries both the round budget and the suffix count).
    maxlen, total_sfx = docs.agg(
        F.max(F.length("text")), F.sum(F.length("text"))
    ).collect()[0]
    # r13 optimization round (guide §2.6): the tera-sort range-partition
    # count derives from the input instead of a constant — one partition
    # per ~1M int64-pair rows, floor 8.  At fixture scale (tens of KB of
    # suffixes) this evaluates to exactly the old 8, so the checkpointed
    # layout and every rank are unchanged; on a corpus-scale shard the
    # sort width grows with the shard instead of funnelling through 8
    # ranges.  Ranks are layout-independent by construction (the total
    # order carries a (doc, pos) tie-break and rank = min(gidx) over
    # equal keys), so the partition count only moves WHERE rows sit,
    # never what rank they get.
    n_range_parts = max(8, -(-int(total_sfx) // 1_000_000))
    r = docs.select(
        F.col("doc_id").alias("d"),
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("p"),
        "text",
    ).select(
        "d",
        "p",
        F.expr("ascii(substr(text, p, 1))").cast("bigint").alias("rank"),
        # suffix length, carried for the early-termination rule below
        (F.length("text") - F.col("p") + 1).alias("slen"),
    ).transform(truncate_eager)

    k = 1
    while k < maxlen:
        # rank[p+k] via a per-doc lead() window instead of a self-join:
        # one shuffle by doc instead of a join shuffle per round (r8
        # judge task 6).  Scale shape: a document's suffixes co-locate
        # in one partition — sound for bounded-length docs, which is
        # the corpus contract everywhere else in this module.
        keyed = r.select(
            "d",
            "p",
            "slen",
            F.col("rank").alias("r1"),
            F.coalesce(
                F.lead("rank", k).over(W.partitionBy("d").orderBy("p")),
                F.lit(0),
            ).alias("r2"),
        )
        # Materialize the range partitioning ONCE: offsets and the
        # row_number pass are separate jobs, and an un-checkpointed
        # repartitionByRange re-executes (and may re-SAMPLE boundaries)
        # per job — offsets from one layout + indexes from another give
        # inconsistent global positions.
        srt = (
            keyed.repartitionByRange(n_range_parts, "r1", "r2")
            .withColumn("pid", F.spark_partition_id())
            .transform(truncate_eager)
        )
        offsets = (
            srt.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "off",
                F.coalesce(
                    F.sum("c").over(
                        W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .select("pid", "off")
        )
        li = W.partitionBy("pid").orderBy("r1", "r2", "d", "p")
        idx = (
            srt.withColumn("li", F.row_number().over(li))
            .join(F.broadcast(offsets), "pid")
            .select(
                "d", "p", "slen", "r1", "r2",
                (F.col("off") + F.col("li")).alias("gidx"),
            )
        )
        # r13 optimization round: the early-termination signal is
        # computed IN the rank rollup — (r1, r2) groups ARE the new
        # rank groups (minima of disjoint gidx sets are distinct), so
        # group size and max suffix length ride the same aggregation
        # and the per-round convergence check becomes a cheap filter
        # over the checkpoint instead of its own groupBy+exchange job.
        ranks = idx.groupBy("r1", "r2").agg(
            F.min("gidx").alias("new_rank"),
            F.count(F.lit(1)).alias("_c"),
            F.max("slen").alias("_ml"),
        )
        nk = k * 2  # the unresolved rule compares against the NEXT width
        r = (
            idx.join(ranks, ["r1", "r2"])
            .select(
                "d",
                "p",
                "slen",
                F.col("new_rank").alias("rank"),
                ((F.col("_c") > 1) & (F.col("_ml") > nk)).alias("_unres"),
            )
            .transform(truncate_eager)
        )
        k = nk
        # Early termination (r8 judge task 6): all-ranks-distinct never
        # happens on real corpora — byte-identical suffixes ACROSS docs
        # (common short endings, duplicate documents) tie forever.  The
        # correct stop rule: a tied group is PERMANENTLY resolved once
        # its longest member is no longer than the compared width k —
        # the whole suffix (0-padded past its end) has then been
        # compared, so the members are equal strings and no future
        # round can split them.  Stop when no tied group still has a
        # member longer than k.  At sf0.1 this ends after round 5-6 of
        # the fixed 10-round log(maxlen) schedule; the saving is the
        # same log-factor at corpus scale.
        unresolved = r.filter(F.col("_unres")).limit(1).count()
        r = r.select("d", "p", "slen", "rank")
        if unresolved == 0:
            break

    top = r.orderBy("rank", "d", "p").limit(25)
    w = W.orderBy("rank", "d", "p")  # 25 rows — global window is safe here
    return (
        top.withColumn("sa_rank", F.row_number().over(w).cast("bigint"))
        .join(F.broadcast(docs), F.col("d") == F.col("doc_id"))
        .select(
            "sa_rank",
            "doc_id",
            F.col("p").cast("bigint").alias("pos"),
            F.expr("substr(text, p, 8)").alias("prefix8"),
        )
    )


# Prefix-filtering similarity join threshold (Jaccard >= 1/2), kept as
# an exact rational so every filter below is integer arithmetic.
_PPJ_NUM, _PPJ_DEN = 1, 2


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
        WITH {_ORACLE_SHINGLES},
        shh AS (SELECT doc_id, {_ORACLE_H60.format(x='s')} AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = d1
        JOIN sizes sb ON sb.doc_id = d2
        WHERE i * {_PPJ_DEN} >= (sa.n + sb.n - i) * {_PPJ_NUM}
        """,
    category="dedup",
    doc="EXACT similarity join by prefix filtering (the PPJoin/AllPairs "
    "family, Xiao et al. WWW'08; Bayardo et al. WWW'07) — the third "
    "near-dup algorithm class next to exact-quadratic and MinHash-LSH: "
    "exact like the quadratic join (NO false negatives, unlike LSH) "
    "but subquadratic in practice.  Shingle sets order by ascending "
    "document frequency (rarest first, ties broken by the 60-bit hash "
    "— a total order both engines share); for Jaccard >= t a pair must "
    "collide inside each side's first n - ceil(t*n) + 1 tokens, so "
    "only those PREFIX tokens are exploded into the inverted index, "
    "and frequent shingles — the quadratic hot spots — sit at the "
    "suffix end and never generate candidates.  A size filter "
    "(min*den >= max*num) prunes length-incompatible survivors, and "
    "only candidates pay the exact intersection (threshold checked in "
    "integers, i*den >= (union)*num).  The ORACLE is the full "
    "quadratic truth, so the hash comparison IS the completeness "
    "theorem checked end-to-end.  At 100 TB: df ranking is one "
    "shuffle, prefixes shrink the index by ~t/(1+t), and verify cost "
    "scales with candidates, not corpus².",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ``ranked`` below is the only reader of the set, and it is
    # truncated, so the set itself is not cached.
    sh = _hashed_shingles(spark, sf_dir)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # per-doc shingle set in global (df, s) order: arr drives the
    # prefix; sarr (values only) is the verify payload carried ONCE per
    # doc, so verification is a per-pair array_intersect in codegen,
    # never a per-shingle fan-out join (measured 59x-on-10x-data blowup
    # in the first cut — BENCH_sf1.json r7_additions, NOTES_r07.md).
    ranked = (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("n"),
            F.expr("transform(arr, x -> x.s)").alias("sarr"),
            "arr",
        )
        .transform(truncate_eager)
    )
    pref_len = (
        f"size(arr) - (({_PPJ_NUM} * size(arr) + {_PPJ_DEN} - 1)"
        f" div {_PPJ_DEN}) + 1"
    )
    pref = ranked.select(
        "doc_id",
        "n",
        F.posexplode(F.expr(f"slice(arr, 1, {pref_len})")).alias("idx", "p"),
    ).select("doc_id", "n", "idx", F.col("p.s").alias("s"))
    a, b = pref.alias("a"), pref.alias("b")
    # candidate generation with BOTH classic in-join prunes evaluated at
    # hash-probe time (before any shuffle of pair rows):
    #  - size filter: J >= t needs min*den >= max*num;
    #  - PPJoin positional filter: a collision at 0-based prefix
    #    positions (ia, ib) bounds the overlap by
    #    min(na - ia, nb - ib), which must reach the minimal overlap
    #    alpha = ceil(num*(na+nb) / (num+den)); the FIRST common token
    #    of any truly-similar pair satisfies it, so completeness holds.
    alpha_ok = (
        F.least(
            F.col("a.n") - F.col("a.idx"), F.col("b.n") - F.col("b.idx")
        )
        * (_PPJ_NUM + _PPJ_DEN)
        >= (F.col("a.n") + F.col("b.n")) * _PPJ_NUM
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n") * _PPJ_DEN
                >= F.greatest("a.n", "b.n") * _PPJ_NUM
            )
            & alpha_ok,
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
        .distinct()
    )
    va = ranked.select(
        F.col("doc_id").alias("d1"),
        F.col("n").alias("na"),
        F.col("sarr").alias("sa"),
    )
    vb = ranked.select(
        F.col("doc_id").alias("d2"),
        F.col("n").alias("nb"),
        F.col("sarr").alias("sb"),
    )
    inter = (
        cand.join(va, "d1")
        .join(vb, "d2")
        .select(
            "d1",
            "d2",
            "na",
            "nb",
            F.size(F.array_intersect("sa", "sb")).alias("i"),
        )
    )
    union = F.col("na") + F.col("nb") - F.col("i")
    return (
        inter.filter(F.col("i") * _PPJ_DEN >= union * _PPJ_NUM)
        .select(
            "d1",
            "d2",
            F.round(F.col("i").cast("double") / union, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_segments_bulk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        segs AS (
            SELECT doc_id, CAST(i AS BIGINT) AS seg_id,
                   array_to_string(w[(i*10 + 1):(i*10 + 10)], ' ') AS seg
            FROM toks,
                 UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
            WHERE len(w) > 0
        ),
        firsts AS (
            SELECT seg, min(doc_id * 100000 + seg_id) AS first_key
            FROM segs GROUP BY seg
        )
        SELECT s.doc_id,
               count(*) AS n_segs,
               CAST(sum(CASE WHEN s.doc_id * 100000 + s.seg_id = f.first_key
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN s.doc_id * 100000 + s.seg_id = f.first_key
                             THEN length(s.seg) ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM segs s JOIN firsts f ON s.seg = f.seg
        GROUP BY s.doc_id
        """,
    category="dedup",
    doc="CCNet-style bulk segment dedup (Wenzek et al. 2020): every "
    "document is cut into fixed 10-token segments and a segment "
    "instance survives only if it is the corpus-GLOBAL first "
    "occurrence (min (doc_id, seg_id)) of its content — the "
    "paragraph-level crawl dedup that removes boilerplate repeated "
    "across pages, a different class from doc-level exact/near dedup "
    "(it edits inside documents).  Scale shape: segments are built "
    "with sequence/slice/concat_ws entirely in codegen (one corpus "
    "scan, no Python), and the global first-instance rule is a window "
    "min over the digest partition — ONE shuffle keyed on "
    "xxhash64(segment) + one packed BIGINT key, never segment text "
    "(the dedup_exact digest rule), so shuffle bytes are "
    "~16/row regardless of segment length and there is no O(corpus) "
    "firsts table to join (or worse, broadcast) back.  The oracle "
    "joins on raw segment text, "
    "so the digest shortcut is itself verified collision-free end-to-"
    "end.  Output: per-doc segment counts + surviving chars.",
)
def dedup_segments_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    )
    nseg = F.ceil(F.size("w") / F.lit(10.0)).cast("int")
    segarr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i * 10 + 1, 10)),
    )
    segs = (
        docs.filter(F.size("w") > 0)
        .select("doc_id", F.posexplode(segarr).alias("seg_id", "seg"))
        .select(
            "doc_id",
            "seg_id",
            F.length("seg").alias("seg_len"),
            F.xxhash64("seg").alias("dig"),
            (F.col("doc_id") * 100000 + F.col("seg_id")).alias("inst_key"),
        )
    )
    # first-instance key via a window min over the digest partition —
    # ONE shuffle keyed on the 8-byte digest, no self-join: the
    # aggregate-then-join twin re-materializes an O(corpus) `firsts`
    # table that the optimizer is tempted to broadcast (fine at sf0.1,
    # a driver OOM at 100 TB).
    wd = W.partitionBy("dig")
    return (
        segs.withColumn("first_key", F.min("inst_key").over(wd))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(
                F.when(F.col("inst_key") == F.col("first_key"), 1).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(
                    F.col("inst_key") == F.col("first_key"), F.col("seg_len")
                ).otherwise(0)
            ).alias("kept_chars"),
        )
    )


@register(
    "dedup_segments_bulk_skewed",
    oracle="""
        WITH boosted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'the quick brown fox jumps over the lazy '
                             || 'dog again ' || text
                        ELSE text END AS text
            FROM documents
        ),
        toks AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM boosted
        ),
        segs AS (
            SELECT doc_id, CAST(i AS BIGINT) AS seg_id,
                   array_to_string(w[(i*10 + 1):(i*10 + 10)], ' ') AS seg
            FROM toks,
                 UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
            WHERE len(w) > 0
        ),
        firsts AS (
            SELECT seg, min(doc_id * 100000 + seg_id) AS first_key
            FROM segs GROUP BY seg
        )
        SELECT s.doc_id,
               count(*) AS n_segs,
               CAST(sum(CASE WHEN s.doc_id * 100000 + s.seg_id = f.first_key
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN s.doc_id * 100000 + s.seg_id = f.first_key
                             THEN length(s.seg) ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM segs s JOIN firsts f ON s.seg = f.seg
        GROUP BY s.doc_id
        """,
    category="dedup",
    doc="ADVERSARIAL-SKEW twin of dedup_segments_bulk (r7 judge task 8): "
    "a 10-token boilerplate segment is planted at the head of HALF the "
    "corpus — the exact workload CCNet segment dedup exists for "
    "(cookie banners / nav bars repeated across a crawl) and the worst "
    "case for the base query's window-min, whose partitionBy(digest) "
    "puts every instance of the hot segment into ONE window partition "
    "on one task (windows have no partial aggregation; the buffer "
    "spills but the task serializes).  This twin computes the same "
    "first-instance rule skew-robustly: groupBy(dig).min(inst_key) — "
    "hash aggregation DOES partial-combine map-side, so the hot "
    "digest contributes ONE row per map task to the shuffle, the "
    "agg_skew_two_phase absorption pattern (skew.py:31) for the "
    "algebraic min — then a shuffle-hash join back on the 8-byte "
    "digest (hint('shuffle_hash'), plan-pinned in test_plans.py: the "
    "build side is the bounded per-partition firsts slice, never an "
    "O(corpus) broadcast, and the hot key streams N probe rows past "
    "ONE build row).  Shuffle bytes stay ~16/row; the oracle joins on "
    "raw segment text so the digest remains collision-checked under "
    "the planted duplication.",
)
def dedup_segments_bulk_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    boiler = "the quick brown fox jumps over the lazy dog again "
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(boiler), F.col("text")),
            ).otherwise(F.col("text")),
            r"\s+",
        ).alias("w"),
    )
    nseg = F.ceil(F.size("w") / F.lit(10.0)).cast("int")
    segarr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i * 10 + 1, 10)),
    )
    segs = (
        docs.filter(F.size("w") > 0)
        .select("doc_id", F.posexplode(segarr).alias("seg_id", "seg"))
        .select(
            "doc_id",
            F.length("seg").alias("seg_len"),
            F.xxhash64("seg").alias("dig"),
            (F.col("doc_id") * 100000 + F.col("seg_id")).alias("inst_key"),
        )
    )
    firsts = (
        segs.groupBy("dig")
        .agg(F.min("inst_key").alias("first_key"))
        .hint("shuffle_hash")
    )
    return (
        segs.join(firsts, "dig")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(
                F.when(F.col("inst_key") == F.col("first_key"), 1).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(
                    F.col("inst_key") == F.col("first_key"), F.col("seg_len")
                ).otherwise(0)
            ).alias("kept_chars"),
        )
    )


@register(
    "dedup_segments_rewrite",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        segs AS (
            SELECT doc_id, CAST(i AS BIGINT) AS seg_id,
                   array_to_string(w[(i*10 + 1):(i*10 + 10)], ' ') AS seg
            FROM toks,
                 UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
            WHERE len(w) > 0
        ),
        keyed AS (
            SELECT doc_id, seg_id, seg,
                   min(doc_id * 100000 + seg_id)
                       OVER (PARTITION BY seg) AS first_key
            FROM segs
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN doc_id * 100000 + seg_id = first_key
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               string_agg(CASE WHEN doc_id * 100000 + seg_id = first_key
                               THEN seg END, ' ' ORDER BY seg_id)
                   AS text_out
        FROM keyed
        GROUP BY doc_id
        HAVING CAST(sum(CASE WHEN doc_id * 100000 + seg_id = first_key
                             THEN 1 ELSE 0 END) AS BIGINT) > 0
        """,
    category="dedup",
    doc="CCNet/C4 segment dedup with document REASSEMBLY — "
    "dedup_segments_bulk reports per-doc survival counts; this twin "
    "produces the actual edited corpus the next pipeline stage "
    "consumes (C4 §2.2 removes any three-sentence span seen before "
    "and keeps the REWRITTEN page; same rule here over fixed "
    "10-token segments, global first instance wins).  Plan: the "
    "same codegen segmentation and window-min-over-digest first-"
    "instance rule (one shuffle keyed on xxhash64(segment) — the "
    "segment TEXT rides this exchange because the survivors' text "
    "is the output, the same bytes any rewriting dedup must move), "
    "then one doc-keyed regroup where the surviving segments are "
    "collected, ordered by position (array_sort over (seg_id, seg) "
    "structs), and joined back into the rewritten text.  Docs whose "
    "every segment was seen before disappear (n_kept = 0 ⇒ C4 drops "
    "the page).  Two shuffles total at any scale; the oracle "
    "re-derives the rewrite from raw segment text, verifying the "
    "digest shortcut end-to-end.",
)
def dedup_segments_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    )
    nseg = F.ceil(F.size("w") / F.lit(10.0)).cast("int")
    segarr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i * 10 + 1, 10)),
    )
    segs = (
        docs.filter(F.size("w") > 0)
        .select("doc_id", F.posexplode(segarr).alias("seg_id", "seg"))
        .select(
            "doc_id",
            F.col("seg_id").cast("bigint").alias("seg_id"),
            "seg",
            F.xxhash64("seg").alias("dig"),
            (F.col("doc_id") * 100000 + F.col("seg_id")).alias("inst_key"),
        )
    )
    wd = W.partitionBy("dig")
    kept = F.col("inst_key") == F.col("first_key")
    return (
        segs.withColumn("first_key", F.min("inst_key").over(wd))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("seg_id", "seg"))
                        )
                    ),
                    lambda x: x["seg"],
                ),
            ).alias("text_out"),
        )
        .filter(F.col("n_kept") > 0)
    )
