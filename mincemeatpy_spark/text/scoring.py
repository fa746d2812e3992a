"""Corpus-statistics scoring operators — repetition, TF-IDF salience,
stopword profiles.

These extend the reference's native workload (word frequency over text,
reference README.md:76, example.py:12-18) into the quality-scoring ops a
training-data pipeline runs before dedup/filtering.  Everything is
built-in column expressions over explode + two-phase hash aggregates —
no Python in the hot path, so the corpus runs at scan speed and each
operator is one or two key-shuffles regardless of corpus size.

Determinism note: every ratio here is a single IEEE double division of
exactly-represented integers (token counts), so Spark and DuckDB produce
bit-identical values and the oracle hash-compare is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mincemeatpy_spark.operators._util import hash60
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t
from mincemeatpy_spark.text.analysis import tokens

# One row per non-empty token: (doc, token) — the shared first stage.
_TOKS_SQL = """
    SELECT doc_id, lang, word
    FROM (SELECT doc_id, lang,
                 unnest(string_split_regex(text, '\\s+')) AS word
          FROM documents)
    WHERE word <> ''
"""


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")


@register(
    "text_repetition_score",
    oracle=f"""
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS rep_ratio
        FROM (SELECT doc_id, word, count(*) AS c
              FROM ({_TOKS_SQL})
              GROUP BY doc_id, word)
        GROUP BY doc_id
        """,
    category="text",
    doc="Repetition scoring (the 'most-common-word ratio' quality filter "
    "from web-corpus pipelines): per document, total tokens, distinct "
    "tokens, and the share of the single most frequent token.  Two "
    "chained hash aggregates — (doc,word) then doc — both partial+final; "
    "the second reuses the first's doc_id clustering, and nothing is "
    "per-row Python.  Highly repetitive docs (high rep_ratio) are the "
    "ones a quality gate drops.",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_word = (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c")).alias("rep_ratio"),
    )


@register(
    "text_tfidf_topterms",
    oracle=f"""
        WITH wc AS (SELECT doc_id, word, count(*) AS tf
                    FROM ({_TOKS_SQL})
                    GROUP BY doc_id, word),
        df AS (SELECT word, count(*) AS df FROM wc GROUP BY word),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, word, score
        FROM (SELECT wc.doc_id, wc.word,
                     CAST(wc.tf AS DOUBLE) * n.n_docs / df.df AS score,
                     row_number() OVER (
                         PARTITION BY wc.doc_id
                         ORDER BY CAST(wc.tf AS DOUBLE) * n.n_docs / df.df DESC,
                                  wc.word) AS rk
              FROM wc JOIN df USING (word) CROSS JOIN n)
        WHERE rk <= 3
        """,
    category="text",
    doc="Top-3 salient terms per document by rational TF-IDF "
    "(tf * n_docs / doc_freq — a plain ratio instead of log-idf so the "
    "score is a deterministic IEEE expression, no libm variance between "
    "engines).  Plan: (doc,word) aggregate, word-level doc-frequency "
    "aggregate broadcast back (|vocab| rows, tiny vs the corpus), 1-row "
    "n_docs broadcast, then a per-doc row_number window.  The fact-sized "
    "shuffle happens once, on (doc,word).",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Vocabulary-scale (Heaps' law: grows with the corpus) — no broadcast
    # hint; AQE broadcasts only while the df table provably fits.
    df = wc.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = F.broadcast(
        t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    score = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("word")
    )
    return (
        wc.join(df, "word")
        .crossJoin(n)
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "score")
    )


@register(
    "text_stopword_profile",
    oracle=f"""
        WITH toks AS ({_TOKS_SQL}),
        top10 AS (SELECT word
                  FROM (SELECT word, count(*) AS c FROM toks GROUP BY word
                        ORDER BY c DESC, word LIMIT 10))
        SELECT lang,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN word IN (SELECT word FROM top10)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
               CAST(sum(CASE WHEN word IN (SELECT word FROM top10)
                             THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
               AS stop_ratio
        FROM toks
        GROUP BY lang
        """,
    category="text",
    doc="Stopword-ratio quality signal per language, with the stopword "
    "list derived from the corpus itself (global top-10 tokens) rather "
    "than hardcoded — the standard bootstrap when no curated list "
    "exists for a language.  The top-10 is a TakeOrderedAndProject over "
    "the word aggregate, broadcast back as a 10-row marker join "
    "(left outer + flag, so both stop and non-stop tokens count in one "
    "pass).  Corpus-sized data shuffles once, on word.",
)
def text_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir)
    top10 = F.broadcast(
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(10)
        .select("word", F.lit(1).alias("is_stop"))
    )
    return (
        toks.join(top10, "word", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("is_stop"), F.lit(0))).alias("n_stop"),
            (
                F.sum(F.coalesce(F.col("is_stop"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("stop_ratio"),
        )
    )


@register(
    "text_dup_ngram_fraction",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               (CAST(SUM(CAST(round((1.0 - CAST(n_distinct AS DOUBLE) / n_total)
                    * 1000000) AS BIGINT)) AS DOUBLE) / 1000000) AS sum_dup_frac,
               CAST(sum(CASE WHEN 5 * (n_total - n_distinct) > n_total
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        FROM (SELECT lang,
                     len(w) - 2 AS n_total,
                     len(list_distinct(list_transform(
                         generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS n_distinct
              FROM (SELECT lang, string_split_regex(text, '\\s+') AS w
                    FROM documents)
              WHERE len(w) >= 3)
        GROUP BY lang
        """,
    category="text",
    doc="Duplicated-n-gram-fraction quality rule (the Gopher/RefinedWeb "
    "repetition filter): per document, the fraction of its 3-gram "
    "occurrences beyond the first — 1 - distinct/total — then per "
    "language the doc count, summed dup-fraction (fixed-point), and how "
    "many docs a 20%-duplication gate would drop.  The whole per-doc "
    "score is array expressions on the scan (transform + array_distinct, "
    "no explode, no shuffle of shingles); only lang-keyed partials "
    "shuffle, so a 100 TB corpus scores at scan speed.",
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.operators._util import decsum
    from mincemeatpy_spark.tables import fan_out
    from mincemeatpy_spark.text.dedup import _shingles

    docs = fan_out(
        spark, t(spark, sf_dir, "documents").select("lang", "text"), sf_dir
    ).select("lang", F.split("text", r"\s+").alias("w"))
    per_doc = docs.filter(F.size("w") >= 3).select(
        "lang",
        (F.size("w") - 2).alias("n_total"),
        F.size(_shingles(F.col("w"))).alias("n_distinct"),
    )
    dup_frac = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_total")
    # 20% gate as integers (5*dups > total) — identical in both engines;
    # a float threshold cast would truncate here but round in DuckDB.
    flagged = (
        F.lit(5) * (F.col("n_total") - F.col("n_distinct")) > F.col("n_total")
    ).cast("int")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        decsum(dup_frac).alias("sum_dup_frac"),
        F.sum(flagged).cast("bigint").alias("n_flagged"),
    )


@register(
    "text_rare_token_score",
    oracle=f"""
        WITH toks AS ({_TOKS_SQL}),
        vocab AS (SELECT word, count(*) AS df FROM toks GROUP BY word)
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.df < 100 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rare,
               CAST(sum(CASE WHEN v.df < 100 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS rare_ratio
        FROM toks tk JOIN vocab v ON v.word = tk.word
        GROUP BY doc_id
        """,
    category="text",
    doc="Rarity-based quality scoring (the unigram-LM / CCNet-style gate, "
    "integer-exact instead of float-log perplexity): corpus-wide token "
    "frequencies, then per document the count and share of tokens whose "
    "corpus frequency is below 100 — high rare_ratio flags gibberish or "
    "OCR noise, near-zero flags boilerplate.  Two shuffles total (word "
    "vocabulary agg, then doc re-agg); the vocabulary join is on the "
    "already-exploded token stream, so at 100 TB the frequency table "
    "can instead broadcast its head (the hot vocabulary) and "
    "shuffle-join only the long tail.",
)
def text_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir)
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    rare = (F.col("df") < 100).cast("int")
    return (
        toks.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(rare).cast("bigint").alias("n_rare"),
            (F.sum(rare).cast("double") / F.count(F.lit(1))).alias("rare_ratio"),
        )
    )


@register(
    "text_surprisal_bits",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ),
        toks_ne AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        freq AS (SELECT word, count(*) AS f FROM toks_ne GROUP BY word),
        tot AS (SELECT count(*) AS n FROM toks_ne),
        scored AS (
            SELECT t.doc_id,
                   (length(bin(tot.n)) - 1) - (length(bin(freq.f)) - 1) AS bits
            FROM toks_ne t JOIN freq USING (word) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(bits) AS BIGINT) AS sum_bits,
               CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
        FROM scored
        GROUP BY doc_id
        """,
    category="text",
    doc="Unigram surprisal scoring — the perplexity-style quality gate, "
    "made cross-engine-exact: token surprisal is floor(log2(N)) - "
    "floor(log2(freq)) computed from BINARY STRING LENGTH (bin(n) is "
    "exact integer formatting in both engines; no libm log whose last "
    "ulp differs between implementations).  Rare tokens score high, "
    "boilerplate scores ~0; docs rank the same as with float "
    "log-probs at ~1-bit quantization.  Plan: one corpus tokenize "
    "feeding both the frequency table and the scoring join (Spark "
    "reuses the exploded scan), vocabulary broadcast, per-doc "
    "aggregate — at 100 TB the vocab table is the only global state "
    "and it is megabytes.",
)
def text_surprisal_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
        .where(F.col("word") != "")
    )
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))

    def fl2(c):
        return F.length(F.bin(c)) - 1

    scored = (
        toks.join(freq, "word")  # vocab-scale: AQE decides join strategy
        .crossJoin(F.broadcast(tot))
        .select("doc_id", (fl2(F.col("n")) - fl2(F.col("f"))).alias("bits"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").alias("sum_bits"),
        (F.sum("bits").cast("double") / F.count(F.lit(1))).alias("mean_bits"),
    )


@register(
    "text_bigram_surprisal",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        bigrams AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1])) AS bg,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i])) AS w1
            FROM words WHERE len(w) >= 2
        ),
        uni AS (
            SELECT word, count(*) AS f
            FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word
                  FROM documents)
            WHERE word <> ''
            GROUP BY word
        ),
        bf AS (SELECT bg, count(*) AS f FROM bigrams GROUP BY bg),
        scored AS (
            SELECT b.doc_id,
                   (length(bin(u.f)) - 1) - (length(bin(bf.f)) - 1) AS bits
            FROM bigrams b
            JOIN uni u ON u.word = b.w1
            JOIN bf ON bf.bg = b.bg
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(bits) AS BIGINT) AS sum_bits,
               CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
        FROM scored
        GROUP BY doc_id
        """,
    category="text",
    doc="Bigram conditional surprisal — the CCNet-style LM quality gate "
    "one order up from text_surprisal_bits: bits(w2|w1) = "
    "floor(log2(count(w1))) - floor(log2(count(w1 w2))), both from "
    "exact binary-string bit length (no libm), summed and averaged per "
    "document.  High mean = improbable word transitions (gibberish or "
    "very novel text); ~0 = boilerplate.  Plan: bigrams built "
    "scan-side from the token array (no self-join on position); the "
    "UNIGRAM table broadcasts (vocabulary-bounded), but the BIGRAM "
    "table scales with the corpus, so its scoring join shuffles both "
    "sides on the bigram key — at 100 TB that is one keyed shuffle of "
    "(bigram, count) pairs, never a broadcast (AQE may still pick "
    "broadcast at small scale).  One per-doc aggregate finishes.",
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    )
    n = F.size("w")
    bigram_arr = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.concat(
                F.element_at("w", i + 1), F.lit(" "), F.element_at("w", i + 2)
            ).alias("bg"),
            F.element_at("w", i + 1).alias("w1"),
        ),
    )
    bigrams = (
        words.filter(n >= 2)
        .select("doc_id", F.explode(bigram_arr).alias("p"))
        .select("doc_id", F.col("p.bg").alias("bg"), F.col("p.w1").alias("w1"))
    )
    uni = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("uf"))
    )
    bf = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("bff"))

    def fl2(c):
        return F.length(F.bin(c)) - 1

    scored = (
        bigrams.join(uni, bigrams.w1 == uni.word)  # vocab-scale: AQE decides
        .join(bf, "bg")  # corpus-scale: shuffle join on the bigram key
        .select("doc_id", (fl2(F.col("uf")) - fl2(F.col("bff"))).alias("bits"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bits").alias("sum_bits"),
        (F.sum("bits").cast("double") / F.count(F.lit(1))).alias("mean_bits"),
    )


@register(
    "lm_kneser_ney_bigram",
    oracle="""
        WITH words AS (
            SELECT string_split_regex(text, '\\s+') AS w FROM documents
        ),
        bg0 AS (
            SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i])) AS w1,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i + 1])) AS w2
            FROM words WHERE len(w) >= 2
        ),
        bg AS (SELECT w1, w2, count(*) AS c FROM bg0 GROUP BY w1, w2),
        w1s AS (
            SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1
            FROM bg GROUP BY w1
        ),
        w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM bg GROUP BY w2),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg)
        SELECT bg.w1, bg.w2, CAST(bg.c AS BIGINT) AS c,
               w1s.c1, w1s.n1, w2s.nc, tot.t,
               CAST(greatest(4 * bg.c - 3, 0) * tot.t
                    + 3 * w1s.n1 * w2s.nc AS BIGINT) AS p_num,
               CAST(4 * w1s.c1 * tot.t AS BIGINT) AS p_den,
               CAST((greatest(4 * bg.c - 3, 0) * tot.t + 3 * w1s.n1 * w2s.nc)
                    * 1000000 // (4 * w1s.c1 * tot.t) AS BIGINT) AS p_ppm
        FROM bg
        JOIN w1s USING (w1)
        JOIN w2s USING (w2)
        CROSS JOIN tot
        ORDER BY c DESC, w1, w2
        LIMIT 50
        """,
    category="text",
    doc="Interpolated Kneser-Ney bigram probabilities — the smoothing "
    "every n-gram LM and LM-based quality filter actually uses, with "
    "the absolute discount D = 3/4 kept EXACT as an integer rational: "
    "P_KN(w2|w1) = max(c - D, 0)/c1 + D*(N1+(w1,.)/c1)*(N1+(.,w2)/T) "
    "reduces over the common denominator 4*c1*T to the int64 pair "
    "(p_num, p_den) = (max(4c-3, 0)*T + 3*n1*nc, 4*c1*T), so even the "
    "smoothed LM is hash-exact cross-engine (p_ppm = the floor-ppm "
    "convenience; p_num can reach ~7*c1*T and is scaled by 1e6, so "
    "the ppm form is exact while c1*T < ~1.3e12 — past that, compare "
    "the (p_num, p_den) rational, whose own bound is c1*T < ~1.3e18).  The continuation counts N1+ fall out of the bigram-"
    "TYPE table for free: rows-per-w1 and rows-per-w2.  Plan: bigrams "
    "are built scan-side from the token array (no position self-join); "
    "the type table takes ONE hash aggregate, then the w1 totals and "
    "w2 continuation counts are two keyed window shuffles over "
    "bigram-TYPE rows (vocabulary-squared-bounded, corpus-independent "
    "past saturation), never a broadcast (rule 13: word-keyed tables "
    "carry no hint); T rides in-plan as a broadcast 1-row aggregate; "
    "top-50 by count is a TakeOrderedAndProject, no global sort.",
)
def lm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _kn_bigram_model(spark, sf_dir)
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(50)
    )


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram OCCURRENCES with their doc_id, built scan-side from the
    whitespace token array (no position self-join)."""
    w = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", r"\s+").alias("w")
    )
    n = F.size("w")
    return (
        w.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at("w", i).alias("w1"),
                        F.element_at("w", i + 1).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )


def _kn_bigram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL interpolated Kneser-Ney bigram model as a DataFrame —
    one row per bigram type with exact integer-rational probability
    (see lm_kneser_ney_bigram for the algebra).  Shared by the top-50
    inspection query and the doc-scoring join so the model cannot
    drift between them."""
    return _kn_model_from_pairs(_doc_bigrams(spark, sf_dir))


def _kn_model_from_pairs(pairs: DataFrame) -> DataFrame:
    """KN algebra over an arbitrary bigram-occurrence DataFrame (w1, w2
    [, ...]) — lets the held-out eval train on a SPLIT of the corpus
    with the identical arithmetic."""
    pairs = pairs.select("w1", "w2")
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    win1 = Window.partitionBy("w1")
    win2 = Window.partitionBy("w2")
    bg2 = (
        bg.withColumn("c1", F.sum("c").over(win1))
        .withColumn("n1", F.count(F.lit(1)).over(win1))
        .withColumn("nc", F.count(F.lit(1)).over(win2))
    )
    tot = bg.agg(F.count(F.lit(1)).alias("t"))
    return (
        bg2.crossJoin(F.broadcast(tot))
        .withColumn(
            "p_num",
            (
                F.greatest(4 * F.col("c") - 3, F.lit(0)) * F.col("t")
                + 3 * F.col("n1") * F.col("nc")
            ).cast("bigint"),
        )
        .withColumn("p_den", (4 * F.col("c1") * F.col("t")).cast("bigint"))
        .withColumn("p_ppm", F.expr("p_num * 1000000 div p_den").cast("bigint"))
        .select(
            "w1", "w2", "c", "c1", "n1", "nc", "t", "p_num", "p_den", "p_ppm"
        )
    )


_KN_MODEL_SQL = """
        words AS (
            SELECT doc_id, string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        db AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i])) AS w1,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i + 1])) AS w2
            FROM words WHERE len(w) >= 2
        ),
        bg AS (SELECT w1, w2, count(*) AS c FROM db GROUP BY w1, w2),
        w1s AS (
            SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1
            FROM bg GROUP BY w1
        ),
        w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM bg GROUP BY w2),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg),
        model AS (
            SELECT bg.w1, bg.w2,
                   CAST((greatest(4 * bg.c - 3, 0) * tot.t
                         + 3 * w1s.n1 * w2s.nc)
                        * 1000000 // (4 * w1s.c1 * tot.t) AS BIGINT) AS p_ppm
            FROM bg
            JOIN w1s USING (w1)
            JOIN w2s USING (w2)
            CROSS JOIN tot
        )
"""


@register(
    "lm_doc_score_kn",
    oracle=f"""
        WITH {_KN_MODEL_SQL}
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(m.p_ppm) AS BIGINT) AS sum_ppm,
               CAST(sum(m.p_ppm) // count(*) AS BIGINT) AS mean_ppm
        FROM db d JOIN model m USING (w1, w2)
        GROUP BY d.doc_id
        """,
    category="text",
    doc="CCNet-style LM quality scoring: every document scored by its "
    "mean Kneser-Ney bigram probability under a model trained on the "
    "corpus itself — the filter that separates fluent prose from "
    "boilerplate/gibberish in production pretraining pipelines "
    "(low-perplexity-under-a-reference-LM selection).  Probabilities "
    "are the exact integer floor-ppm of the KN rational "
    "(lm_kneser_ney_bigram's algebra), so per-doc sums and floor-div "
    "means are hash-exact cross-engine with no float log-prob "
    "accumulation-order hazard.  Plan: the bigram-occurrence table "
    "(doc_id, w1, w2) joins the bigram-TYPE model on the pair key — "
    "one keyed shuffle each side, NO broadcast (rule 13: the model is "
    "vocabulary-squared-scale); per-doc aggregation is the only other "
    "shuffle.  Self-training on the scored corpus is the bootstrap "
    "case; swapping a fixed reference model for the model CTE changes "
    "nothing in the plan shape.",
)
def lm_doc_score_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _doc_bigrams(spark, sf_dir)
    model = _kn_bigram_model(spark, sf_dir).select("w1", "w2", "p_ppm")
    return (
        db.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_ppm").cast("bigint").alias("sum_ppm"),
        )
        .withColumn(
            "mean_ppm", F.expr("sum_ppm div n_bigrams").cast("bigint")
        )
    )


@register(
    "lm_kn_heldout_eval",
    oracle="""
        WITH words AS (
            SELECT doc_id,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 100 AS hd,
                   string_split_regex(text, '\\s+') AS w
            FROM documents
        ),
        db AS (
            SELECT doc_id, hd,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i])) AS w1,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> w[i + 1])) AS w2
            FROM words WHERE len(w) >= 2
        ),
        bg AS (SELECT w1, w2, count(*) AS c FROM db WHERE hd < 90
               GROUP BY w1, w2),
        w1s AS (
            SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1
            FROM bg GROUP BY w1
        ),
        w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM bg GROUP BY w2),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg),
        model AS (
            SELECT bg.w1, bg.w2,
                   CAST((greatest(4 * bg.c - 3, 0) * tot.t
                         + 3 * w1s.n1 * w2s.nc)
                        * 1000000 // (4 * w1s.c1 * tot.t) AS BIGINT) AS p_ppm
            FROM bg
            JOIN w1s USING (w1)
            JOIN w2s USING (w2)
            CROSS JOIN tot
        )
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(count(m.p_ppm) AS BIGINT) AS n_covered,
               CAST(coalesce(sum(m.p_ppm), 0) AS BIGINT) AS sum_ppm,
               CAST((count(*) - count(m.p_ppm)) * 1000000 // count(*)
                    AS BIGINT) AS oov_ppm
        FROM (SELECT doc_id, w1, w2 FROM db WHERE hd >= 97) d
        LEFT JOIN model m USING (w1, w2)
        GROUP BY d.doc_id
        """,
    category="text",
    doc="HELD-OUT LM evaluation with correct ML hygiene: the Kneser-Ney "
    "bigram model trains ONLY on the train split (md5(doc_id) hash < "
    "90, the same deterministic assignment corpus_train_test_split "
    "and the leakage matrix use) and scores ONLY the test split "
    "(hash >= 97) — the eval that tells a pipeline whether its LM "
    "quality filter generalizes, as opposed to lm_doc_score_kn's "
    "self-trained scoring.  Per test doc: bigram count, how many "
    "bigrams the train model covers, the exact integer ppm sum over "
    "covered bigrams, and the OOV rate in floor-ppm (unseen bigrams "
    "are reported, not papered over with a fake backoff — coverage "
    "IS the signal at this model order).  Plan: train bigram types "
    "aggregate once; test occurrences LEFT-join the model on the "
    "pair key (word-keyed shuffles, NO broadcast per rule 13); "
    "per-doc aggregate finishes.  Train/test never mix: the split "
    "predicate partitions the same scan.",
)
def lm_kn_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    hd = hash60(F.col("doc_id").cast("string")) % 100
    db = _doc_bigrams(spark, sf_dir).withColumn("hd", hd)
    model = _kn_model_from_pairs(db.filter(F.col("hd") < 90)).select(
        "w1", "w2", "p_ppm"
    )
    test = db.filter(F.col("hd") >= 97).select("doc_id", "w1", "w2")
    n_big = F.count(F.lit(1))
    n_cov = F.count("p_ppm")
    return (
        test.join(model, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            n_big.cast("bigint").alias("n_bigrams"),
            n_cov.cast("bigint").alias("n_covered"),
            F.coalesce(F.sum("p_ppm"), F.lit(0))
            .cast("bigint")
            .alias("sum_ppm"),
            F.expr(
                "CAST((count(1) - count(p_ppm)) * 1000000 div count(1) "
                "AS BIGINT)"
            ).alias("oov_ppm"),
        )
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
        WITH {_KN_MODEL_SQL},
        scores AS (
            SELECT d.doc_id,
                   CAST(sum(m.p_ppm) // count(*) AS BIGINT) AS mean_ppm
            FROM db d JOIN model m USING (w1, w2)
            GROUP BY d.doc_id
        ),
        sl AS (
            SELECT s.doc_id, doc.lang, s.mean_ppm
            FROM scores s JOIN documents doc USING (doc_id)
        ),
        hist AS (
            SELECT lang, mean_ppm, CAST(count(*) AS BIGINT) AS c
            FROM sl GROUP BY lang, mean_ppm
        ),
        cuts AS (
            SELECT lang, mean_ppm,
                   COALESCE(sum(c) OVER (
                       PARTITION BY lang ORDER BY mean_ppm DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_excl,
                   sum(c) OVER (PARTITION BY lang) AS n_lang
            FROM hist
        )
        SELECT sl.doc_id, sl.lang, sl.mean_ppm,
               CASE least((3 * cum_excl) // n_lang, 2)
                    WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM sl JOIN cuts USING (lang, mean_ppm)
        """,
    category="quality",
    doc="CCNet head/middle/tail perplexity bucketing (Wenzek et al. "
    "2020 §4.4): every scored document is assigned to the top / "
    "middle / bottom third of its LANGUAGE's LM-score distribution "
    "(higher mean KN bigram probability = lower perplexity = 'head'; "
    "the buckets real pipelines keep, downsample, and drop "
    "respectively).  Scale shape is the two-phase form CCNet itself "
    "uses: per-doc scores (the lm_doc_score_kn joins) roll up to a "
    "per-(lang, score) HISTOGRAM, the tercile cutoffs come from a "
    "running sum over that tiny distinct-value table (a window over "
    "histogram rows, never a corpus-scale per-lang sort — ntile "
    "over 100 TB of docs with 5 langs would be 5 giant sort "
    "partitions), and docs get their bucket back via a join on "
    "(lang, score) — unhinted per rule 13: the cutoff table is "
    "value-range-bounded, not provably tiny, so AQE broadcasts the "
    "actually-histogram-sized table at runtime.  Ties share a "
    "bucket by construction "
    "(value-cutoff semantics, the CCNet behavior) and the exclusive "
    "cumulative count makes the boundary rule exact and "
    "engine-replayable: bucket = min(3*cum_excl // n_lang, 2).",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _doc_bigrams(spark, sf_dir)
    model = _kn_bigram_model(spark, sf_dir).select("w1", "w2", "p_ppm")
    scores = (
        db.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(p_ppm) div count(1) AS BIGINT)").alias(
                "mean_ppm"
            )
        )
    )
    langd = t(spark, sf_dir, "documents").select("doc_id", "lang")
    # r13 optimization round: ``sl`` feeds BOTH the histogram/cutoff
    # branch and the final bucket-assignment join — un-truncated, each
    # branch re-ran the whole KN-model scoring chain (the expensive
    # half of the query).  Materialized once; 3 narrow doc-scale
    # columns (guide §2.4: share one computation across branches).
    from mincemeatpy_spark.lineage import truncate_lazy

    sl = (
        scores.join(langd, "doc_id")
        .select("doc_id", "lang", "mean_ppm")
        .transform(truncate_lazy)
    )
    hist = sl.groupBy("lang", "mean_ppm").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.col("mean_ppm").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("lang")
    cuts = hist.select(
        "lang",
        "mean_ppm",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cum_excl"),
        F.sum("c").over(w_all).alias("n_lang"),
    ).select(
        "lang",
        "mean_ppm",
        F.least(
            F.expr("(3 * cum_excl) div n_lang"), F.lit(2).cast("bigint")
        ).alias("bidx"),
    )
    # No broadcast HINT on the cutoff table (rule 13): it is bounded by
    # the (lang, ppm-value) range, not provably tiny — AQE broadcasts
    # the actually-histogram-sized table at runtime.
    return sl.join(cuts, ["lang", "mean_ppm"]).select(
        "doc_id",
        "lang",
        "mean_ppm",
        F.when(F.col("bidx") == 0, "head")
        .when(F.col("bidx") == 1, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )
