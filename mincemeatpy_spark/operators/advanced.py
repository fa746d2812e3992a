"""Second-wave relational operators: quantile bucketing (ntile), CDC
upsert compaction, histograms, Z-order data layout, and deterministic
per-group reservoir sampling.

Each is an idiom the reference could only express as a hand-written
``mapfn``/``reducefn`` pair over its single map→reduce stage (reference
mincemeat.py:294-297, SURVEY.md §2b); here each is a declarative plan
Catalyst can optimize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mincemeatpy_spark.operators._util import decsum, hash60, oracle_decsum
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t


@register(
    "window_ntile",
    oracle="""
        SELECT c_mktsegment, tile,
               count(*) AS n,
               min(c_acctbal) AS lo,
               max(c_acctbal) AS hi
        FROM (SELECT c_mktsegment, c_acctbal,
                     ntile(4) OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal, c_custkey) AS tile
              FROM customer)
        GROUP BY c_mktsegment, tile
        """,
    category="window",
    doc="Quantile bucketing via ntile(4) per market segment — equal-count "
    "quartiles with a unique (balance, custkey) sort so tile assignment "
    "is deterministic.  Partitioned windows parallelize per segment; for "
    "a global ntile over 100 TB you would NOT use a window (single-task "
    "sort) — the scale path is approx_percentile cutpoints broadcast "
    "back as a CASE, or range partitioning; this query keeps the exact "
    "per-group form the oracle can pin down.",
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("tile"))
        .groupBy("c_mktsegment", "tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
    )


@register(
    "upsert_latest_snapshot",
    oracle=f"""
        WITH latest AS (
            SELECT event_type, value
            FROM (SELECT event_type, value,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC)
                             AS rn
                  FROM events)
            WHERE rn = 1)
        SELECT event_type,
               count(*) AS n_users,
               {oracle_decsum('value')} AS total_value
        FROM latest
        GROUP BY event_type
        """,
    category="relational",
    doc="CDC upsert compaction (SCD-1 'latest wins'): the events table is "
    "treated as a change log keyed by user_id; the current snapshot is "
    "the newest row per key, then the snapshot is summarized per "
    "event_type.  Implemented with max_by over a (ts, event_id) ordering "
    "struct — a plain two-phase hash aggregate, so compaction of a "
    "100 TB log is one shuffle of partial maxima, never a full sort.  "
    "The oracle uses the classic row_number()=1 form to prove the "
    "semantics match.  The (ts, event_id) pair is unique, so 'latest' "
    "is deterministic.",
)
def upsert_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    latest = e.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "value"), F.struct("ts", "event_id")
        ).alias("s")
    )
    return (
        latest.select(F.col("s.event_type").alias("event_type"), F.col("s.value"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            decsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "events_value_histogram",
    oracle="""
        SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS bucket,
               count(*) AS n,
               CAST(min(round(value * 100)) AS BIGINT) AS lo_centi,
               CAST(max(round(value * 100)) AS BIGINT) AS hi_centi
        FROM events
        GROUP BY bucket
        """,
    category="aggregation",
    doc="Fixed-width histogram (10-unit buckets) over event values — the "
    "profiling primitive behind data-quality dashboards.  Bucketing is "
    "integer-exact: centi-units via round(value*100), then integer "
    "division by 1000; a float floor(value/10) would disagree between "
    "engines on representation boundaries.  One scan, one two-phase "
    "aggregate on a small key domain — at 100 TB the partial maps are "
    "bucket-count sized, so the shuffle is bytes, not data.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    centi = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.select(centi.alias("centi"))
        .groupBy(F.expr("centi div 1000").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("centi").alias("lo_centi"),
            F.max("centi").alias("hi_centi"),
        )
    )


def _z_interleave_spark(x, y):
    """16-bit Z-order (Morton) key from two 8-bit column values."""
    z = F.lit(0)
    for i in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


_Z_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


@register(
    "zorder_clustering",
    oracle=f"""
        SELECT z >> 10 AS bucket,
               count(*) AS n,
               min(z) AS z_lo,
               max(z) AS z_hi
        FROM (SELECT {_Z_SQL} AS z
              FROM (SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y
                    FROM lineitem))
        GROUP BY bucket
        """,
    category="layout",
    doc="Z-order (Morton) clustering key — the multi-dimensional data "
    "layout trick: interleaving the bits of (partkey, suppkey) gives a "
    "1-D sort order where ranges of EITHER key map to few contiguous "
    "z-ranges, so min/max parquet zone maps prune on both columns at "
    "once.  The query computes the 16-bit z-value scan-side (pure bit "
    "arithmetic in codegen) and summarizes occupancy per z-bucket; the "
    "write path at scale is repartitionByRange(z).sortWithinPartitions(z) "
    "before the parquet sink, which this bucket histogram is the "
    "verification of.",
)
def zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    z = _z_interleave_spark(
        F.col("l_partkey").bitwiseAND(F.lit(255)),
        F.col("l_suppkey").bitwiseAND(F.lit(255)),
    )
    return (
        li.select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").alias("z_lo"),
            F.max("z").alias("z_hi"),
        )
    )


@register(
    "sample_reservoir_group",
    oracle="""
        SELECT event_type, rk, event_id
        FROM (SELECT event_type, event_id,
                     row_number() OVER (
                         PARTITION BY event_type
                         ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                         AS rk
              FROM events)
        WHERE rk <= 5
        """,
    category="sampling",
    doc="Per-group reservoir sample (k=5), derandomized: the 'random' "
    "priority is md5(event_id), so the sample is uniform-by-hash yet "
    "reproducible and oracle-checkable.  Scale shape: Spark's "
    "WindowGroupLimit rewrite turns the row_number filter into a "
    "partial map-side top-k BEFORE the shuffle plus a final top-k after "
    "— the same partial/merge algebra as the reference's collectfn "
    "local-top-k idiom (SURVEY.md §2b limit/top-k row) — so no task "
    "ever materializes a whole group; the shuffle carries at most k "
    "rows per (group, input partition).  Asserted in test_plans.",
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("event_type", "event_id")
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h.asc(), F.col("event_id").asc())
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "rk", "event_id")
    )


@register(
    "sample_bernoulli_split",
    oracle="""
        SELECT CASE WHEN ('0x' || substring(
                   md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   )::BIGINT % 1000 < 100
               THEN 'eval' ELSE 'train' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM documents
        GROUP BY 1
        """,
    category="sampling",
    doc="Deterministic hash-Bernoulli train/eval split (the corpus "
    "pipeline's holdout primitive): membership is a salted-md5 "
    "integer derivation mod 1000 < 100 (~10% eval), so the split is "
    "uniform-by-hash, REPRODUCIBLE across runs/engines/partitionings "
    "(no rand() seed plumbing), and STABLE under corpus growth — a "
    "document's split never changes when neighbors are added, which "
    "is what keeps eval sets uncontaminated across recrawls.  Both "
    "splits come out of ONE scan via a grouped aggregate on the "
    "derived label; the hash is scan-side codegen, no UDF, no "
    "shuffle beyond the 2-group aggregate.  At 100 TB: this predicate "
    "pushed into the scan IS the sampling operator — no sort, no "
    "global state, embarrassingly parallel (same derivation family "
    "as features_hashing_trick / dp_noisy_counts).",
)
def sample_bernoulli_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = hash60(F.concat(F.lit("split-v1:"), F.col("doc_id").cast("string")))
    split = F.when(h % 1000 < 100, F.lit("eval")).otherwise(F.lit("train"))
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


@register(
    "market_basket_pairs",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        pairs AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_baskets
        FROM pairs
        GROUP BY p1, p2
        HAVING count(*) >= 3
        """,
    category="behavioral",
    doc="Market-basket co-occurrence (the a-priori candidate-pair step "
    "of association mining): distinct parts per order, within-basket "
    "pair expansion (a.part < b.part), support count with a minimum "
    "threshold.  The expansion is bounded by basket size squared — "
    "baskets are small and the self-join is co-partitioned on the "
    "basket key, so the blow-up is per-group local, never corpus-"
    "global; the pair aggregate is two-phase so hot pairs combine "
    "map-side.  At 100 TB you'd pre-prune parts below min-support "
    "(the a-priori property) before pairing — here every part "
    "qualifies at the fixture's support floor.",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= 3)
    )


@register(
    "cdc_merge_apply",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderkey % 10 <> 0
        ),
        changes AS (
            SELECT o_orderkey AS k,
                   CASE WHEN o_orderkey % 10 = 0 THEN 'I'
                        WHEN o_orderkey % 20 = 5 THEN 'D'
                        ELSE 'U' END AS op,
                   CAST(round(o_totalprice * 100) AS BIGINT) + 100 AS new_cents
            FROM orders
            WHERE o_orderkey % 10 = 0 OR o_orderkey % 20 = 5
               OR o_orderkey % 7 = 0
        )
        SELECT coalesce(b.k, c.k) AS k,
               CASE WHEN c.op = 'I' THEN 'inserted'
                    WHEN c.op = 'U' THEN 'updated'
                    ELSE 'kept' END AS status,
               CASE WHEN c.op IN ('I', 'U') THEN c.new_cents
                    ELSE b.cents END AS cents
        FROM base b FULL OUTER JOIN changes c ON c.k = b.k
        WHERE c.op IS DISTINCT FROM 'D'
          AND NOT (b.k IS NULL AND c.op <> 'I')
        """,
    category="cdc",
    doc="CDC MERGE apply — the SQL MERGE / Delta-merge shape without a "
    "table format: a base snapshot full-outer-joins a changelog keyed "
    "by primary key; D drops the row, U rewrites the payload, I adds "
    "a new key, unmatched base rows pass through.  One co-partitioned "
    "shuffle on the key; at 100 TB both sides are bucketed by PK so "
    "the merge is exchange-free, and partition-level change stats "
    "(corpus_diff_incremental) prune untouched partitions before the "
    "join ever runs.  Changelog is a deterministic residue-class view "
    "of the fixture; payloads in exact cents.  U-changes for absent "
    "keys are ignored (no upsert semantics here — that variant is "
    "upsert_latest_snapshot).",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.where(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("cents")
    )
    changes = (
        o.where(
            (F.col("o_orderkey") % 10 == 0)
            | (F.col("o_orderkey") % 20 == 5)
            | (F.col("o_orderkey") % 7 == 0)
        )
        .select(
            F.col("o_orderkey").alias("ck"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("I"))
            .when(F.col("o_orderkey") % 20 == 5, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            (cents + 100).alias("new_cents"),
        )
    )
    merged = base.join(changes, base.k == changes.ck, "full_outer")
    return (
        merged.where(
            (F.col("op").isNull() | (F.col("op") != "D"))
            & ~(F.col("k").isNull() & (F.col("op") != "I"))
        )
        .select(
            F.coalesce(F.col("k"), F.col("ck")).alias("k"),
            F.when(F.col("op") == "I", F.lit("inserted"))
            .when(F.col("op") == "U", F.lit("updated"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(F.col("op").isin("I", "U"), F.col("new_cents"))
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
    )


@register(
    "ivm_incremental_agg",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders
        WHERE (o_orderkey % 10 = 0) OR (o_orderkey % 7 <> 0)
        GROUP BY 1
        """,
    category="relational",
    doc="Incremental view maintenance: a monthly-revenue materialized "
    "view is refreshed by MERGING a changelog's delta aggregate into "
    "the stale snapshot instead of recomputing from the fact table.  "
    "Base snapshot = orders with key%10<>0; the changelog inserts the "
    "key%10=0 rows and deletes the key%7=0 rows, each carried as a "
    "signed partial (+n/+cents for inserts, -n/-cents for deletes).  "
    "COUNT and SUM are self-maintainable, so view' = view ⊎ "
    "delta-agg via a full-outer month join, dropping groups whose "
    "count reaches zero.  The oracle recomputes from scratch; hash "
    "equality is the IVM correctness proof.  At 100 TB the changelog "
    "is days, not history: the refresh cost is O(delta), and only "
    "month-grain partials — never facts — cross the merge join.",
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    view = base.groupBy("month").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    inserts = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "month", F.lit(1).alias("dn"), F.col("cents").alias("dc")
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "month", F.lit(-1).alias("dn"), (-F.col("cents")).alias("dc")
    )
    delta = (
        inserts.unionByName(deletes)
        .groupBy("month")
        .agg(F.sum("dn").alias("dn"), F.sum("dc").alias("dc"))
    )
    merged = view.join(delta, "month", "full_outer").select(
        "month",
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias(
            "n_orders"
        ),
        (F.coalesce(F.col("c"), F.lit(0)) + F.coalesce(F.col("dc"), F.lit(0))).alias(
            "revenue_cents"
        ),
    )
    return merged.filter(F.col("n_orders") > 0)


@register(
    "scd2_point_in_time",
    oracle="""
        WITH versions AS (
            SELECT user_id, event_type AS status, ts AS eff_from,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS eff_to
            FROM events
        ),
        pit AS (
            SELECT user_id, status
            FROM versions
            WHERE eff_from <= TIMESTAMP '2024-06-01 00:00:00'
              AND (eff_to IS NULL
                   OR eff_to > TIMESTAMP '2024-06-01 00:00:00')
        )
        SELECT status,
               count(*) AS n_users,
               (SELECT count(*) FROM versions WHERE eff_to IS NULL)
                   AS n_open_versions
        FROM pit
        GROUP BY status
        """,
    category="cdc",
    doc="SCD Type-2: build versioned dimension rows from a change "
    "stream — each event opens a validity interval [eff_from, eff_to) "
    "closed by the user's next change (lead window; NULL = current) — "
    "then the point-in-time read: which version was valid at "
    "2024-06-01, per user, rolled up by status.  The warehousing "
    "companion to upsert_latest_snapshot (SCD-1): history is kept, "
    "not overwritten.  One shuffle on user_id builds every interval; "
    "the as-of filter is scan-side on the versioned table, which at "
    "100 TB is also the partition-pruning column (eff_from month).",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = e.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("eff_from"),
        F.lead("ts").over(w).alias("eff_to"),
    )
    at = F.lit("2024-06-01 00:00:00").cast("timestamp")
    asof = versions.filter(
        (F.col("eff_from") <= at)
        & (F.col("eff_to").isNull() | (F.col("eff_to") > at))
    )
    # The open-version total rides in the SAME plan as a broadcast 1-row
    # aggregate — a mid-plan .count() here would execute the version
    # window once for the scalar and again for the final result, plus a
    # driver round-trip (SCALE rule 11).
    n_open = (
        versions.filter(F.col("eff_to").isNull())
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_open_versions"))
    )
    return (
        asof.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(n_open))
        .select("status", "n_users", "n_open_versions")
    )


@register(
    "item_cf_similarity",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        deg AS (
            SELECT l_partkey, count(*) AS n FROM basket GROUP BY l_partkey
        ),
        co AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS co
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT co.p1, co.p2, co.co,
                   round(CAST(co.co AS DOUBLE)
                         / sqrt(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE)),
                         6) AS sim
            FROM co
            JOIN deg da ON da.l_partkey = co.p1
            JOIN deg db ON db.l_partkey = co.p2
            WHERE co.co >= 3
        )
        SELECT p1, p2, co, sim
        FROM (SELECT p1, p2, co, sim,
                     row_number() OVER (PARTITION BY p1
                                        ORDER BY sim DESC, co DESC, p2) AS rk
              FROM scored)
        WHERE rk <= 5
        """,
    category="behavioral",
    doc="Item-item collaborative filtering from co-purchase counts: "
    "cosine over implicit binary baskets — sim(a,b) = co(a,b) / "
    "sqrt(n(a)*n(b)) — keeping each part's top-5 most-similar "
    "neighbors (the precomputed artifact behind 'customers also "
    "bought').  Extends market_basket_pairs from raw counts to "
    "degree-normalized similarity with per-item group-limit.  All "
    "counts are exact integers; the one sqrt/divide rounds "
    "deterministically.  Scale path: the support threshold prunes "
    "the pair explosion before normalization, degrees broadcast, and "
    "the top-5 runs as WindowGroupLimit — no global sort.  At 100 TB "
    "add a hot-item cap (an item in millions of baskets contributes "
    "quadratic pairs — cap or downsample its baskets first).",
)
def item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    basket = (
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    deg = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = basket.alias("a")
    b = basket.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 3)
    )
    da = deg.alias("da")
    db = deg.alias("db")
    sim = F.round(
        F.col("co").cast("double")
        / F.sqrt(F.col("da.n").cast("double") * F.col("db.n").cast("double")),
        6,
    )
    scored = (
        co.join(F.broadcast(da), F.col("da.l_partkey") == F.col("p1"))
        .join(F.broadcast(db), F.col("db.l_partkey") == F.col("p2"))
        .select("p1", "p2", "co", sim.alias("sim"))
    )
    w = Window.partitionBy("p1").orderBy(
        F.col("sim").desc(), F.col("co").desc(), "p2"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("rk")
    )


@register(
    "ivm_incremental_join",
    oracle="""
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               count(*) AS n_rows,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
        """,
    category="relational",
    doc="Incremental view maintenance for a JOIN view: with base "
    "snapshots A,B and insert deltas dA,dB, the refreshed join is "
    "exactly (A JOIN B) UNION ALL (dA JOIN B) UNION ALL (A JOIN dB) "
    "UNION ALL (dA JOIN dB) — the standard delta-join identity, the "
    "join companion to ivm_incremental_agg's self-maintainable "
    "aggregates.  Here A = orders (key%13<>0 base, %13=0 delta), "
    "B = lineitem (suppkey%11<>0 base, %11=0 delta); the engine "
    "assembles the view from the four disjoint pieces and aggregates "
    "to monthly revenue, while the oracle recomputes the join from "
    "scratch — hash equality is the IVM proof.  At 100 TB the three "
    "delta terms are the refresh cost: each joins a days-sized delta "
    "against one base (AQE broadcasts the delta side), never base "
    "against base, and the monthly aggregate merges into the stored "
    "view as month-grain partials.",
)
def ivm_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    a_old = o.filter(F.col("o_orderkey") % 13 != 0)
    a_new = o.filter(F.col("o_orderkey") % 13 == 0)
    b_old = li.filter(F.col("l_suppkey") % 11 != 0)
    b_new = li.filter(F.col("l_suppkey") % 11 == 0)

    def j(a, b):
        return a.join(b, a.o_orderkey == b.l_orderkey).select("month", "cents")

    view = (
        j(a_old, b_old)
        .unionAll(j(a_new, b_old))
        .unionAll(j(a_old, b_new))
        .unionAll(j(a_new, b_new))
    )
    return view.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


def _hilbert_steps():
    """The 8 unrolled steps of the 256x256 Hilbert xy->d transform,
    branch-free (the quadrant term 3*rx + ry - 2*rx*ry equals
    (3*rx) XOR ry for bits, and the rotate/flip collapses to integer
    blends), each step a 5-tuple of SQL strings
    (rx_expr, ry_expr, d_expr, x_expr, y_expr) over columns
    d/x/y/rx/ry.  ONE generator feeds both the Spark selectExpr chain
    and the DuckDB oracle's nested subqueries, and
    tests/test_hilbert.py pins it exhaustively against the classic
    loop implementation on the full 65,536-point grid — only
    +/-/* on integers, so every engine agrees bit-for-bit.
    """
    steps = []
    for i in range(8):
        b = 7 - i
        s = 1 << b
        steps.append(
            (
                f"((x >> {b}) & 1)",
                f"((y >> {b}) & 1)",
                f"d + {s * s} * (3 * rx + ry - 2 * rx * ry)",
                f"ry * x + (1 - ry) * ((1 - rx) * y + rx * ({s - 1} - y))",
                f"ry * y + (1 - ry) * ((1 - rx) * x + rx * ({s - 1} - x))",
            )
        )
    return steps


def _hilbert_sql(base: str, carry: tuple[str, ...] = ()) -> str:
    """Nested-subquery SQL computing the Hilbert d for each row of
    ``base`` (which must yield columns x, y) — dialect-shared between
    Spark SQL and DuckDB (no XOR: DuckDB's ^ is power).  ``carry``
    columns from ``base`` are passed through untouched (the unroll
    overwrites x/y with rotated scratch state)."""
    keep = "".join(f", {c}" for c in carry)
    q = f"SELECT x, y, 0 AS d{keep} FROM ({base})"
    for rx, ry, d, x2, y2 in _hilbert_steps():
        q = (
            f"SELECT {d} AS d, {x2} AS x, {y2} AS y{keep} "
            f"FROM (SELECT x, y, d, {rx} AS rx, {ry} AS ry{keep} FROM ({q}))"
        )
    return q


@register(
    "layout_hilbert_clustering",
    oracle=f"""
        SELECT d >> 10 AS bucket,
               count(*) AS n,
               min(d) AS d_lo,
               max(d) AS d_hi
        FROM ({_hilbert_sql(
            "SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y FROM lineitem"
        )})
        GROUP BY bucket
        """,
    category="layout",
    doc="Hilbert-curve clustering key — the other production layout "
    "curve next to zorder_clustering (Delta OPTIMIZE and Iceberg both "
    "offer it): unlike Morton order, consecutive Hilbert indices are "
    "ALWAYS spatially adjacent (no quadrant jumps), so range scans on "
    "either key touch strictly fewer distinct d-ranges — better zone-"
    "map pruning at the same sort cost.  The xy->d transform is the "
    "classic per-bit rotate/flip loop unrolled into 8 branch-free "
    "integer-blend stages computed scan-side in whole-stage codegen; "
    "the SAME generated stage expressions feed the DuckDB oracle, and "
    "tests/test_hilbert.py pins the generator exhaustively against the "
    "reference loop on all 65,536 grid points plus the unit-step "
    "adjacency property.  At scale the write path is "
    "repartitionByRange(d).sortWithinPartitions(d) before the sink; "
    "this bucket-occupancy histogram is its verification query.",
)
def layout_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey & 255 AS x", "l_suppkey & 255 AS y", "0 AS d"
    )
    for rx, ry, d, x2, y2 in _hilbert_steps():
        li = li.selectExpr(
            "x", "y", "d", f"{rx} AS rx", f"{ry} AS ry"
        ).selectExpr(f"{d} AS d", f"{x2} AS x", f"{y2} AS y")
    return li.groupBy(F.expr("d >> 10").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
    )


@register(
    "sample_weighted_priority",
    oracle="""
        SELECT lang, doc_id, n_chars
        FROM (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ln((('0x' || substring(
                                         md5(CAST(doc_id AS VARCHAR)), 1, 15)
                                    )::BIGINT % 1000003 + 1) / 1000004.0)
                                / n_chars DESC,
                                doc_id ASC) AS rk
            FROM documents
            WHERE n_chars > 0
        )
        WHERE rk <= 10
        """,
    category="sampling",
    doc="Weighted sampling without replacement, the Efraimidis-"
    "Spirakis (2006) A-ES priority method: each row draws u in (0,1) "
    "and survives if its key u^(1/w) is among the k largest — here "
    "per-lang k=10 with w = n_chars, computed as ln(u)/w (same order, "
    "no pow).  This is THE distributed weighted sampler: one pass, no "
    "coordination, exactly the algebra a 100 TB corpus needs to draw "
    "a size-biased sample (e.g. resampling by dsir_logweight-derived "
    "weights, corpus_dsir_weights).  Derandomized the repo's standard "
    "way: u comes from md5(doc_id) via an LCG-style modulus "
    "(sample_reservoir_group's trick), so the drawn set is a pure "
    "function of the data — engine-, partitioning- and rerun-"
    "invariant, and oracle-checkable.  Scale shape: the row_number "
    "filter compiles to WindowGroupLimit (asserted in test_plans), so "
    "every input partition forwards at most k rows per lang to the "
    "shuffle — the same partial top-k algebra as the reference's "
    "collectfn local-top-k idiom.",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = hash60(F.col("doc_id").cast("string")) % 1000003
    key = F.log((h + 1) / F.lit(1000004.0)) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(key.desc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "doc_id", "n_chars")
    )
