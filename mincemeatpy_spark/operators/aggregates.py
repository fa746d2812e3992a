"""Aggregation operators.

The reference's aggregation surface is ``collectfn`` (map-side partial
aggregate, reference mincemeat.py:174-176) + ``reducefn`` (final per-key
reduce, reference mincemeat.py:179-182).  In the DataFrame API Catalyst
emits the same two-phase plan automatically — ``HashAggregate(partial)``
→ shuffle on the group keys → ``HashAggregate(final)`` — with map-side
combine always on, whole-stage codegen, and spill.  At 100 TB the partial
aggregate is what keeps the shuffle small: only (#groups × #partitions)
rows cross the wire, not the raw table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.operators._util import decavg, decsum, hash60, oracle_decavg, oracle_decsum
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag,
               l_linestatus,
               {oracle_decsum('l_quantity')}                                        AS sum_qty,
               {oracle_decsum('l_extendedprice')}                                   AS sum_base_price,
               {oracle_decsum('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
               {oracle_decsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
               {oracle_decavg('l_quantity')}                                        AS avg_qty,
               {oracle_decavg('l_extendedprice')}                                   AS avg_price,
               {oracle_decavg('l_discount')}                                        AS avg_disc,
               count(*)                                                             AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
    doc="TPC-H Q1 pricing summary: the canonical wide multi-agg group-by.",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 optimization round: a fan_out repartition of the pruned
    # lineitem projection was MEASURED here and reverted — 0.79 s
    # single-scan vs 1.21 s with the shuffle (A/B in one session):
    # serializing 600k x 7 columns through one map task costs more than
    # the single-core partial aggregate it parallelizes.
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        decsum(F.col("l_quantity")).alias("sum_qty"),
        decsum(F.col("l_extendedprice")).alias("sum_base_price"),
        decsum(disc_price).alias("sum_disc_price"),
        decsum(charge).alias("sum_charge"),
        decavg(F.col("l_quantity")).alias("avg_qty"),
        decavg(F.col("l_extendedprice")).alias("avg_price"),
        decavg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT = group-by-all-columns; map-side partial dedup.",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "count_distinct",
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_cust,
               count(*)                  AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        """,
    doc="Exact COUNT(DISTINCT): Catalyst plans expand + two-phase agg.",
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "approx_count_distinct",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
        """,
    category="approximate",
    doc="HyperLogLog++ approximate distinct — the 100 TB substitute for "
    "exact COUNT(DISTINCT) when 2% error is acceptable (no expand, one "
    "pass).  The sketch estimate itself is engine-specific, so the "
    "registered form is a BOUND ASSERTION: Spark computes both the "
    "sketch and the exact twin and emits within_bound = "
    "|approx - exact| <= 10% * exact + 10 (rsd 0.02, 5-sigma plus "
    "small-group slack); the oracle emits the exact value and literal "
    "TRUE.  A healthy sketch hash-matches; a broken one goes red in the "
    "driver gate instead of hiding behind no_oracle.  The production "
    "op is the approx aggregate alone — the exact twin here is the "
    "verification harness.",
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("apx"),
            F.count_distinct("l_partkey").cast("bigint").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("apx") - F.col("exact_parts")).cast("double")
                <= 0.10 * F.col("exact_parts") + 10
            ).alias("within_bound"),
        )
    )


@register(
    "agg_minmax_dates",
    oracle="""
        SELECT l_linestatus,
               min(l_shipdate)  AS first_ship,
               max(l_shipdate)  AS last_ship,
               min(l_quantity)  AS min_qty,
               max(l_quantity)  AS max_qty
        FROM lineitem
        GROUP BY l_linestatus
        """,
    doc="MIN/MAX over timestamps and doubles (exact, order-independent).",
)
def agg_minmax_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


@register(
    "rollup_agg",
    oracle=f"""
        SELECT o_orderstatus,
               o_orderpriority,
               count(*)                        AS n,
               {oracle_decsum('o_totalprice')} AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
    doc="ROLLUP hierarchy: (a,b), (a), () subtotal rows with NULL fill.",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), decsum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "cube_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
    doc="CUBE: all 2^k grouping sets in one pass (Expand operator).",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "having_filter",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 8
        """,
    doc="HAVING = post-aggregation filter.",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 8)
    )


@register(
    "pivot_agg",
    oracle=f"""
        SELECT l_returnflag,
               {oracle_decsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
               {oracle_decsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
        FROM lineitem
        GROUP BY l_returnflag
        """,
    doc="PIVOT: one output column per pivot value (conditional aggregate).",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(decsum(F.col("l_quantity")))
    )
    return pivoted.withColumnRenamed("O", "qty_O").withColumnRenamed("F", "qty_F")


@register(
    "percentiles",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.25), 4) AS q25,
               round(quantile_cont(l_quantity, 0.50), 4) AS q50,
               round(quantile_cont(l_quantity, 0.75), 4) AS q75
        FROM lineitem
        GROUP BY l_returnflag
        """,
    doc="Exact interpolated percentiles (continuous); at 100 TB prefer "
    "approx_percentile — see percentiles_approx.",
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("q50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
    )


@register(
    "percentiles_approx",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_px,
               TRUE AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
        """,
    category="approximate",
    doc="approx_percentile: mergeable quantile sketch, the scale path.  "
    "The sketch's returned element is engine-specific, so the "
    "registered form is a BOUND ASSERTION: within_bound checks the "
    "approx median lies between the exact 0.495 and 0.505 quantiles "
    "(5x the accuracy=1000 rank-error guarantee); the hash-matched "
    "median_px column is the exact interpolated median both engines "
    "compute identically.  A broken sketch goes red in the driver gate "
    "instead of hiding behind no_oracle.  The exact percentile is the "
    "VERIFICATION HARNESS only — its sort-based buffer holds a group's "
    "values in memory, so at corpus scale the production op is the "
    "sketch alone (mergeable, bounded state) and this bound check runs "
    "on a sampled slice; weighted_median_two_phase is the EXACT median "
    "that does scale (bucket counts + one in-bucket pass, no full sort).",
)
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("apx"),
            # one sort-based aggregate evaluates all three exact quantiles
            F.expr(
                "percentile(l_extendedprice, array(0.495, 0.5, 0.505))"
            ).alias("pq"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("pq")[1], 4).alias("median_px"),
            ((F.col("apx") >= F.col("pq")[0]) & (F.col("apx") <= F.col("pq")[2])).alias(
                "within_bound"
            ),
        )
    )


@register(
    "stats_moments",
    oracle="""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 4)                    AS sd_qty,
               round(var_samp(l_quantity), 4)                       AS var_qty,
               round(corr(l_quantity, l_extendedprice), 4)          AS corr_qty_px,
               round(covar_samp(l_quantity, l_discount), 6)         AS cov_qty_disc
        FROM lineitem
        GROUP BY l_returnflag
        """,
    doc="Second-moment statistics; rounded — merge order perturbs last ulps.",
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_px"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qty_disc"),
    )


@register(
    "agg_reaggregate_monthly",
    oracle=f"""
        WITH daily AS (
            SELECT l_returnflag,
                   CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
                   {oracle_decsum('l_extendedprice * (1 - l_discount)')} AS day_rev,
                   count(*) AS day_n
            FROM lineitem
            GROUP BY l_returnflag, day)
        SELECT l_returnflag,
               CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
               {oracle_decsum('day_rev')} AS month_rev,
               CAST(sum(day_n) AS BIGINT) AS month_n
        FROM daily
        GROUP BY l_returnflag, month
        """,
    category="aggregation",
    doc="Incremental re-aggregation — the materialized-rollup pattern for "
    "100 TB pipelines: aggregate once at fine grain (per returnflag/day; "
    "in production that output is a partitioned parquet rollup written "
    "daily), then answer coarser queries by merging the partials "
    "(monthly = exact sum of daily sums and counts), never rescanning "
    "the fact.  Works because sum/count are mergeable; the fixed-point "
    "sums keep the two-level total bit-equal to a one-level aggregate.",
)
def agg_reaggregate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(
        decsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("day_rev"),
        F.count(F.lit(1)).alias("day_n"),
    )
    return daily.groupBy(
        "l_returnflag", F.date_trunc("month", F.col("day")).alias("month")
    ).agg(
        decsum(F.col("day_rev")).alias("month_rev"),
        F.sum("day_n").alias("month_n"),
    )


@register(
    "agg_median_mode",
    oracle="""
        WITH buckets AS (
            SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket,
                   count(*) AS c
            FROM events GROUP BY event_type, bucket
        ),
        modes AS (
            SELECT event_type, bucket,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY c DESC, bucket) AS rn
            FROM buckets
        )
        SELECT e.event_type,
               count(*) AS n,
               quantile_cont(e.value, 0.5) AS median_value,
               any_value(m.bucket) AS mode_bucket
        FROM events e
        JOIN modes m ON m.event_type = e.event_type AND m.rn = 1
        GROUP BY e.event_type
        """,
    category="relational",
    doc="Exact median (interpolated percentile — a full sort per group, "
    "the operation MapReduce can only do by shipping every value of a "
    "key to one reducer, reference mincemeat.py:327-329) and a "
    "deterministic mode (most populous 50-unit value bucket, smallest "
    "bucket wins ties — explicit count+rank instead of F.mode precisely "
    "because engine tie-breaking is undefined).  Median interpolation "
    "(a + (b-a)*f) is bit-identical across engines on sorted doubles.",
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type", F.floor(F.col("value") / 50).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    modes = (
        buckets.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(F.col("c").desc(), "bucket")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "bucket")
    )
    return (
        ev.join(F.broadcast(modes), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile(F.col("value"), F.lit(0.5)).alias("median_value"),
            F.any_value(F.col("bucket")).alias("mode_bucket"),
        )
    )


@register(
    "agg_listagg_regions",
    oracle="""
        SELECT r.r_name,
               count(*) AS n_nations,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """,
    category="relational",
    doc="LISTAGG / string_agg: per region the sorted comma-joined nation "
    "names.  Spark expresses the deterministic ordered variant as "
    "array_sort(collect_list) + concat_ws — explicit sort inside the "
    "aggregate buffer, which is exactly what makes it reproducible "
    "where a bare collect_list is arrival-ordered (the reference's "
    "value-list nondeterminism, SURVEY.md §1.3, solved instead of "
    "inherited).",
)
def agg_listagg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        )
    )


@register(
    "bitmap_distinct_users",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
        """,
    category="relational",
    doc="Exact COUNT(DISTINCT) via bitmap aggregation (Spark 3.5 bitmap "
    "functions): bucket each user_id with bitmap_bucket_number, OR the "
    "per-bucket bit positions into 4 KB bitmaps, then sum bitmap_count "
    "per group.  Equivalent to the shuffle-dedup count-distinct but the "
    "partial state per (group, 32k-id bucket) is one fixed-size bitmap "
    "instead of the id set — the mergeable-partial shape that keeps "
    "distinct-counting one pass at 100 TB (and the exact counterpart "
    "to approx_count_distinct's HLL).",
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
        .groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_users"))
    )


@register(
    "hll_sketch_reaggregate",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
        """,
    category="relational",
    doc="Mergeable HLL datasketches (Spark 3.5): per (event_type, day) "
    "partial sketches of user_id, then hll_union_agg rolls daily "
    "sketches up to one per-type estimate WITHOUT re-scanning raw data "
    "— the store-partials-reaggregate pattern that makes daily 100 TB "
    "distinct-count dashboards O(days) instead of O(events).  Estimates "
    "are Datasketches-specific, so the registered form is a BOUND "
    "ASSERTION: within_bound = |estimate - exact| <= 10% * exact + 10 "
    "(default lgConfigK=12 gives ~1.6% rsd; the bound is >5 sigma).  "
    "The oracle emits the exact value and literal TRUE, so a broken "
    "sketch or merge goes red in the driver gate instead of hiding "
    "behind no_oracle.  The exact twin bitmap_distinct_users remains "
    "the production-exact counterpart.",
)
def hll_sketch_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").alias(
            "apx"
        )
    )
    exact = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("bigint").alias("exact_users"))
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("apx") - F.col("exact_users")).cast("double")
            <= 0.10 * F.col("exact_users") + 10
        ).alias("within_bound"),
    )


@register(
    "pareto_customer_revenue",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_centi
            FROM orders
            GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, rev_centi,
                   sum(rev_centi) OVER (ORDER BY rev_centi DESC, o_custkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS running,
                   sum(rev_centi) OVER () AS total
            FROM per_cust
        )
        SELECT count(*) AS n_customers,
               CAST(sum(CASE WHEN 5 * (running - rev_centi) < 4 * total
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
               CAST(max(CASE WHEN 5 * (running - rev_centi) < 4 * total
                             THEN running END) AS BIGINT) AS top80_rev_centi,
               CAST(max(total) AS BIGINT) AS total_rev_centi
        FROM ranked
        """,
    category="aggregation",
    doc="Pareto concentration (the 80/20 report): revenue per customer in "
    "exact centi-units, customers ranked by revenue descending, and the "
    "count of top customers needed to cover 80% of total revenue — the "
    "membership test 5*(running - own) < 4*total is pure bigint, so "
    "both engines agree exactly.  Scale shape: the orders scan collapses "
    "to one row per customer (two-phase agg) before any ordering, and "
    "the ranking window runs over customer-level rows via a "
    "range-partitioned sort — the global running sum is the only "
    "inherently ordered step, on the smallest possible relation.",
)
def pareto_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_centi")
    )
    w_run = W.orderBy(F.col("rev_centi").desc(), "o_custkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy()
    ranked = per_cust.select(
        "o_custkey",
        "rev_centi",
        F.sum("rev_centi").over(w_run).alias("running"),
        F.sum("rev_centi").over(w_all).alias("total"),
    )
    in_top = F.lit(5) * (F.col("running") - F.col("rev_centi")) < F.lit(4) * F.col("total")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(in_top.cast("int")).cast("bigint").alias("n_top80"),
        F.max(F.when(in_top, F.col("running"))).cast("bigint").alias("top80_rev_centi"),
        F.max("total").cast("bigint").alias("total_rev_centi"),
    )


@register(
    "stats_regression",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   sum(CAST(round(l_quantity) AS BIGINT)) AS sx,
                   sum(CAST(round(l_extendedprice) AS BIGINT)) AS sy,
                   sum(CAST(round(l_quantity) AS BIGINT)
                       * CAST(round(l_quantity) AS BIGINT)) AS sxx,
                   sum(CAST(round(l_quantity) AS BIGINT)
                       * CAST(round(l_extendedprice) AS BIGINT)) AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) AS intercept
        FROM s
        """,
    category="aggregation",
    doc="Per-group simple linear regression (the SQL regr_slope / "
    "regr_intercept family) of extended price on quantity, computed "
    "from the five classical moment sums — n, Sx, Sy, Sxx, Sxy — "
    "accumulated as exact int64 on unit-rounded inputs, so the normal "
    "equations (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) are order-independent "
    "and bit-identical cross-engine (bounds checked: n*Sxy <= ~6e17 at "
    "sf1, under 2^63).  One two-phase aggregate, one shuffle of five "
    "longs per group — the map-side-combine shape the reference's "
    "collectfn exists for (mincemeat.py:174-176); at 100 TB the "
    "shuffle is K groups x 40 bytes regardless of row count.",
)
def stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


@register(
    "revenue_mom_growth",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders
            GROUP BY 1
        )
        SELECT month,
               CAST(rev_cents AS BIGINT) AS rev_cents,
               CAST(lag(rev_cents) OVER (ORDER BY month) AS BIGINT)
                   AS prev_cents,
               CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS BIGINT)
                   AS delta_cents,
               round(CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS DOUBLE)
                     / CAST(lag(rev_cents) OVER (ORDER BY month) AS DOUBLE), 6)
                   AS mom_pct
        FROM monthly
        """,
    category="aggregation",
    doc="Month-over-month revenue growth — the reporting rollup with a "
    "lag window over the month table: the heavy aggregate reduces 100 "
    "TB of orders to |months| rows in one two-phase shuffle, and the "
    "single-partition lag window runs on those few dozen rows (the "
    "'global window on the rollup, never the fact table' rule).  "
    "Cents-exact sums; the growth ratio is one IEEE divide on "
    "identical longs, so it hash-matches.",
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        "rev_cents",
        prev.alias("prev_cents"),
        (F.col("rev_cents") - prev).alias("delta_cents"),
        F.round(
            (F.col("rev_cents") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_pct"),
    )


@register(
    "shipping_lag_percentiles",
    oracle="""
        WITH lags AS (
            SELECT o.o_orderpriority,
                   CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
                       AS lag_days
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               quantile_cont(lag_days, 0.5) AS p50,
               quantile_cont(lag_days, 0.9) AS p90,
               CAST(max(lag_days) AS BIGINT) AS p_max
        FROM lags
        GROUP BY o_orderpriority
        """,
    category="aggregation",
    doc="Per-group latency percentiles — the SLA readout: order-to-ship "
    "lag in whole days (exact integers), p50/p90 per priority class "
    "via percentile_cont (linear interpolation on sorted int inputs "
    "is bit-identical to DuckDB's quantile_cont).  The join shuffles "
    "on orderkey once; the percentile aggregate shuffles (priority, "
    "lag) pairs.  Exact per-group percentiles buffer each group's "
    "values — fine for bounded groups like priority classes; for "
    "high-cardinality groups at 100 TB switch to approx_percentile "
    "(t-digest, mergeable partials).",
)
def shipping_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("lag_days"),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("lag_days", 0.5).alias("p50"),
        F.percentile("lag_days", 0.9).alias("p90"),
        F.max("lag_days").alias("p_max"),
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        spine AS (SELECT DISTINCT d FROM user_days),
        wau AS (
            SELECT s.d, count(DISTINCT u.user_id) AS wau
            FROM spine s JOIN user_days u
              ON u.d BETWEEN s.d - INTERVAL 6 DAY AND s.d
            GROUP BY s.d
        ),
        dau AS (SELECT d, count(*) AS dau FROM user_days GROUP BY d)
        SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau,
               CAST(wau.wau AS BIGINT) AS wau,
               round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau ON wau.d = dau.d
        """,
    category="behavioral",
    doc="DAU/WAU stickiness — rolling 7-day distinct users per day.  "
    "Rolling DISTINCT does not decompose into a window sum, so the "
    "exact form dedups to (user, day) grain first (the only O(N) "
    "shuffle), then range-joins the day spine to the user-day table "
    "— work is |days| x |active user-days in window|, independent of "
    "raw event volume.  At 100 TB swap the exact inner count for "
    "per-day HLL sketches merged over the trailing window "
    "(hll_sketch_reaggregate shows the mergeable machinery) — same "
    "query shape, sketch-sized state.  The ratio is one IEEE divide "
    "on exact longs.",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    spine = user_days.select("d").distinct()
    u = user_days.alias("u")
    s = spine.alias("s")
    wau = (
        s.join(
            u,
            (F.col("u.d") >= F.date_sub(F.col("s.d"), 6))
            & (F.col("u.d") <= F.col("s.d")),
        )
        .groupBy(F.col("s.d").alias("d"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    dau = user_days.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "d").select(
        "d",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


@register(
    "winsorize_clip",
    oracle="""
        WITH bounds AS (
            SELECT event_type,
                   quantile_cont(value, 0.01) AS lo,
                   quantile_cont(value, 0.99) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
               (CAST(SUM(CAST(round(
                    CASE WHEN e.value < b.lo THEN b.lo
                         WHEN e.value > b.hi THEN b.hi
                         ELSE e.value END * 1000000) AS BIGINT)) AS DOUBLE)
                    / 1000000) AS sum_winsorized
        FROM events e JOIN bounds b USING (event_type)
        GROUP BY e.event_type
        """,
    category="aggregation",
    doc="Winsorization — the outlier-clipping cleanup every metrics/"
    "feature pipeline runs before training: exact per-group p1/p99 "
    "bounds, then values clamped to them, reporting the clipped count "
    "and the winsorized fixed-point sum.  The bounds table is one row "
    "per event_type, so it broadcasts and the clamp is a scan-side "
    "expression: two passes over the facts (one percentile, one "
    "clamp+agg), zero fact-sized shuffles.  At 100 TB swap the exact "
    "percentile for approx_percentile and nothing else changes.",
)
def winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", 0.01).alias("lo"),
        F.percentile("value", 0.99).alias("hi"),
    )
    j = e.join(F.broadcast(bounds), "event_type")
    clipped = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    wins = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(clipped.cast("int")).cast("bigint").alias("n_clipped"),
        decsum(wins).alias("sum_winsorized"),
    )


@register(
    "impute_group_mean",
    oracle="""
        WITH masked AS (
            SELECT user_id,
                   CASE WHEN event_type = 'error' THEN NULL
                        ELSE value END AS v
            FROM events
        ),
        means AS (
            SELECT user_id,
                   (CAST(SUM(CAST(round(v * 1000000) AS BIGINT)) AS DOUBLE)
                        / 1000000) / count(v) AS mu
            FROM masked GROUP BY user_id
        )
        SELECT m.user_id,
               count(*) AS n,
               CAST(sum(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_imputed,
               (CAST(SUM(CAST(round(coalesce(m.v, s.mu) * 1000000) AS BIGINT))
                    AS DOUBLE) / 1000000) AS sum_imputed
        FROM masked m JOIN means s USING (user_id)
        GROUP BY m.user_id
        """,
    category="aggregation",
    doc="Null imputation by group mean — the feature-cleanup op: 'error' "
    "readings are treated as missing, each user's mean over present "
    "values fills the gaps, and the result audits how many cells were "
    "imputed.  Both the mean and the re-aggregate group on user_id, so "
    "Catalyst reuses one hash partitioning for the join and both "
    "aggregates — a single fact shuffle at any scale.  Fixed-point "
    "round-then-sum keeps the filled sums bit-identical to the oracle.",
)
def impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    masked = e.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    means = masked.groupBy("user_id").agg(
        (decsum(F.col("v")) / F.count("v")).alias("mu")
    )
    j = masked.join(means, "user_id")
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").isNull().cast("int")).cast("bigint").alias("n_imputed"),
        decsum(F.coalesce(F.col("v"), F.col("mu"))).alias("sum_imputed"),
    )


@register(
    "events_value_mad_outliers",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               count(*) AS n,
               round(any_value(d.med), 6) AS med,
               round(any_value(x.mad), 6) AS mad,
               CAST(sum(CASE WHEN x.mad > 0 AND d.ad > 3.5 * x.mad
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad x USING (event_type)
        GROUP BY d.event_type
        """,
    category="aggregation",
    doc="Robust outlier detection via median/MAD (the modified z-score "
    "rule) — unlike 3-sigma, immune to the outliers it hunts: per "
    "group the exact median, then the median absolute deviation, then "
    "the count beyond 3.5 MADs.  Three passes over the facts with two "
    "broadcastable per-group tables between them; the deviation column "
    "is scan-side arithmetic.  Exact interpolated percentiles match "
    "quantile_cont bit-for-bit; at 100 TB both medians downgrade to "
    "approx_percentile without touching the plan shape.",
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", 0.5).alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    out = (F.col("mad") > 0) & (F.col("ad") > 3.5 * F.col("mad"))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.any_value("med"), 6).alias("med"),
        F.round(F.any_value("mad"), 6).alias("mad"),
        F.sum(out.cast("int")).cast("bigint").alias("n_outliers"),
    )


@register(
    "cube_grouping_id",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INTEGER)    AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER)  AS g_priority,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS gid,
               count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
    category="aggregation",
    doc="CUBE with GROUPING()/GROUPING_ID() metadata — the only way a "
    "consumer can tell a rollup-generated NULL (subtotal row) from a "
    "NULL that was in the data; every BI layer reading cube output "
    "keys on gid.  Same Expand-operator plan as cube_agg, plus the "
    "virtual grouping-bit columns.",
)
def cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "percentiles_disc",
    oracle="""
        SELECT event_type,
               quantile_disc(value, 0.5)  AS p50_disc,
               quantile_disc(value, 0.9)  AS p90_disc,
               count(*) AS n
        FROM events
        GROUP BY event_type
        """,
    category="aggregation",
    doc="Discrete percentiles (quantile_disc semantics: the smallest "
    "actual data value whose cumulative rank reaches p — never an "
    "interpolated value that exists in no row).  Spark has no "
    "percentile_disc aggregate, so it is derived exactly: sort-rank "
    "each group with a window, pick the value at rank ceil(p*n).  "
    "Matters whenever the percentile must be a real observation "
    "(latency SLOs quoting actual requests, price points).  One "
    "shuffle on the group key shared by window and aggregate.",
)
def percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select("event_type", "value")
    w = W.partitionBy("event_type").orderBy("value")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    # quantile_disc(p) = value at the smallest rank >= ceil(p * n)
    def pick(p):
        return F.min(
            F.when(F.col("rk") >= F.ceil(F.lit(p) * F.col("n")), F.col("value"))
        )

    return ranked.groupBy("event_type").agg(
        pick(0.5).alias("p50_disc"),
        pick(0.9).alias("p90_disc"),
        F.max("n").alias("n"),
    )


@register(
    "agg_bitwise_masks",
    oracle="""
        WITH masks AS (
            SELECT user_id,
                   bit_or(CASE event_type
                          WHEN 'view' THEN 1 WHEN 'click' THEN 2
                          WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                          ELSE 16 END)  AS seen_mask,
                   bit_and(CASE event_type
                           WHEN 'view' THEN 1 WHEN 'click' THEN 2
                           WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                           ELSE 16 END) AS const_mask,
                   bit_xor(event_id)    AS id_parity
            FROM events GROUP BY user_id
        )
        SELECT seen_mask,
               count(*) AS n_users,
               CAST(sum(CASE WHEN const_mask <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_single_type,
               CAST(bit_xor(id_parity) AS BIGINT) AS parity_fold
        FROM masks
        GROUP BY seen_mask
        """,
    category="aggregation",
    doc="Bitwise aggregates (bit_or / bit_and / bit_xor): per-user "
    "event-type bitmask — the compact 'which behaviors has this user "
    "ever shown' encoding that replaces five EXISTS probes with one "
    "int, re-aggregated into mask cohorts.  bit_and exposes single-"
    "type users (only one bit could survive every row); bit_xor is "
    "the order-independent parity fold (a checksum that reaggregates "
    "exactly).  All three are commutative-associative partials — the "
    "mergeable-rollup property (SCALE.md rule 10) for free on int64.",
)
def agg_bitwise_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    masks = e.groupBy("user_id").agg(
        F.bit_or(bit).alias("seen_mask"),
        F.bit_and(bit).alias("const_mask"),
        F.bit_xor("event_id").alias("id_parity"),
    )
    return masks.groupBy("seen_mask").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("const_mask") != 0).cast("int")).cast("bigint").alias(
            "n_single_type"
        ),
        F.bit_xor("id_parity").cast("bigint").alias("parity_fold"),
    )


@register(
    "table_profile",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
               CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
               min(CAST(o_orderdate AS DATE)) AS first_order,
               max(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_cents,
               CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_cents,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_prices
        FROM orders
        """,
    category="aggregation",
    doc="One-pass table profile (the df.summary()/describe shape, exact): "
    "row count, per-column distinct cardinalities, date range, price "
    "extremes and fixed-point total, null audit — all in a single scan "
    "with one aggregate.  The profiling pass every new 100 TB table "
    "gets before anyone queries it; the multi-distinct plan expands to "
    "one Expand + two-phase aggregate (no N scans for N stats), and at "
    "scale each count(DISTINCT) downgrades to approx_count_distinct "
    "without touching the shape.",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.min(cents).cast("bigint").alias("min_cents"),
        F.max(cents).cast("bigint").alias("max_cents"),
        F.sum(cents.cast("bigint")).alias("total_cents"),
        F.sum(F.col("o_totalprice").isNull().cast("int")).cast("bigint").alias(
            "null_prices"
        ),
    )


@register(
    "orders_gini_coefficient",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents, o_custkey) AS rk,
                   count(*) OVER () AS n,
                   sum(cents) OVER () AS total
            FROM per_cust
        )
        SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
               CAST(any_value(total) AS BIGINT) AS total_cents,
               round((2.0 * CAST(sum(rk * cents) AS DOUBLE)
                      / (CAST(any_value(n) AS DOUBLE)
                         * CAST(any_value(total) AS DOUBLE)))
                     - (CAST(any_value(n) AS DOUBLE) + 1)
                       / CAST(any_value(n) AS DOUBLE), 6) AS gini
        FROM ranked
        """,
    category="aggregation",
    doc="Gini coefficient of customer revenue — the inequality index "
    "behind 'how concentrated is our revenue' (0 = uniform, 1 = one "
    "customer is everything), complementing pareto_customer_revenue's "
    "fixed 80/20 readout.  Exact rank formula G = 2*sum(rk*x)/(n*sumx) "
    "- (n+1)/n over integer cents with deterministic tie-break "
    "(cents, custkey), so the single double rounding is bit-stable.  "
    "The rank comes from the two-phase bucketed prefix rank (SCALE.md "
    "rule 11, the corpus_shard_bybytes recipe): $10k-band bucket "
    "counts, exclusive offsets over the tiny bucket table, intra-"
    "bucket row_number — no single-partition sort over the customer "
    "rollup, and n/total ride in from a one-row broadcast instead of "
    "unpartitioned whole-frame windows.  rk*cents sums stay under "
    "2^63 to ~1e7 customers at this scale of cents.",
)
def orders_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
    ).withColumn("bkt", F.expr("cents div 1000000"))
    buckets = per_cust.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("c"), F.sum("cents").alias("bkt_cents")
    )
    offsets = buckets.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bkt", "off")
    totals = buckets.agg(
        F.sum("c").alias("n"), F.sum("bkt_cents").alias("total")
    )
    intra = Window.partitionBy("bkt").orderBy("cents", "o_custkey")
    ranked = per_cust.join(F.broadcast(offsets), "bkt").select(
        "cents", (F.col("off") + F.row_number().over(intra)).alias("rk")
    )
    n = F.any_value("n").cast("double")
    total = F.any_value("total").cast("double")
    gini = (
        F.lit(2.0) * F.sum(F.col("rk") * F.col("cents")).cast("double") / (n * total)
    ) - (n + 1) / n
    return (
        ranked.crossJoin(F.broadcast(totals))
        .agg(
            F.any_value("n").cast("bigint").alias("n_customers"),
            F.any_value("total").cast("bigint").alias("total_cents"),
            F.round(gini, 6).alias("gini"),
        )
    )


@register(
    "k_anonymity_check",
    oracle="""
        WITH qi AS (
            SELECT event_type,
                   CAST(hour(ts) AS INTEGER) AS hr,
                   CAST(round(value * 100) AS BIGINT) // 1000 AS value_band,
                   count(*) AS grp_n
            FROM events
            GROUP BY 1, 2, 3
        )
        SELECT count(*) AS n_groups,
               CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_groups_below_k,
               CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
                   AS n_rows_at_risk,
               CAST(min(grp_n) AS BIGINT) AS min_group
        FROM qi
        """,
    category="aggregation",
    doc="k-anonymity audit (k=5) over a quasi-identifier tuple — event "
    "type x hour x coarse value band: how many QI groups exist, how "
    "many are smaller than k, how many rows sit in them, and the "
    "worst group size.  The release gate run before publishing a "
    "dataset or training corpus: re-identification risk lives in "
    "exactly the rows this query counts, and the fix loop "
    "(generalize bands / suppress small groups) re-runs it until "
    "n_groups_below_k is zero.  One two-phase aggregate over the "
    "facts, then a scalar rollup over |groups| rows.",
)
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    qi = e.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 1000").alias("value_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    below = F.col("grp_n") < 5
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(below.cast("int")).cast("bigint").alias("n_groups_below_k"),
        F.sum(F.when(below, F.col("grp_n")).otherwise(0)).cast("bigint").alias(
            "n_rows_at_risk"
        ),
        F.min("grp_n").cast("bigint").alias("min_group"),
    )


@register(
    "source_decile_calibration",
    oracle="""
        WITH pooled AS (
            SELECT unnest(generate_series(1, 9)) AS decile,
                   unnest(quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                                  0.6, 0.7, 0.8, 0.9]))
                       AS pooled_val
            FROM documents
        ),
        per_source AS (
            SELECT source,
                   unnest(generate_series(1, 9)) AS decile,
                   unnest(quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                                  0.6, 0.7, 0.8, 0.9]))
                       AS source_val
            FROM documents GROUP BY source
        )
        SELECT s.source, s.decile,
               round(s.source_val, 6) AS source_val,
               round(p.pooled_val, 6) AS pooled_val,
               round(s.source_val - p.pooled_val, 6) AS gap
        FROM per_source s JOIN pooled p USING (decile)
        """,
    category="aggregation",
    doc="Distribution calibration by source: each source's exact "
    "n_chars deciles against the pooled corpus deciles, with the gap "
    "— the drift readout that catches one ingest source going "
    "long-tail before it skews training mixtures (the quantile table "
    "behind a PSI/KS check, kept exact and log-free so it "
    "hash-matches).  Two percentile aggregates (per-source and "
    "pooled, both group-cardinality output), one broadcast join of "
    "9-row tables; interpolated percentiles are bit-compatible with "
    "quantile_cont on integer inputs.",
)
def source_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    qs = [i / 10 for i in range(1, 10)]
    pooled = d.agg(
        F.percentile("n_chars", qs).alias("p")
    ).select(F.posexplode("p").alias("pos", "pooled_val"))
    per_source = (
        d.groupBy("source")
        .agg(F.percentile("n_chars", qs).alias("p"))
        .select("source", F.posexplode("p").alias("pos", "source_val"))
    )
    return (
        per_source.join(F.broadcast(pooled), "pos")
        .select(
            "source",
            (F.col("pos") + 1).cast("bigint").alias("decile"),
            F.round("source_val", 6).alias("source_val"),
            F.round("pooled_val", 6).alias("pooled_val"),
            F.round(F.col("source_val") - F.col("pooled_val"), 6).alias("gap"),
        )
    )


@register(
    "parts_abc_classification",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, cents,
                   sum(cents) OVER (ORDER BY cents DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_cents,
                   sum(cents) OVER () AS total
            FROM per_part
        ),
        classed AS (
            SELECT l_partkey, cents,
                   CASE WHEN (cum_cents - cents) * 100 < total * 80 THEN 'A'
                        WHEN (cum_cents - cents) * 100 < total * 95 THEN 'B'
                        ELSE 'C' END AS abc
            FROM ranked
        )
        SELECT abc,
               count(*) AS n_parts,
               CAST(sum(cents) AS BIGINT) AS class_cents,
               min(l_partkey) AS first_part
        FROM classed
        GROUP BY abc
        """,
    category="aggregation",
    doc="ABC classification: parts ranked by revenue, class A = parts "
    "whose cumulative share starts below 80%, B to 95%, C the tail — "
    "the inventory-prioritization rollup that generalizes "
    "pareto_customer_revenue's single 80/20 readout into named tiers. "
    " Share thresholds compare as integer cross-products "
    "((cum-own)*100 < total*80), so classification is exact; ties "
    "break on partkey.  The rank window runs over per-part aggregates "
    "(|parts| rows).  At 100 TB the part table is ~200M/SF rows — "
    "still window-able after the fact collapse; the fact scan itself "
    "is one two-phase aggregate.",
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_part = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    wr = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    ranked = per_part.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(wr).alias("cum_cents"),
        F.sum("cents").over(wall).alias("total"),
    )
    prior = (F.col("cum_cents") - F.col("cents")) * 100
    abc = (
        F.when(prior < F.col("total") * 80, "A")
        .when(prior < F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select("l_partkey", "cents", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
            F.min("l_partkey").alias("first_part"),
        )
    )


@register(
    "orders_basket_profile",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   count(*) AS n_lines,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                       AS total_qty
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_lines,
               count(*) AS n_orders,
               CAST(sum(total_qty) AS BIGINT) AS sum_qty,
               quantile_cont(total_qty, 0.5) AS median_qty
        FROM per_order
        GROUP BY n_lines
        """,
    category="aggregation",
    doc="Basket-size profile — the order-composition distribution "
    "(lines per order with per-size order counts, quantity mass, and "
    "the exact median quantity): the readout that shapes batch sizing "
    "and co-purchase analyses (market_basket_pairs' pair work is "
    "quadratic in exactly this distribution's tail).  Two keyed "
    "aggregates: fact → per-order rollup (one shuffle), rollup → "
    "size histogram (lines-per-order cardinality, tiny).  Whole-"
    "integer quantities keep the median interpolation engine-exact.",
)
def orders_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_order = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round("l_quantity").cast("bigint")).alias("total_qty"),
        )
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("total_qty").cast("bigint").alias("sum_qty"),
        F.expr("percentile(total_qty, 0.5)").alias("median_qty"),
    )


@register(
    "supplier_return_scorecard",
    oracle="""
        WITH per_supp AS (
            SELECT l_suppkey,
                   count(*) AS n_lines,
                   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returned
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT l_suppkey, n_lines, n_returned,
               CAST((1000000 * n_returned) // n_lines AS BIGINT)
                   AS return_ppm
        FROM per_supp
        WHERE n_lines >= 20
        ORDER BY return_ppm DESC, l_suppkey
        LIMIT 15
        """,
    category="aggregation",
    doc="Supplier return-rate scorecard — the vendor-quality ranking "
    "behind 'who do we stop buying from': per-supplier returned-line "
    "fraction in exact integer ppm (floor cross-multiplication, no "
    "float ratios), a minimum-volume gate (>= 20 lines) so "
    "low-sample suppliers can't top the list on noise, worst-15 via "
    "TakeOrdered (no global sort).  One supplier-keyed two-phase "
    "aggregate; the fact's partial counts collapse map-side.",
)
def supplier_return_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_supp = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
        )
    )
    return (
        per_supp.filter(F.col("n_lines") >= 20)
        .withColumn(
            "return_ppm",
            F.expr("(1000000 * n_returned) div n_lines").cast("bigint"),
        )
        .orderBy(F.col("return_ppm").desc(), "l_suppkey")
        .limit(15)
    )


@register(
    "dp_noisy_counts",
    oracle="""
        WITH c AS (
            SELECT event_type, count(*) AS n
            FROM events GROUP BY event_type
        ),
        h AS (
            SELECT event_type, n,
                   ('0x' || substring(md5('dp-v1:' || event_type), 1, 15))::BIGINT AS h
            FROM c
        ),
        z AS (
            SELECT event_type, n,
                   CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn,
                   bit_count((h >> 1) & ~((h >> 1) + 1)) AS mag
            FROM h
        )
        SELECT event_type,
               CAST(n + sgn * mag AS BIGINT) AS noisy_count
        FROM z
        """,
    category="aggregation",
    doc="Differentially-private count release via the two-sided geometric "
    "(discrete Laplace) mechanism: noise magnitude k has P(k)=2^-(k+1) "
    "— drawn EXACTLY as the trailing-ones count of an md5-derived "
    "60-bit hash (bit_count(y & ~(y+1)), no libm, no RNG state) with a "
    "hash-bit sign, giving eps = ln 2 for the count's sensitivity of "
    "1 — PROVIDED the salt is secret and single-use.  The registered "
    "form fixes salt='dp-v1:' (a public constant) so the release is "
    "reproducible and cross-engine exact: that makes it a MECHANISM "
    "DEMO WITH NO ACTUAL PRIVACY — the noise is then a deterministic "
    "public function of the data, and anyone can subtract it.  A real "
    "release MUST pass a cryptographically random, secret, per-release "
    "nonce via the salt parameter; reusing a nonce across releases or "
    "leaking it likewise voids the guarantee entirely (the mechanism "
    "and the plan are unchanged either way).  Sits next to "
    "k_anonymity_check as the publish-side privacy gate.  Plan: one "
    "two-phase count aggregate; the noise is scan-side integer bit "
    "arithmetic on the k-sized group table.",
)
def dp_noisy_counts(
    spark: SparkSession, sf_dir: str, salt: str = "dp-v1:"
) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "h",
            hash60(F.concat(F.lit(salt), F.col("event_type"))),
        )
        .withColumn("y", F.shiftright("h", 1))
    )
    mag = F.bit_count(F.col("y").bitwiseAND(F.bitwise_not(F.col("y") + 1)))
    sgn = F.when(F.col("h") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return c.select(
        "event_type",
        (F.col("n") + sgn * mag).cast("bigint").alias("noisy_count"),
    )


_WMED_BKT = 100_000  # 1000-dollar buckets over price cents


@register(
    "weighted_median_two_phase",
    oracle=f"""
        WITH t AS (
            SELECT l_returnflag AS f,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
                   CAST(l_quantity AS BIGINT) AS w
            FROM lineitem
        ),
        tot AS (SELECT f, CAST(sum(w) AS BIGINT) AS tw FROM t GROUP BY f),
        c AS (
            SELECT f, p,
                   CAST(sum(w) OVER (PARTITION BY f ORDER BY p) AS BIGINT)
                       AS cw
            FROM t
        )
        SELECT f AS l_returnflag,
               CAST(min(p) AS BIGINT) AS wmedian_cents,
               tw AS total_weight
        FROM c JOIN tot USING (f)
        WHERE 2 * cw >= tw
        GROUP BY f, tw
        """,
    category="aggregation",
    doc="Quantity-weighted median price per return flag, computed TWO-"
    "PHASE (SCALE rule 11): prices bucket into 1000-dollar ranges, one "
    "keyed shuffle sums weights per (flag, bucket), the cumulative "
    "runs over the TINY bucket table to locate the single bucket "
    "containing the median weight, and only that bucket's rows get an "
    "exact in-bucket cumulative — no full-table sort ever passes "
    "through one partition, unlike the textbook windowed form the "
    "oracle states.  Ties share a cumulative value (RANGE frame) in "
    "both phases, so 'smallest price whose cumulative weight reaches "
    "half the total' is exact and engine-identical.  The weighted "
    "median is the robust center for value-weighted metrics (order "
    "books, token-weighted doc stats) that the unweighted "
    "agg_median_mode can't express.",
)
def weighted_median_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t_ = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    bkt = t_.withColumn("b", F.expr(f"p div {_WMED_BKT}"))
    per_bkt = bkt.groupBy("f", "b").agg(F.sum("w").alias("bw"))
    wb = Window.partitionBy("f").orderBy("b")
    cum = per_bkt.select(
        "f",
        "b",
        "bw",
        F.sum("bw").over(wb.rowsBetween(Window.unboundedPreceding, 0)).alias("cb"),
    )
    tot = cum.groupBy("f").agg(F.sum("bw").cast("bigint").alias("tw"))
    with_tot = cum.join(tot, "f")
    # The single bucket where the cumulative weight first reaches half.
    target = (
        with_tot.filter(2 * F.col("cb") >= F.col("tw"))
        .groupBy("f", "tw")
        .agg(F.min("b").alias("tb"))
    )
    # Weight strictly before the target bucket (offset for phase 2).
    offset = (
        with_tot.join(target, "f")
        .filter(F.col("b") < F.col("tb"))
        .groupBy("f")
        .agg(F.sum("bw").alias("off"))
    )
    target_r = target.select(
        F.col("f").alias("tf"), F.col("tw"), F.col("tb")
    )
    in_bucket = bkt.join(
        F.broadcast(target_r),
        (F.col("f") == F.col("tf")) & (F.col("b") == F.col("tb")),
    ).select("f", "p", "w", "tw")
    win = Window.partitionBy("f").orderBy("p").rangeBetween(
        Window.unboundedPreceding, 0
    )
    scanned = in_bucket.join(F.broadcast(offset), "f", "left").select(
        "f",
        "p",
        "tw",
        (F.coalesce(F.col("off"), F.lit(0)) + F.sum("w").over(win)).alias("cw"),
    )
    return (
        scanned.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("f").alias("l_returnflag"), F.col("tw").alias("total_weight"))
        .agg(F.min("p").cast("bigint").alias("wmedian_cents"))
        .select("l_returnflag", "wmedian_cents", "total_weight")
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
                   CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS c
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT nk, CAST(sum(c) AS BIGINT) AS tc FROM rev GROUP BY nk),
        bp AS (
            SELECT r.nk, (r.c * 10000) // t.tc AS share_bp
            FROM rev r JOIN tot t USING (nk)
        )
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(share_bp * share_bp) AS BIGINT) AS hhi_bp2
        FROM bp JOIN nation n ON n.n_nationkey = bp.nk
        GROUP BY n.n_name
        """,
    category="aggregation",
    doc="Supplier revenue concentration per nation as a Herfindahl-"
    "Hirschman index in EXACT integer arithmetic: each supplier's "
    "share floors to basis points ((cents * 10000) div nation_cents) "
    "BEFORE squaring, so both engines sum identical integers — 1e8 = "
    "monopoly, ~1e8/n = perfect competition.  The procurement-risk "
    "readout ('how single-sourced is this nation') next to the "
    "supplier scorecard.  Plan: one supplier-keyed two-phase "
    "aggregate, nation totals join on the supplier-count-sized table, "
    "nation dim broadcast.  Cents * 10000 needs int64 headroom "
    "(~1e17 at petabyte revenue) — past that, pre-scale cents to "
    "dollars before the share division.",
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("c"))
    )
    tot = rev.groupBy("nk").agg(F.sum("c").cast("bigint").alias("tc"))
    bp = rev.join(tot, "nk").select(
        "nk", F.expr("(c * 10000) div tc").alias("share_bp")
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        bp.join(F.broadcast(n), bp.nk == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("share_bp") * F.col("share_bp"))
            .cast("bigint")
            .alias("hhi_bp2"),
        )
    )


@register(
    "approx_hll_partitioned_union",
    oracle="""
        SELECT n.n_regionkey,
               CAST(count(DISTINCT c.c_custkey % 1000) AS BIGINT)
                   AS exact_buckets,
               TRUE AS within_bound
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_regionkey
        """,
    category="approximate",
    doc="MERGEABLE HLL sketches (Spark 4 Apache DataSketches family): "
    "one hll_sketch_agg per nation, then hll_union_agg rolls the 25 "
    "nation sketches up into 5 region estimates — the two-level "
    "topology that makes sketches the 100 TB distinct-count answer: "
    "build once per partition/day, union later at ANY grouping "
    "without touching raw data (exact COUNT DISTINCT cannot "
    "re-aggregate).  The counted value (c_custkey % 1000) overlaps "
    "across nations, so the union genuinely deduplicates between "
    "sketches.  Registered as the r4 bound-assert convention: "
    "within_bound = |estimate - exact| <= 5% + 10, oracle emits the "
    "exact value and literal TRUE — a broken sketch pipeline goes "
    "red instead of hiding behind no_oracle.",
)
def approx_hll_partitioned_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(t(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    bucket = F.pmod(F.col("c_custkey"), F.lit(1000))
    per_nation = c.groupBy("n_regionkey", "c_nationkey").agg(
        F.hll_sketch_agg(bucket).alias("sk")
    )
    est = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = c.groupBy("n_regionkey").agg(
        F.count_distinct(bucket).cast("bigint").alias("exact_buckets")
    )
    return est.join(exact, "n_regionkey").select(
        "n_regionkey",
        "exact_buckets",
        (
            F.abs(F.col("est") - F.col("exact_buckets")).cast("double")
            <= 0.05 * F.col("exact_buckets") + 10
        ).alias("within_bound"),
    )


@register(
    "approx_kll_quantiles",
    oracle="""
        SELECT q_ppm,
               CAST(count(*) AS BIGINT) AS n_total,
               TRUE AS rank_within_bound
        FROM orders
        CROSS JOIN (SELECT unnest([250000, 500000, 750000]) AS q_ppm)
        GROUP BY q_ppm
        """,
    category="approximate",
    doc="KLL quantile sketches (Spark 4 DataSketches): one streaming "
    "pass builds a kll_sketch_agg_double over o_totalprice, then the "
    "P25/P50/P75 estimates are read out of the sketch — the 100 TB "
    "quantile answer (exact percentiles need a global sort; the "
    "sketch is one pass, mergeable across partitions, ~1.65% "
    "normalized rank error at k=200).  The check is IN-PLAN and "
    "rank-based, the only sound way to verify a quantile sketch: the "
    "exact rank of each estimated quantile (count of rows at or "
    "below it, computed by a second aggregate against the broadcast "
    "1-row estimates) must sit within 3% of the target rank.  Oracle "
    "emits the row count and literal TRUE per target.",
)
def approx_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    sk = o.agg(F.kll_sketch_agg_double("o_totalprice").alias("sk"))
    est = sk.select(
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(f"q{i}")
            for i, q in enumerate([0.25, 0.5, 0.75])
        ]
    )
    # one fused pass: all three rank counts in a single aggregate over
    # the broadcast 1-row estimates (orders is scanned exactly twice —
    # sketch build + rank check — at any scale)
    ranks = o.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(
                (F.col("o_totalprice") <= F.col(f"q{i}")).cast("bigint")
            ).alias(f"rk{i}")
            for i in range(3)
        ],
    )
    qs = F.array(
        *[
            F.struct(
                F.lit(int(q * 1_000_000)).cast("bigint").alias("q_ppm"),
                F.lit(q).alias("frac"),
                F.col(f"rk{i}").alias("rk"),
            )
            for i, q in enumerate([0.25, 0.5, 0.75])
        ]
    )
    return (
        ranks.select("n_total", F.explode(qs).alias("e"))
        .select(
            F.col("e.q_ppm").alias("q_ppm"),
            F.col("n_total").cast("bigint"),
            (
                F.abs(
                    F.col("e.rk").cast("double")
                    - F.col("e.frac") * F.col("n_total").cast("double")
                )
                <= 0.03 * F.col("n_total").cast("double") + 1
            ).alias("rank_within_bound"),
        )
    )


@register(
    "approx_theta_set_ops",
    oracle="""
        WITH a AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
             b AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase')
        SELECT CAST((SELECT count(*) FROM (SELECT user_id FROM a
                                           UNION SELECT user_id FROM b))
                    AS BIGINT) AS exact_union,
               CAST((SELECT count(*) FROM a WHERE user_id IN
                        (SELECT user_id FROM b)) AS BIGINT)
                   AS exact_intersect,
               TRUE AS union_within_bound,
               TRUE AS intersect_within_bound
        """,
    category="approximate",
    doc="THETA sketches (Spark 4 DataSketches): approximate DISTINCT "
    "SET ALGEBRA — |clickers UNION purchasers| and |clickers "
    "INTERSECT purchasers| from two one-pass sketches, no join of "
    "raw data.  This is the audience-overlap / reach-dedup query "
    "that at 100 TB runs as sketch-build per segment + driver-light "
    "set ops, where the exact form needs a shuffle join per pair of "
    "segments; unlike HLL, theta supports intersection and "
    "difference.  Bound-assert convention: both estimates must land "
    "within 5% + 5 of the exact twins (at this fixture's cardinality "
    "the sketches are below nominal capacity and thus exact — the "
    "query pins the plumbing; the bound is the production contract).",
)
def approx_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    ska = a.agg(F.theta_sketch_agg("user_id").alias("ska"))
    skb = b.agg(F.theta_sketch_agg("user_id").alias("skb"))
    both = ska.crossJoin(skb).select(
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("u_est"),
        F.theta_sketch_estimate(
            F.theta_intersection("ska", "skb")
        ).alias("i_est"),
    )
    exact = (
        a.distinct()
        .withColumn("ina", F.lit(1))
        .join(b.distinct().withColumn("inb", F.lit(1)), "user_id", "full")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union"),
            F.sum(
                (F.col("ina").isNotNull() & F.col("inb").isNotNull()).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("exact_intersect"),
        )
    )
    return both.crossJoin(F.broadcast(exact)).select(
        "exact_union",
        "exact_intersect",
        (
            F.abs(F.col("u_est") - F.col("exact_union")).cast("double")
            <= 0.05 * F.col("exact_union") + 5
        ).alias("union_within_bound"),
        (
            F.abs(F.col("i_est") - F.col("exact_intersect")).cast("double")
            <= 0.05 * F.col("exact_intersect") + 5
        ).alias("intersect_within_bound"),
    )


@register(
    "agg_groupingsets_df_api",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
    category="aggregation",
    doc="DataFrame.groupingSets() (Spark 4.0): the GROUPING SETS "
    "surface as a native DataFrame call instead of a SQL string — the "
    "missing piece that previously forced pipelines assembled in the "
    "DataFrame API to drop to spark.sql() for multi-grain rollups.  "
    "Same Expand-operator plan as the SQL form (one scan, one "
    "shuffle, rows replicated once per grouping set in the map "
    "stage); exact integer cents.  The oracle is the SQL GROUPING "
    "SETS twin — API and SQL must agree row-for-row including the "
    "NULL grain markers.",
)
def agg_groupingsets_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


@register(
    "agg_boolean_predicates",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               bool_and(value >= 0) AS all_nonneg,
               bool_or(value > 900) AS any_huge,
               CAST(count_if(value > 500) AS BIGINT) AS n_large,
               CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT)
                   AS n_even_users
        FROM events GROUP BY event_type
        """,
    category="aggregation",
    doc="Boolean-predicate aggregate surface: every()/bool_and, "
    "some()/bool_or, count_if, and the FILTER (WHERE ...) aggregate "
    "modifier — the assertion-style aggregates data-quality checks "
    "are written in ('all values non-negative', 'any outlier "
    "present') without a CASE-WHEN detour.  FILTER is evaluated "
    "before the aggregate buffer update, so at scale it prunes the "
    "aggregation input map-side exactly like a WHERE.  All four are "
    "codegen'd JVM aggregates with map-side partials.",
)
def agg_boolean_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("value") > 900).alias("any_huge"),
        F.count_if(F.col("value") > 500).cast("bigint").alias("n_large"),
        F.expr("count(*) FILTER (WHERE user_id % 2 = 0)")
        .cast("bigint")
        .alias("n_even_users"),
    )
