"""Source/sink connectors: CSV, JSON, text, partitioned parquet.

The reference's only source is the dict-like lazy datasource (reference
mincemeat.py:306, 314) and its only sink is the driver dict (reference
mincemeat.py:225).  The rebuild exposes the full Spark reader/writer
surface; each roundtrip query below WRITES a format to a scratch dir and
READS it back through the corresponding reader (explicit schemas — never
inferSchema in production paths), with the parquet tables as oracle.

Scale notes: CSV/JSON are row formats — no pushdown, no pruning, no
stats; land data in parquet (columnar, min/max row-group stats) before
analytics.  Partitioned parquet gives partition pruning: a filter on the
partition column skips whole directories (asserted in tests/test_plans).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.operators._util import decsum, oracle_decsum
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t


def _fixture_tag(sf_dir: str) -> str:
    # Tag includes the fixture files' sizes+mtimes: if the driver
    # regenerates the testdata between rounds, write-once scratch
    # artifacts (partitioned/bucketed copies gated on _SUCCESS or
    # tableExists) must not serve stale data from the previous fixture
    # generation.
    sig = sf_dir + "|".join(
        f"{f}:{os.path.getsize(os.path.join(sf_dir, f))}:{int(os.path.getmtime(os.path.join(sf_dir, f)))}"
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    )
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def _scratch(sf_dir: str, name: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), "mincemeatpy_io", _fixture_tag(sf_dir), name
    )


@register(
    "source_csv_roundtrip",
    oracle=f"""
        SELECT n_regionkey, count(*) AS n, {oracle_decsum('n_nationkey')} AS key_sum
        FROM nation
        GROUP BY n_regionkey
        """,
    category="source",
    doc="CSV sink + source roundtrip (header, explicit schema on read) — "
    "values survive the text encoding exactly.",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "nation_csv")
    t(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        decsum(F.col("n_nationkey").cast("double")).alias("key_sum"),
    )


@register(
    "source_json_roundtrip",
    oracle="""
        SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS min_key
        FROM orders
        WHERE o_orderkey < 1000
        GROUP BY o_orderpriority
        """,
    category="source",
    doc="JSON-lines sink + source roundtrip with an explicit schema "
    "(schema-on-read; inference is a scan you don't want at 100 TB).",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "orders_json")
    (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .json(path)
    )
    back = spark.read.schema("o_orderkey bigint, o_orderpriority string").json(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.min("o_orderkey").alias("min_key")
    )


@register(
    "source_text_wordcount",
    oracle="""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
        ORDER BY cnt DESC, word
        LIMIT 10
        """,
    category="source",
    doc="Text sink + source: one line per document, read back with "
    "spark.read.text — the reference's file-corpus use-case (reference "
    "README.md:76, a dict-like of file contents) as a native text scan.",
)
def source_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "docs_text")
    t(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    return (
        lines.select(F.explode(F.split("value", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(10)
    )


@register(
    "sink_partitioned_parquet",
    oracle="""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        """,
    category="source",
    doc="Hive-style partitioned parquet sink (partitionBy=o_orderstatus) "
    "read back with a partition filter — the filter prunes whole "
    "directories before any IO (PartitionFilters in the scan; asserted "
    "in tests/test_plans.py::test_partition_pruning).",
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "orders_part")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@register(
    "source_orc_roundtrip",
    oracle=f"""
        SELECT c_mktsegment, count(*) AS n, {oracle_decsum('c_acctbal')} AS bal_sum
        FROM customer
        GROUP BY c_mktsegment
        """,
    category="source",
    doc="ORC sink + source roundtrip — Spark's second columnar format; "
    "same pushdown/pruning machinery as parquet (the scan-side plan "
    "properties are format-independent).",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "customer_orc")
    t(spark, sf_dir, "customer").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        decsum(F.col("c_acctbal")).alias("bal_sum"),
    )


@register(
    "join_bucketed_colocated",
    oracle=f"""
        SELECT o.o_orderstatus, count(*) AS n,
               {oracle_decsum('l.l_extendedprice')} AS price_sum
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        """,
    category="source",
    doc="Bucketed tables co-locate the join: orders and lineitem are both "
    "written bucketBy(8, orderkey) + sortBy, so the sort-merge join reads "
    "matching buckets side-by-side with NO shuffle exchange and no "
    "per-bucket sort (asserted in test_plans).  At 100 TB this is the "
    "difference between shuffling the fact table on every join and "
    "shuffling it once at ingest.  The merge hint forces SMJ so the "
    "exchange-free property is visible (broadcast would hide it here at "
    "test scale).",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = _fixture_tag(sf_dir)
    to, tl = f"orders_bkt_{tag}", f"lineitem_bkt_{tag}"
    for name, src, key in ((to, "orders", "o_orderkey"), (tl, "lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(name):
            (
                t(spark, sf_dir, src)
                .write.mode("overwrite")
                .option("path", _scratch(sf_dir, name))
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    o = spark.table(to)
    li = spark.table(tl)
    return (
        o.hint("merge")
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            decsum(F.col("l_extendedprice")).alias("price_sum"),
        )
    )


@register(
    "source_binaryfile",
    oracle="""
        SELECT count(*) AS n_files,
               CAST(sum(n_chars) AS BIGINT) AS total_bytes
        FROM documents
        WHERE doc_id < 50
        """,
    category="source",
    doc="binaryFile source — the ingest path for multimodal blobs (one "
    "row per file: path, length, content).  Writes the first 50 "
    "documents as raw .bin files (ASCII text, so byte length == "
    "n_chars), reads the directory back through "
    "spark.read.format('binaryFile'), and aggregates file count + byte "
    "sum; the oracle computes the same from the source table, proving "
    "content-lossless ingest.  At scale this reader is how image/audio "
    "corpora enter the engine (binary column + per-file metadata), "
    "feeding the multimodal mapInArrow decode stages.",
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "docs_bin")
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    )
    # this query owns the directory: clear leftovers from prior versions
    # so stale .bin files can't inflate n_files/total_bytes
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for row in docs:
        with open(os.path.join(path, f"{row.doc_id}.bin"), "wb") as f:
            f.write(row.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length(F.col("content"))).cast("bigint").alias("total_bytes"),
    )


@register(
    "sink_compaction",
    oracle="""
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY source
        """,
    category="source",
    doc="Small-file compaction — the maintenance pass every long-lived "
    "100 TB table needs: a fragmented drop (64 tiny files, simulating "
    "per-micro-batch or per-task output) is rewritten via repartition() "
    "into a handful of target-size files, then read back and verified "
    "lossless against the source-of-truth aggregate.  At scale you size "
    "the target file count from bytes/128MB and run this as a periodic "
    "OPTIMIZE; the repartition is the only shuffle and the read-back "
    "scan drops from 64 task launches to 4.  tests/test_plans.py "
    "asserts the compacted layout really has <=4 data files.",
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    frag = _scratch(sf_dir, "docs_frag")
    compact = _scratch(sf_dir, "docs_compact")
    docs = t(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_schema_evolution",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
                   AS chars_v2
        FROM documents
        GROUP BY lang
        """,
    category="source",
    doc="Schema evolution across parquet drops: an old drop lacks the "
    "n_chars column, a new drop carries it; mergeSchema=true unions the "
    "schemas on read and back-fills NULL for the missing column — the "
    "additive-column migration path a long-lived ingest pipeline needs "
    "(no rewrite of historical files).  The aggregate proves NULLs "
    "surface exactly where the old drop lacks the column.  At 100 TB "
    "you pay schema merge once at planning (footer sampling), not per "
    "row; readers needing only old columns are unaffected.",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "docs_evolve")
    docs = t(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    v1.write.mode("overwrite").parquet(os.path.join(path, "drop=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "drop=v2"))
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_v2"),
    )


@register(
    "source_csv_malformed",
    oracle="""
        SELECT CAST(sum(CASE WHEN doc_id % 10 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_good,
               CAST(sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corrupt,
               CAST(sum(CASE WHEN doc_id % 10 <> 3 THEN n_chars END) AS BIGINT)
                   AS good_chars
        FROM documents
        """,
    category="source",
    doc="Error-tolerant CSV ingest — at 100 TB some rows are always "
    "garbage and a scan that dies on row 40 billion is useless: rows "
    "whose doc_id % 10 = 3 are written corrupted (wrong arity), the "
    "read runs in PERMISSIVE mode with columnNameOfCorruptRecord, and "
    "the query accounts for every line — good rows aggregate, corrupt "
    "rows are counted via the _corrupt_record side channel (in "
    "production they'd also be quarantined to a badRecords path for "
    "replay).  The oracle derives both counts from the clean source "
    "of truth, proving no row was silently dropped.",
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import types as T

    path = _scratch(sf_dir, "docs_malformed_csv")
    shutil.rmtree(path, ignore_errors=True)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.when(
        F.col("doc_id") % 10 == 3,
        F.concat_ws("|", F.col("doc_id"), F.lit("x")),  # wrong arity
    ).otherwise(F.concat_ws(",", F.col("doc_id"), F.col("n_chars")))
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path)
    # Documented Spark behavior: _corrupt_record is only reliable when the
    # raw parsed rows are materialized (column pruning would otherwise
    # re-parse without the corrupt side channel) — cache before filtering.
    back = back.cache()
    return back.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("int")).cast("bigint").alias(
            "n_good"
        ),
        F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")))
        .cast("bigint")
        .alias("good_chars"),
    )


@register(
    "join_dynamic_partition_pruning",
    oracle=f"""
        SELECT o_orderpriority, count(*) AS n,
               {oracle_decsum('o_totalprice')} AS price_sum
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        """,
    category="source",
    doc="Dynamic partition pruning: the fact table is hive-partitioned "
    "on the join key (o_orderstatus); the dimension side carries the "
    "selective predicate (is_final=1), so the partitions to read are "
    "only known at runtime — Catalyst injects a dynamicpruning "
    "subquery that reuses the dim broadcast to prune fact partitions "
    "before the scan (asserted in test_plans).  At 100 TB this is THE "
    "star-schema scan killer: a date-dim filter prunes years of fact "
    "partitions without the query naming a partition value anywhere.",
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "orders_part")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", 1), ("O", 0), ("P", 0)], "o_orderstatus string, is_final int"
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("is_final") == 1)), "o_orderstatus")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            decsum(F.col("o_totalprice")).alias("price_sum"),
        )
    )


@register(
    "source_file_metadata",
    oracle="""
        SELECT 'nation.parquet' AS file_name,
               count(*) AS n_rows,
               min(n_nationkey) AS min_key
        FROM nation
        """,
    category="source",
    doc="Hidden file-metadata columns (_metadata.file_name): every file "
    "source exposes provenance — which physical file each row came "
    "from — without any column stored in the data.  The lineage/debug "
    "primitive for 100 TB lakes: skew by file, bad-file quarantine, "
    "and incremental-load audits all group by it.  The fixture table "
    "is a single file, so the oracle pins the basename literally "
    "(DuckDB's equivalent is read_parquet(..., filename=true)).",
)
def source_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        d.select(
            F.col("_metadata.file_name").alias("file_name"),
            "n_nationkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_nationkey").alias("min_key"),
        )
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
        WITH days AS (
            SELECT CAST(ts AS DATE) AS d, event_id, value FROM events
        ),
        target AS (SELECT min(d) AS td FROM days),
        merged AS (
            SELECT d, event_id,
                   CASE WHEN d = (SELECT td FROM target)
                        THEN value * 2 ELSE value END AS value
            FROM days
        )
        SELECT d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(round(value * 100)) AS BIGINT) AS cents
        FROM merged
        GROUP BY d
        """,
    category="source",
    doc="Dynamic partition overwrite — the incremental day-rewrite every "
    "partitioned data lake performs: a date-partitioned copy of events "
    "is written once, then a corrected batch for ONE day (values "
    "doubled, deterministically the earliest day) is written with "
    "partitionOverwriteMode=dynamic, which replaces ONLY the touched "
    "partition directory and leaves every other day's files untouched "
    "— static overwrite mode would truncate the whole table, the "
    "classic data-loss foot-gun this mode exists to prevent.  The "
    "read-back per-day counts and exact cent checksums must equal the "
    "oracle's merged view of original + corrected rows; at 100 TB "
    "this is how daily restatements avoid rewriting years of history.",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "events_dyn_overwrite")
    shutil.rmtree(path, ignore_errors=True)
    e = t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "event_id", "value"
    )
    e.write.partitionBy("d").mode("overwrite").parquet(path)

    target_day = e.agg(F.min("d").alias("td"))
    corrected = (
        e.join(F.broadcast(target_day), e.d == F.col("td"))
        .select("d", "event_id", (F.col("value") * 2).alias("value"))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        corrected.write.partitionBy("d").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(path)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("cents"),
    )


@register(
    "source_csv_gzip",
    oracle="""
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum
        FROM customer
        GROUP BY c_mktsegment
        """,
    category="source",
    doc="Gzip-compressed CSV ingest — the format raw data dumps actually "
    "arrive in.  Spark reads .csv.gz transparently (codec from the "
    "extension), but gzip is NOT SPLITTABLE: one file = one task no "
    "matter its size, so a single 100 GB .gz serializes an entire "
    "executor.  The write side therefore partitions FIRST (4 output "
    "files here) so the read back parallelizes per file — the "
    "operational rule at scale: many ~100 MB-1 GB gzip members (or a "
    "splittable codec like bzip2/zstd-seekable) instead of one "
    "monolith.  Values survive compression + text encoding exactly; "
    "the aggregate hash-matches the parquet-sourced oracle.",
)
def source_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "customer_csv_gz")
    (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .repartition(4)  # pre-split: each gzip member is one read task
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )
    back = (
        spark.read.schema("c_custkey bigint, c_mktsegment string")
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )


@register(
    "source_json_multiline",
    oracle="""
        SELECT r_regionkey, r_name
        FROM region
        """,
    category="source",
    doc="multiLine JSON ingest (one file = one JSON ARRAY, not "
    "json-lines) — the shape API exports and config dumps arrive in.  "
    "multiLine=true makes the whole file a single record boundary, so "
    "the file is NOT SPLITTABLE and is parsed by one task: correct for "
    "the small documents the format is used for, and exactly the "
    "reason bulk data should be json-lines (source_json_roundtrip) — "
    "the caveat is the content of this demo.  The array is written "
    "driver-side from the 5-row region dim (bounded by construction) "
    "and every field survives the roundtrip.",
)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    path = _scratch(sf_dir, "region_json_array")
    rows = (
        t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    )  # 5-row dimension — bounded
    os.makedirs(path, exist_ok=True)
    fpath = os.path.join(path, "region.json")
    tmp = fpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            [
                {"r_regionkey": r["r_regionkey"], "r_name": r["r_name"]}
                for r in sorted(rows, key=lambda r: r["r_regionkey"])
            ],
            f,
        )
    os.replace(tmp, fpath)
    return (
        spark.read.schema("r_regionkey bigint, r_name string")
        .option("multiLine", True)
        .json(fpath)
    )


@register(
    "source_text_fixedwidth",
    oracle="""
        SELECT n_regionkey,
               count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               min(trim(n_name)) AS first_name
        FROM nation
        GROUP BY n_regionkey
        """,
    category="source",
    doc="Fixed-width record ingest — the mainframe/legacy-export format "
    "with no delimiters at all: columns live at byte offsets "
    "(nationkey 1-4, name 5-29, regionkey 30-33 here).  The parse is "
    "spark.read.text + substring/trim/cast column expressions — pure "
    "scan-side whole-stage codegen, no UDF, and the text source splits "
    "by line so the read parallelizes like any delimited file.  The "
    "writer pads with the same layout (format_string), and the "
    "aggregate hash-matches the parquet-sourced oracle, proving the "
    "offset arithmetic on both sides.",
)
def source_text_fixedwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "nation_fixedwidth")
    (
        t(spark, sf_dir, "nation")
        .select(
            F.format_string(
                "%4d%-25s%4d",
                F.col("n_nationkey"),
                F.col("n_name"),
                F.col("n_regionkey"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    back = spark.read.text(path).select(
        F.substring("value", 1, 4).cast("int").alias("n_nationkey"),
        F.trim(F.substring("value", 5, 25)).alias("n_name"),
        F.substring("value", 30, 4).cast("int").alias("n_regionkey"),
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("first_name"),
    )
