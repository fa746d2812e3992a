"""Custom Spark data source implementing the reference's input contract.

The reference's entire input model is "a dict-like object: iterate keys,
fetch one value per key" (reference mincemeat.py:306, 313-316; its
docs promise any mapping works, e.g. a file-backed dict for the
"many gigabytes of text" use-case, reference README.md:76).  Spark 4's
Python Data Source API lets that contract be a first-class planned
source instead of a driver-side parallelize: ``partitions()`` splits the
keyspace (the analogue of the reference handing one key per map task),
``read(partition)`` yields the (key, value) rows executor-side, and the
result is a normal DataFrame every operator composes with — with column
pruning and a real scan node in the plan.

The bundled generator datasource is deterministic (value text is a pure
function of the key), which is what makes a DuckDB oracle possible for
a *programmatic* source: the oracle regenerates the same corpus with
generate_series arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from mincemeatpy_spark.registry import register


def _row_words(i: int) -> list[str]:
    """The three words of document ``i`` — shared by both row generators."""
    return [f"w{i % 7}", f"w{(i * 3) % 11}", f"w{(i * 5) % 13}"]


def _make_datasource_class():
    # Deferred import + local class definitions: pyspark.sql.datasource
    # exists only on Spark 4+, and the classes must be importable by
    # executors via cloudpickle (closure capture handles that).
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    # The row generator ships by value with the class (SCALE.md rule 14).
    def _gen(i: int) -> tuple:
        return (i, " ".join(_row_words(i)))

    class _Part(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class DictReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):  # keyspace split == reference's per-key tasks
            step = max(1, -(-self.n // self.parts))
            return [
                _Part(lo, min(lo + step, self.n))
                for lo in range(0, self.n, step)
            ]

        def read(self, part: _Part) -> Iterator[tuple]:
            for i in range(part.start, part.end):
                yield _gen(i)

    class DictStreamReader(SimpleDataSourceStreamReader):
        """Micro-batch form: each poll ships the next slice of the
        keyspace — the continuous-ingest version of the dict contract
        (a KV store where new keys keep arriving).  Offsets are plain
        key positions, so replay (readBetweenOffsets) is exact."""

        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", 1000))
            self.batch = int(options.get("batch", 100))

        def initialOffset(self) -> dict:
            return {"i": 0}

        def _rows(self, lo: int, hi: int) -> list[tuple]:
            return [_gen(i) for i in range(lo, hi)]

        def read(self, start: dict):
            lo = start["i"]
            hi = min(lo + self.batch, self.n)
            return iter(self._rows(lo, hi)), {"i": hi}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter(self._rows(start["i"], end["i"]))

    class DictDataSource(DataSource):
        """``format("mincemeat_dict")`` — keyed generator corpus."""

        @classmethod
        def name(cls) -> str:
            return "mincemeat_dict"

        def schema(self) -> str:
            return "key bigint, text string"

        def reader(self, schema) -> DictReader:
            return DictReader(self.options)

        def simpleStreamReader(self, schema) -> DictStreamReader:
            return DictStreamReader(self.options)

    return DictDataSource


def dict_source(spark: SparkSession, n: int = 1000, parts: int = 8) -> DataFrame:
    """Read the generator dict-datasource as a DataFrame."""
    spark.dataSource.register(_make_datasource_class())
    return (
        spark.read.format("mincemeat_dict")
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )


def dict_source_stream(spark: SparkSession, n: int = 1000, batch: int = 100) -> DataFrame:
    """The same datasource as a micro-batch stream (``readStream``)."""
    spark.dataSource.register(_make_datasource_class())
    return (
        spark.readStream.format("mincemeat_dict")
        .option("n", str(n))
        .option("batch", str(batch))
        .load()
    )


@register(
    "source_python_datasource",
    oracle="""
        WITH ks AS (SELECT unnest(generate_series(0, 1999)) AS i),
        words AS (
            SELECT 'w' || CAST(i % 7 AS VARCHAR) AS word FROM ks
            UNION ALL
            SELECT 'w' || CAST((i * 3) % 11 AS VARCHAR) FROM ks
            UNION ALL
            SELECT 'w' || CAST((i * 5) % 13 AS VARCHAR) FROM ks
        )
        SELECT word, count(*) AS cnt FROM words GROUP BY word
        """,
    category="source",
    doc="Word count over a custom Python Data Source (Spark 4 DataSource "
    "API) that implements the reference's dict-like input contract — "
    "iterate keys, fetch one value per key (reference mincemeat.py:306, "
    "313-316) — as a planned, partitioned scan: partitions() splits the "
    "keyspace exactly like the reference hands one key per map task, "
    "read() materializes values executor-side.  This is the idiomatic "
    "home for 'my corpus lives behind an API / KV store' ingest at "
    "scale: no driver-side parallelize, no collect, arbitrary partition "
    "count.  The generator is a pure function of the key, so the oracle "
    "rebuilds the identical corpus arithmetically.",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dict_source(spark, n=2000, parts=8)
    return (
        df.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _make_writer_class():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Done(WriterCommitMessage):
        def __init__(self, path: str, rows: int) -> None:
            self.path, self.rows = path, rows

    class JsonLinesWriter(DataSourceWriter):
        """Executor-side writer: each task streams its partition to one
        JSON-lines file; commit() publishes a _SUCCESS manifest listing
        every file + row count (the two-phase commit shape — files are
        invisible to readers until the driver-side commit)."""

        def __init__(self, options: dict, overwrite: bool) -> None:
            import uuid

            self.path = options["path"]
            self.overwrite = overwrite
            # fault-injection hook for the exactly-once-under-retry test
            # (tests/test_2pc_abort.py): first attempt of this partition
            # dies mid-write, AFTER flushing some rows — the same shape
            # Spark's own test sources use.  -1 (default) = never.
            self.inject_fail = int(options.get("injectfailpartition", "-1"))
            # write-scoped id, minted driver-side and shipped to every
            # task inside the pickled writer: filenames carry it so
            # abort() can sweep THIS job's files even when a task
            # completed its write but its commit message never reached
            # the driver (job already failing) — message-only cleanup
            # leaves such full files behind.
            self.write_id = uuid.uuid4().hex[:12]

        def write(self, iterator):
            import json
            import os

            from pyspark import TaskContext

            tc = TaskContext.get()
            pid = tc.partitionId()
            os.makedirs(self.path, exist_ok=True)
            # attempt-unique filename: a retried task must not share a
            # path with a zombie first attempt (pid-only names race —
            # the slow loser could clobber the winner's file after it
            # reported).  The _SUCCESS manifest lists only the winning
            # attempts' files, so orphans never surface to readers.
            out = os.path.join(
                self.path,
                f"part-{pid:05d}-{tc.taskAttemptId()}-{self.write_id}.json",
            )
            n = 0
            with open(out, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict()) + "\n")
                    n += 1
                    if (
                        pid == self.inject_fail
                        and tc.attemptNumber() == 0
                        and n >= 10
                    ):
                        f.flush()
                        raise RuntimeError(
                            "injected write failure on first attempt"
                        )
            return _Done(out, n)

        def commit(self, messages):
            import json
            import os

            # Zero-partition input: no task ever ran write(), so the
            # sink dir may not exist yet — commit() must still land an
            # (empty) _SUCCESS manifest (r8 ADVICE).
            os.makedirs(self.path, exist_ok=True)
            manifest = {
                "files": sorted(m.path for m in messages),
                "rows": sum(m.rows for m in messages),
            }
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages):
            import json
            import os

            # The job can abort before any task ran write() (planning /
            # upstream failure), in which case the sink directory was
            # never created — abort() must not raise and mask the
            # original job error.
            os.makedirs(self.path, exist_ok=True)
            removed = []
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)
                    removed.append(m.path)
            # messages cover only tasks whose commit message reached the
            # driver; a task can finish writing while the job is already
            # failing and never appear there.  The write-scoped filename
            # suffix identifies every file this job produced — committed,
            # uncommitted-complete, or dead-attempt partial — so sweep
            # them all.  (A zombie task may still be flushing while we
            # sweep; the _SUCCESS-manifest gate, not this cleanup, is
            # the correctness boundary — the sweep is hygiene.)
            suffix = f"-{self.write_id}.json"
            try:
                for f in os.listdir(self.path):
                    if f.endswith(suffix):
                        p = os.path.join(self.path, f)
                        os.remove(p)
                        removed.append(p)
            except OSError:
                pass
            with open(
                os.path.join(self.path, f"_ABORTED-{self.write_id}"), "w"
            ) as f:
                json.dump({"removed": sorted(set(removed))}, f)

    class JsonSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_jsonsink"

        def writer(self, schema, overwrite: bool) -> JsonLinesWriter:
            return JsonLinesWriter(self.options, overwrite)

    return JsonSinkDataSource


@register(
    "sink_python_datasource",
    oracle="""
        SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        GROUP BY source
        """,
    category="source",
    doc="Custom Python Data Source WRITER (Spark 4 DataSourceWriter): the "
    "sink half of the dict-contract connector — each task streams its "
    "partition to a JSON-lines file executor-side, and commit() runs "
    "driver-side only after every task reports, publishing a _SUCCESS "
    "manifest (the two-phase commit that keeps half-written output "
    "invisible — the property the reference gets from its first-"
    "result-wins dedup, mincemeat.py:340-342, and Spark formalizes as "
    "the commit protocol).  The written corpus is read back through the "
    "_SUCCESS manifest — ONLY committed files, exactly as a downstream "
    "consumer of the two-phase commit must — and aggregated; "
    "hash-equality against the source table proves the custom sink is "
    "lossless.  The target dir is cleared first so a rerun under a "
    "different partition layout can't leave stale part files behind.",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import shutil

    from mincemeatpy_spark.sources.readers import _scratch

    path = _scratch(sf_dir, "pyds_sink")
    shutil.rmtree(path, ignore_errors=True)
    spark.dataSource.register(_make_writer_class())
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "source", "n_chars")
        .write.format("mincemeat_jsonsink")
        .option("path", path)
        .mode("append")
        .save()
    )
    with open(os.path.join(path, "_SUCCESS")) as f:
        manifest = json.load(f)
    back = spark.read.schema("doc_id bigint, source string, n_chars bigint").json(
        manifest["files"]
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


def _make_stream_writer_class():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _Done(WriterCommitMessage):
        def __init__(self, path: str, rows: int) -> None:
            self.path, self.rows = path, rows

    class JsonLinesStreamWriter(DataSourceStreamWriter):
        """Streaming sink half of the connector: each micro-batch task
        streams its partition to a JSON-lines file; commit(batchId) runs
        driver-side per micro-batch and publishes a manifest-<batchId>
        listing that batch's files — the per-batch two-phase commit that
        gives a custom streaming sink exactly-once output (readers only
        trust manifested files; an aborted batch leaves no manifest)."""

        def __init__(self, options: dict) -> None:
            self.path = options["path"]
            # same fault-injection hook as the batch writer (see there);
            # every micro-batch's first attempt of this partition fails
            # once and must be retried exactly-once.
            self.inject_fail = int(options.get("injectfailpartition", "-1"))

        def write(self, iterator):
            import json
            import os

            from pyspark import TaskContext

            tc = TaskContext.get()
            os.makedirs(self.path, exist_ok=True)
            out = os.path.join(
                self.path, f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}.json"
            )
            n = 0
            with open(out, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict()) + "\n")
                    n += 1
                    if (
                        tc.partitionId() == self.inject_fail
                        and tc.attemptNumber() == 0
                        and n >= 10
                    ):
                        f.flush()
                        raise RuntimeError(
                            "injected write failure on first attempt"
                        )
            return _Done(out, n)

        def commit(self, messages, batchId) -> None:
            import json
            import os

            manifest = {
                "batch": batchId,
                "files": sorted(m.path for m in messages if m is not None),
                "rows": sum(m.rows for m in messages if m is not None),
            }
            with open(os.path.join(self.path, f"manifest-{batchId}.json"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages, batchId) -> None:
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class JsonStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_jsonsink_stream"

        def streamWriter(self, schema, overwrite) -> JsonLinesStreamWriter:
            return JsonLinesStreamWriter(self.options)

    return JsonStreamSinkDataSource


@register(
    "sink_python_datasource_stream",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events
        GROUP BY event_type
        """,
    category="source",
    doc="Custom Python Data Source STREAMING writer (Spark 4 "
    "DataSourceStreamWriter) — the last cell of the connector matrix "
    "(batch read / stream read / batch write / STREAM write): the "
    "events stream writes micro-batches through the custom sink, each "
    "batch publishing a manifest in its driver-side commit(batchId) — "
    "per-batch two-phase commit, the exactly-once contract a custom "
    "streaming sink must implement.  Losslessness is proven the hard "
    "way: read back ONLY manifested files and hash-match the per-type "
    "counts against the batch oracle over the source table.",
)
def sink_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import shutil

    from mincemeatpy_spark.sources.readers import _scratch
    from mincemeatpy_spark.streaming.stream_ops import events_stream

    path = _scratch(sf_dir, "pyds_stream_sink")
    ck = _scratch(sf_dir, "pyds_stream_sink_ck")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    spark.dataSource.register(_make_stream_writer_class())
    q = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.format("mincemeat_jsonsink_stream")
        .option("path", path)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = []
    for mf in sorted(os.listdir(path)):
        if mf.startswith("manifest-"):
            with open(os.path.join(path, mf)) as f:
                files.extend(json.load(f)["files"])
    back = spark.read.schema("event_id bigint, event_type string").json(files)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# --- WARC-style record-framed file source ------------------------------

_WARC_MAGIC = b"WARC/1.0\r\n"


def _make_warc_source_class():
    # Deferred import + local definitions: the class ships to executors
    # by value (SCALE rule 14), so everything it needs lives inside.
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Range(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class WarcReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]
            self.splits = int(options.get("splits", "8"))
            self.maxrec = int(options["maxrec"])

        def partitions(self):
            # Fixed byte ranges over the file — the Hadoop-input-split
            # shape: no driver-side record index, so partitioning cost
            # is O(1) no matter how many records the file holds.
            import os

            size = os.path.getsize(self.path)
            step = max(1, size // self.splits)
            bounds = list(range(0, size, step)) + [size]
            return [
                _Range(bounds[i], bounds[i + 1])
                for i in range(len(bounds) - 1)
            ]

        def read(self, part):
            # Split semantics: a record belongs to the range holding the
            # FIRST byte of its magic.  Overscan by maxrec + magic so the
            # last record starting in-range parses completely; payloads
            # are CR/LF-free by construction, so a magic match is always
            # a real record head (documented resync precondition).
            magic = b"WARC/1.0\r\n"
            with open(self.path, "rb") as f:
                f.seek(part.start)
                chunk = f.read((part.end - part.start) + self.maxrec + len(magic))
            limit = part.end - part.start  # magic must START before this
            pos = 0
            while True:
                hit = chunk.find(magic, pos)
                if hit < 0 or hit >= limit:
                    break
                hdr_end = chunk.index(b"\r\n\r\n", hit)
                headers = {}
                for line in chunk[hit + len(magic): hdr_end].split(b"\r\n"):
                    k, _, v = line.partition(b": ")
                    headers[k.decode()] = v.decode()
                n = int(headers["Content-Length"])
                payload = chunk[hdr_end + 4: hdr_end + 4 + n]
                yield (
                    int(headers["WARC-Record-ID"]),
                    n,
                    payload.decode("utf-8"),
                )
                pos = hdr_end + 4 + n

    class WarcDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_warc"

        def schema(self) -> str:
            return "doc_id bigint, n_bytes bigint, text string"

        def reader(self, schema) -> WarcReader:
            return WarcReader(self.options)

    return WarcDataSource


def _stage_warc(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write the first 500 documents as a WARC-style record file
    (bounded by the filter, like source_binaryfile's fixture write);
    returns (path, max record size) — maxrec caps the reader overscan."""
    import os

    from mincemeatpy_spark.sources.readers import _scratch
    from mincemeatpy_spark.tables import t

    path = _scratch(sf_dir, "docs_warc")
    os.makedirs(path, exist_ok=True)
    fpath = os.path.join(path, "docs.warc")
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
        .collect()
    )
    maxrec = 0
    buf = bytearray()
    for row in sorted(docs, key=lambda r: r.doc_id):
        payload = row.text.encode("utf-8")
        rec = (
            _WARC_MAGIC
            + f"WARC-Record-ID: {row.doc_id}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
            + payload
            + b"\r\n\r\n"
        )
        maxrec = max(maxrec, len(rec))
        buf += rec
    tmp = fpath + ".tmp"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fpath)
    return fpath, maxrec


@register(
    "source_warc_datasource",
    oracle="""
        -- octet_length(encode(..)) = UTF-8 BYTE length, matching the
        -- Content-Length the reader parses; n_chars would silently
        -- diverge on the first non-ASCII fixture document.
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, text
        FROM documents WHERE doc_id < 500
        """,
    category="source",
    doc="WARC-style record-framed ingestion — the format web-scale text "
    "corpora actually arrive in (Common Crawl WARC/WET): a Spark 4 "
    "Python DataSource whose partitions are FIXED BYTE RANGES with "
    "record-boundary resync (each reader scans its range for the "
    "record magic, owns records STARTING in-range, and overscans by "
    "the max record size to finish its last one) — the Hadoop input-"
    "split pattern, so partitioning needs no driver-side record index "
    "and scales to any file size at O(1) planning cost.  Payloads are "
    "CR/LF-free, making the magic-resync unambiguous (real WARC "
    "readers resync on gzip member boundaries the same way).  The "
    "fixture file is staged from the first 500 documents (bounded "
    "write, like source_binaryfile) and every parsed record must "
    "hash-match the source table byte for byte.",
)
def source_warc_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    fpath, maxrec = _stage_warc(spark, sf_dir)
    spark.dataSource.register(_make_warc_source_class())
    return (
        spark.read.format("mincemeat_warc")
        .option("path", fpath)
        .option("splits", "8")
        .option("maxrec", str(maxrec))
        .load()
    )


def _make_pushdown_datasource_class():
    """Python DataSource with FILTER PUSHDOWN (Spark 4.1
    DataSourceReader.pushFilters): the reference's dict contract again,
    but the keyspace is bucketed by a ``grp`` column and the reader
    prunes whole partitions for pushed ``grp`` predicates — the
    KV-store/API analogue of parquet partition pruning."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
        LessThanOrEqual,
    )

    def _val(gid: int, j: int) -> tuple:
        i = gid * 1000 + j
        return (gid, i, (i * i) % 97)

    class _GPart(InputPartition):
        def __init__(self, gid: int) -> None:
            self.gid = gid

    class IndexedReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.groups = int(options.get("groups", 8))
            self.rows_per = int(options.get("rowsper", 1000))
            # behavioral pushdown proof for tests: reading any group
            # OUTSIDE this allowlist raises — with pruning working the
            # pruned-out read() calls never happen, so the query
            # succeeds iff pushdown actually pruned.
            exp = options.get("expectonly")
            self.expect_only = (
                {int(x) for x in exp.split(",")} if exp else None
            )
            self.pushed: list = []

        def pushFilters(self, filters):
            # grp is constant within a partition, so any single-column
            # comparison on grp is FULLY enforced by partition pruning
            # alone; everything else stays with Spark.
            for f in filters:
                if isinstance(
                    f,
                    (EqualTo, GreaterThan, GreaterThanOrEqual,
                     LessThan, LessThanOrEqual),
                ) and f.attribute == ("grp",):
                    self.pushed.append(f)
                else:
                    yield f

        def _keep(self, gid: int) -> bool:
            for f in self.pushed:
                if isinstance(f, EqualTo) and gid != f.value:
                    return False
                if isinstance(f, GreaterThan) and not gid > f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and not gid >= f.value:
                    return False
                if isinstance(f, LessThan) and not gid < f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and not gid <= f.value:
                    return False
            return True

        def partitions(self):
            return [
                _GPart(g) for g in range(self.groups) if self._keep(g)
            ]

        def read(self, part: _GPart):
            if self.expect_only is not None and (
                part.gid not in self.expect_only
            ):
                raise RuntimeError(
                    f"pushdown failed: read() called for pruned group "
                    f"{part.gid}"
                )
            for j in range(self.rows_per):
                yield _val(part.gid, j)

    class IndexedDictDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_dict_indexed"

        def schema(self) -> str:
            return "grp int, id bigint, val bigint"

        def reader(self, schema) -> IndexedReader:
            return IndexedReader(self.options)

    return IndexedDictDataSource


@register(
    "source_python_datasource_pushdown",
    oracle="""
        WITH rows_g AS (
            SELECT g, g * 1000 + j AS id,
                   ((g * 1000 + j) * (g * 1000 + j)) % 97 AS val
            FROM (SELECT unnest([5, 6, 7]) AS g),
                 (SELECT unnest(generate_series(0, 999)) AS j)
        )
        SELECT CAST(g AS INTEGER) AS grp,
               count(*) AS n,
               CAST(sum(val) AS BIGINT) AS sum_val,
               min(id) AS first_id
        FROM rows_g
        GROUP BY g
        """,
    category="source",
    doc="Filter pushdown through a custom Python Data Source (Spark "
    "4.1 DataSourceReader.pushFilters): the planner hands the reader "
    "the conjuncts, the reader claims single-column grp comparisons "
    "(returning the rest for Spark to evaluate post-scan) and prunes "
    "whole keyspace partitions in partitions() — the KV/API-source "
    "analogue of parquet partition pruning, and the difference "
    "between scanning 3/8ths of a remote corpus and all of it.  "
    "Correct by construction: grp is constant per partition, so "
    "pruning enforces the claimed predicate exactly.  The companion "
    "test drives the same scan with an expectonly option that makes "
    "any pruned-out read() RAISE, proving the pruned partitions are "
    "never read (not merely filtered later), and pins that "
    "unsupported filters are handed back.  The oracle regenerates "
    "the surviving groups arithmetically.",
)
def source_python_datasource_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Pin-on-consumer (the repo's lazy-DataFrame conf rule,
    # tests/test_conf_invariants.py): the flag must still hold when the
    # driver collects, so no save/restore — it is left true, which only
    # affects Python datasources that IMPLEMENT pushFilters (none of
    # the repo's other sources do), verified by the adversarial-order
    # driver sim.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_make_pushdown_datasource_class())
    df = (
        spark.read.format("mincemeat_dict_indexed")
        .option("groups", "8")
        .option("rowsper", "1000")
        .load()
    )
    return (
        df.filter(F.col("grp") > 4)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("sum_val"),
            F.min("id").alias("first_id"),
        )
    )


def _make_arrow_writer_class():
    """Arrow-batch sink (Spark 4 ``DataSourceArrowWriter``): the
    vectorized twin of the row-iterator JSON sink — write() receives
    PyArrow RecordBatches zero-copy from the JVM, the executor writes
    one parquet file per task via pyarrow, and the driver publishes the
    same two-phase _SUCCESS manifest.  This is the shape for sinks that
    talk to Arrow-native systems (parquet/feather/ADBC/vector stores):
    no per-row Python objects exist at any point."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    class _Done(WriterCommitMessage):
        def __init__(self, path: str, rows: int) -> None:
            self.path, self.rows = path, rows

    class ArrowParquetWriter(DataSourceArrowWriter):
        def __init__(self, options: dict, overwrite: bool) -> None:
            import uuid

            self.path = options["path"]
            self.overwrite = overwrite
            self.write_id = uuid.uuid4().hex[:12]

        def write(self, iterator):
            import os

            import pyarrow.parquet as pq

            from pyspark import TaskContext

            tc = TaskContext.get()
            os.makedirs(self.path, exist_ok=True)
            out = os.path.join(
                self.path,
                f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}"
                f"-{self.write_id}.parquet",
            )
            # Stream batch-by-batch: the 100 TB fast path must never
            # buffer a whole task partition in executor memory at once.
            # The ParquetWriter opens lazily on the first batch (which
            # supplies the schema, so the empty partition needs no
            # special schema handling — it simply never opens a file).
            writer = None
            rows = 0
            try:
                for batch in iterator:
                    if writer is None:
                        writer = pq.ParquetWriter(out, batch.schema)
                    writer.write_batch(batch)
                    rows += batch.num_rows
            finally:
                if writer is not None:
                    writer.close()
            if writer is None:
                # empty partition: report zero rows, no file (commit()
                # filters the empty path out of the manifest)
                return _Done("", 0)
            return _Done(out, rows)

        def commit(self, messages):
            import json
            import os

            os.makedirs(self.path, exist_ok=True)
            manifest = {
                "files": sorted(m.path for m in messages if m.path),
                "rows": sum(m.rows for m in messages),
            }
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages):
            import json
            import os

            os.makedirs(self.path, exist_ok=True)
            removed = []
            for m in messages:
                if m is not None and m.path and os.path.exists(m.path):
                    os.remove(m.path)
                    removed.append(m.path)
            suffix = f"-{self.write_id}.parquet"
            try:
                for f in os.listdir(self.path):
                    if f.endswith(suffix):
                        p = os.path.join(self.path, f)
                        os.remove(p)
                        removed.append(p)
            except OSError:
                pass
            with open(
                os.path.join(self.path, f"_ABORTED-{self.write_id}"), "w"
            ) as f:
                json.dump({"removed": sorted(set(removed))}, f)

    class ArrowSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_arrowsink"

        def writer(self, schema, overwrite: bool) -> ArrowParquetWriter:
            return ArrowParquetWriter(self.options, overwrite)

    return ArrowSinkDataSource


@register(
    "sink_python_datasource_arrow",
    oracle="""
        SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
               min(doc_id) AS first_doc
        FROM documents
        GROUP BY lang
        """,
    category="source",
    doc="Arrow-batch custom sink (Spark 4 DataSourceArrowWriter): the "
    "vectorized twin of sink_python_datasource — write() receives "
    "PyArrow RecordBatches from the JVM (no per-row Python objects "
    "anywhere) and each task writes one parquet file via pyarrow, "
    "with the same two-phase _SUCCESS-manifest commit and write-"
    "scoped abort sweep as the row sink.  This is the fast path for "
    "Arrow-native targets (parquet stores, ADBC databases, vector "
    "indexes): at 100 TB the per-row iterator sink pays Python "
    "object-per-row costs, the Arrow sink pays none.  Read back "
    "through the manifest only and hash-matched against the source "
    "table, proving batch-boundary handling (multiple RecordBatches "
    "per task) is lossless.",
)
def sink_python_datasource_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import shutil

    from mincemeatpy_spark.sources.readers import _scratch

    path = _scratch(sf_dir, "pyds_arrow_sink")
    shutil.rmtree(path, ignore_errors=True)
    spark.dataSource.register(_make_arrow_writer_class())
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang", "n_chars")
        .write.format("mincemeat_arrowsink")
        .option("path", path)
        .mode("append")
        .save()
    )
    with open(os.path.join(path, "_SUCCESS")) as f:
        manifest = json.load(f)
    back = spark.read.parquet(*manifest["files"])
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("first_doc"),
    )


def _make_arrow_source_class():
    """Arrow-batch READER (Spark 4 Python DataSource): ``read()`` yields
    PyArrow RecordBatches built with vectorized numpy arithmetic instead
    of per-row tuples — the scan-side twin of DataSourceArrowWriter.
    For a generator/KV source this removes the Python-object-per-row
    cost entirely: each partition materializes as a handful of columnar
    batches that cross into the JVM via Arrow."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Span(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class ArrowGenReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", 10000))
            self.parts = int(options.get("parts", 8))
            self.batch_rows = int(options.get("batchrows", 512))

        def partitions(self):
            step = max(1, -(-self.n // self.parts))
            return [
                _Span(lo, min(lo + step, self.n))
                for lo in range(0, self.n, step)
            ]

        def read(self, part: _Span):
            import numpy as np
            import pyarrow as pa

            # multiple batches per partition on purpose: batch-boundary
            # handling is part of what the oracle certifies
            for lo in range(part.start, part.end, self.batch_rows):
                hi = min(lo + self.batch_rows, part.end)
                ids = np.arange(lo, hi, dtype=np.int64)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids),
                        pa.array((ids % 16).astype(np.int32)),
                        pa.array((ids * ids) % 97),
                        pa.array(((ids * 31) % 1000) / 1000.0),
                    ],
                    names=["id", "bucket", "val", "score"],
                )

    class ArrowDictDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_dict_arrow"

        def schema(self) -> str:
            return "id bigint, bucket int, val bigint, score double"

        def reader(self, schema) -> ArrowGenReader:
            return ArrowGenReader(self.options)

    return ArrowDictDataSource


@register(
    "source_python_datasource_arrow",
    oracle="""
        WITH rows_a AS (
            SELECT i AS id, CAST(i % 16 AS INTEGER) AS bucket,
                   (i * i) % 97 AS val,
                   ((i * 31) % 1000) / 1000.0 AS score
            FROM (SELECT unnest(generate_series(0, 9999)) AS i)
        )
        SELECT bucket, count(*) AS n,
               CAST(sum(val) AS BIGINT) AS sum_val,
               sum(score) AS sum_score,
               min(id) AS first_id
        FROM rows_a
        GROUP BY bucket
        """,
    category="source",
    doc="Arrow-batch READER through the Python DataSource (read() "
    "yields PyArrow RecordBatches built with vectorized numpy, "
    "multiple batches per partition): the scan-side twin of the "
    "Arrow sink, completing the vectorized connector matrix "
    "(row/Arrow x read/write x batch/stream).  No Python row object "
    "is ever created — exactly how a 100 TB KV/API scan should move "
    "bytes (columnar batches over Arrow, JVM aggregates after).  "
    "scores are 1/1000-rationals so both engines hold identical "
    "doubles; the oracle regenerates the corpus arithmetically and "
    "the hash match certifies batch-boundary handling.",
)
def source_python_datasource_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spark.dataSource.register(_make_arrow_source_class())
    df = (
        spark.read.format("mincemeat_dict_arrow")
        .option("n", "10000")
        .option("parts", "8")
        .option("batchrows", "512")
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("sum_val"),
        F.sum("score").alias("sum_score"),
        F.min("id").alias("first_id"),
    )


def _make_stream_arrow_writer_class():
    """Streaming Arrow sink (Spark 4.1 ``DataSourceStreamArrowWriter``):
    per-micro-batch RecordBatch consumption with the same per-batch
    manifest commit as the row streaming sink — completes the connector
    matrix's last cell (Arrow x stream x write)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    class _Done(WriterCommitMessage):
        def __init__(self, path: str, rows: int) -> None:
            self.path, self.rows = path, rows

    class ArrowParquetStreamWriter(DataSourceStreamArrowWriter):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def write(self, iterator):
            import os

            import pyarrow.parquet as pq

            from pyspark import TaskContext

            tc = TaskContext.get()
            os.makedirs(self.path, exist_ok=True)
            out = os.path.join(
                self.path,
                f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}.parquet",
            )
            # Stream batch-by-batch (no whole-partition buffering); the
            # lazy first-batch open also handles the empty partition.
            writer = None
            rows = 0
            try:
                for batch in iterator:
                    if writer is None:
                        writer = pq.ParquetWriter(out, batch.schema)
                    writer.write_batch(batch)
                    rows += batch.num_rows
            finally:
                if writer is not None:
                    writer.close()
            if writer is None:
                return _Done("", 0)
            return _Done(out, rows)

        def commit(self, messages, batchId) -> None:
            import json
            import os

            os.makedirs(self.path, exist_ok=True)
            manifest = {
                "batch": batchId,
                "files": sorted(
                    m.path for m in messages if m is not None and m.path
                ),
                "rows": sum(m.rows for m in messages if m is not None),
            }
            with open(
                os.path.join(self.path, f"manifest-{batchId}.json"), "w"
            ) as f:
                json.dump(manifest, f)

        def abort(self, messages, batchId) -> None:
            import os

            for m in messages:
                if m is not None and m.path and os.path.exists(m.path):
                    os.remove(m.path)

    class ArrowStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_arrowsink_stream"

        def streamWriter(self, schema, overwrite: bool):
            return ArrowParquetStreamWriter(self.options)

    return ArrowStreamSinkDataSource


@register(
    "sink_python_datasource_arrow_stream",
    oracle="""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        GROUP BY event_type
        """,
    category="source",
    doc="Streaming Arrow sink (Spark 4.1 DataSourceStreamArrowWriter) "
    "— the LAST cell of the connector matrix (row/Arrow x read/write "
    "x batch/stream): micro-batches arrive as PyArrow RecordBatches, "
    "each task writes parquet via pyarrow with zero per-row Python "
    "objects, and commit(batchId) publishes the per-batch manifest "
    "(the exactly-once contract).  Read back through manifests only "
    "and hash-matched against the batch oracle over the source "
    "table, value integerized to exact cents.",
)
def sink_python_datasource_arrow_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json
    import os
    import shutil

    from mincemeatpy_spark.sources.readers import _scratch
    from mincemeatpy_spark.streaming.stream_ops import events_stream

    path = _scratch(sf_dir, "pyds_arrow_stream_sink")
    ck = _scratch(sf_dir, "pyds_arrow_stream_sink_ck")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    spark.dataSource.register(_make_stream_arrow_writer_class())
    q = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .writeStream.format("mincemeat_arrowsink_stream")
        .option("path", path)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = []
    for mf in sorted(os.listdir(path)):
        if mf.startswith("manifest-"):
            with open(os.path.join(path, mf)) as f:
                files.extend(json.load(f)["files"])
    back = spark.read.parquet(*files)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("value") * 100).cast("bigint")
        ).alias("value_cents"),
    )


def _make_partitioned_stream_class():
    """Partitioned ``DataSourceStreamReader`` — the scale-path streaming
    read API (vs ``SimpleDataSourceStreamReader``, which reads on the
    DRIVER): the planner asks for ``partitions(start, end)`` per
    micro-batch and ships each ``InputPartition`` to an executor whose
    ``read(partition)`` materializes the rows — so one micro-batch
    fans out across the cluster exactly like a batch scan.  This is
    the last distinct cell of the connector matrix (stream-read with
    executor-side parallelism)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    def _gen(i: int) -> tuple:
        return (i, " ".join(_row_words(i)))

    class _Slice(InputPartition):
        def __init__(self, lo: int, hi: int) -> None:
            self.lo, self.hi = lo, hi

    class PartitionedDictStreamReader(DataSourceStreamReader):
        def __init__(self, options: dict) -> None:
            self.n = int(options.get("n", 1000))
            self.batch = int(options.get("batch", 250))
            self.parts = int(options.get("parts", 4))

        def initialOffset(self) -> dict:
            return {"i": 0}

        def latestOffset(self) -> dict:
            # each poll advances the available watermark by one batch
            # until the keyspace ends (the finite-stream convention) —
            # pacing lives HERE: partitions() must honor [start, end)
            # exactly or the committed offset would skip unread keys
            self._pos = min(getattr(self, "_pos", 0) + self.batch, self.n)
            return {"i": self._pos}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["i"], end["i"]
            if hi <= lo:
                return [_Slice(lo, lo)]
            step = max(1, -(-(hi - lo) // self.parts))
            return [
                _Slice(p, min(p + step, hi)) for p in range(lo, hi, step)
            ]

        def read(self, part: _Slice):
            for i in range(part.lo, part.hi):
                yield _gen(i)

        def commit(self, end: dict) -> None:
            pass  # offsets are pure key positions; nothing to release

    class PartitionedDictDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mincemeat_dict_partstream"

        def schema(self) -> str:
            return "key bigint, text string"

        def streamReader(self, schema) -> PartitionedDictStreamReader:
            return PartitionedDictStreamReader(self.options)

    return PartitionedDictDataSource


@register(
    "source_python_datasource_stream_partitioned",
    oracle="""
        WITH ks AS (SELECT unnest(generate_series(0, 1499)) AS i),
        words AS (
            SELECT 'w' || CAST(i % 7 AS VARCHAR) AS word FROM ks
            UNION ALL
            SELECT 'w' || CAST((i * 3) % 11 AS VARCHAR) FROM ks
            UNION ALL
            SELECT 'w' || CAST((i * 5) % 13 AS VARCHAR) FROM ks
        )
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM words GROUP BY word
        """,
    category="source",
    doc="Word count over the PARTITIONED Python stream reader "
    "(DataSourceStreamReader): unlike the Simple reader — whose "
    "read() runs on the driver and is re-shipped — partitions(start, "
    "end) plans one InputPartition per keyspace slice per micro-batch "
    "and executors run read(partition) in parallel, the same fan-out "
    "contract as a batch scan.  Offsets are plain key positions "
    "(exactly-once replay is trivially exact), commit() is the "
    "offset-release hook.  The finite 1500-key stream drains through "
    "the real micro-batch engine (run_to_completion) into a windowless "
    "global word count whose oracle regenerates the corpus "
    "arithmetically — the dict-contract determinism rule.",
)
def source_python_datasource_stream_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mincemeatpy_spark.streaming.stream_ops import run_to_completion

    spark.dataSource.register(_make_partitioned_stream_class())
    s = (
        spark.readStream.format("mincemeat_dict_partstream")
        .option("n", "1500")
        .option("batch", "500")
        .option("parts", "4")
        .load()
    )
    counts = (
        s.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return run_to_completion(counts, "pds_partstream_sink")
