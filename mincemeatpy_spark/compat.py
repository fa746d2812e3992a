"""mincemeat-compatible ``mapreduce()`` API, Spark-native.

Reproduces the reference's entire user contract (reference
mincemeat.py:167-182, 284-290, 339-355; README.md:28-52) on the RDD API:

- ``datasource``: any dict-like — ``iter(ds)`` yields keys, ``ds[k]``
  yields values (reference mincemeat.py:306, 314).
- ``mapfn(k, v)``: a generator/iterable of ``(k2, v2)`` pairs — flatMap
  semantics, one input row to 0..n output pairs (reference
  mincemeat.py:167-173, example.py:12-14).
- ``collectfn(k, [v...]) -> v'`` (optional): map-side partial aggregate
  applied once per map task per key; the reference re-wraps the result in a
  1-element list so ``reducefn`` still sees a list (reference
  mincemeat.py:174-176).  Here "per map task" becomes "per partition" —
  the same contract at Spark's task granularity.
- ``reducefn(k, [v...]) -> r``: sees ALL values of a key in one call
  (reference mincemeat.py:179-182, 327-329).  Value order within the list
  is non-deterministic in the reference (worker-arrival order, reference
  mincemeat.py:347) and here (partition order) — callers must be
  order-insensitive, exactly as the reference requires.
- Returns the final ``{key: reduced_value}`` dict (reference
  mincemeat.py:225, 355).

What Spark gives us for free over the reference: distributed shuffle
instead of all intermediate data in master RAM (reference
mincemeat.py:344-347), speculative execution (reference
mincemeat.py:317-333), task-retry fault tolerance, and cloudpickle closure
shipping that — unlike the reference's marshal-of-bytecode (reference
mincemeat.py:284-290, README.md:93-96) — captures closures and referenced
globals, so ``import`` inside the function body is supported but no longer
required.

Dataflow: the reference's two plain-dict passes, one per side of a
Spark shuffle.

1. Map side, one ``mapPartitions``: ``mapfn`` runs over the partition's
   items and its pairs group into a plain ``{k: [v, ...]}`` dict in the
   same pass.  With ``collectfn`` each key ships as ``[collectfn(k, vs)]``,
   once per key per partition; without it the value list ships as is.
2. Shuffle: ``partitionBy(n)`` with Spark's default ``portable_hash``,
   which hashes ``None`` and tuples holding it alike in every worker.
3. Reduce side, one ``mapPartitions``: the shipped lists extend-merge into
   a plain dict (reference mincemeat.py:344-347) and each key yields
   ``(k, reducefn(k, vs))`` with ``vs`` a real ``list``.

Spill: both dicts check the worker's memory every batch of inserts, the
way ``pyspark.shuffle.ExternalMerger`` batches its own checks.  Past
``spark.python.worker.memory`` (read on the driver when the job is built)
a side hands its dict to an ``ExternalMerger`` — the spilling merger on
``groupByKey``'s map side — and streams the rest of its input through
it, so a partition larger than worker memory spills to disk instead of
failing.  The reduce side uses it too, not ``groupByKey``'s
``ExternalGroupBy``: that one sorts the keys of a spill holding fewer
than 1000 of them, which raises on keys of mixed types such as ``None``
and ``str``.  Below the limit, each value costs one dict insert and no
Python call beyond ``mapfn``.

Scale note: ``mapreduce`` collects the final dict to the driver because
that IS the reference's sink contract.  For 100 TB pipelines use the
DataFrame operators in ``operators/`` and write to parquet; this API is
the compatibility surface, not the scale path.

Input-side laziness IS honored, though: the reference streams one value
per task — "a dict-like that reads file contents in ``__getitem__``
streams gigabytes without materializing them" (reference README.md:76,
mincemeat.py:313-316).  For a non-Mapping dict-like, ``mapreduce`` ships
only the KEYS through the driver; the dict-like object itself travels to
executors by cloudpickle and ``ds[k]`` runs executor-side, so a
file-backed datasource never materializes through driver RAM (strictly
lazier than the reference, whose master reads each value before sending
it).  Plain ``Mapping``s are already in driver memory, so they
parallelize as items directly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from itertools import chain, starmap
from typing import Any

from pyspark.shuffle import Aggregator, ExternalMerger, get_used_memory
from pyspark.sql import SparkSession


def _append(vs: list[Any], v: Any) -> list[Any]:
    vs.append(v)
    return vs


def _extend(vs: list[Any], ws: list[Any]) -> list[Any]:
    vs.extend(ws)
    return vs


def _grouped(
    pairs: Iterable[tuple[Any, Any]], limit: float, lists: bool
) -> Iterable[tuple[Any, list[Any]]]:
    """Group ``(k, x)`` pairs into a plain ``{k: [v, ...]}``; return its items.

    Each ``x`` is one value to append, or with ``lists`` a list to
    extend-merge.  The worker's memory is checked after 1000 inserts and
    then after every 1.5x more, as ``ExternalMerger.mergeValues`` does.
    Past ``limit`` MiB the dict becomes the in-memory data of an
    ``ExternalMerger`` that takes the rest of ``pairs``, spills as it
    needs, and yields the merged items.
    """
    groups: dict[Any, Any] = {}
    get = groups.get
    it = iter(pairs)
    n, batch = 0, 1000
    for k, x in it:
        vs = get(k)
        if vs is None:
            groups[k] = x if lists else [x]
        elif lists:
            vs.extend(x)
        else:
            vs.append(x)
        n += 1
        if n >= batch:
            if get_used_memory() >= limit:
                merger = ExternalMerger(Aggregator(lambda v: [v], _append, _extend), limit)
                merger.data = groups
                (merger.mergeCombiners if lists else merger.mergeValues)(it)
                return merger.items()
            batch *= 1.5
    return groups.items()


def mapreduce(
    spark: SparkSession,
    datasource: Any,
    mapfn: Callable[[Any, Any], Iterable[tuple[Any, Any]]],
    reducefn: Callable[[Any, list[Any]], Any],
    collectfn: Callable[[Any, list[Any]], Any] | None = None,
    num_partitions: int | None = None,
) -> dict[Any, Any]:
    """Run one mincemeat-style map/reduce job; return ``{key: result}``.

    ``reducefn`` is mandatory, as in the reference (a worker with
    ``reducefn=None`` would crash at reference mincemeat.py:181).

    The datasource's type decides where ``datasource[k]`` runs.  A plain
    ``Mapping`` already holds its values in driver memory, so its items
    are parallelized.  Any other dict-like ships to the executors, which
    run ``datasource[k]`` there; only its keys pass through the driver
    (the reference's streaming-``__getitem__`` contract,
    mincemeat.py:313-316, README.md:76).
    """
    if reducefn is None:
        raise TypeError("reducefn is required (reference mincemeat.py:181)")

    sc = spark.sparkContext
    if isinstance(datasource, Mapping):
        items = list(datasource.items())
        n_part = num_partitions or min(max(1, len(items)), sc.defaultParallelism)
        rdd = sc.parallelize(items, n_part)
    else:
        keys = list(iter(datasource))
        n_part = num_partitions or min(max(1, len(keys)), sc.defaultParallelism)
        ds = datasource  # cloudpickled once per task; __getitem__ runs there
        rdd = sc.parallelize(keys, n_part).map(lambda k: (k, ds[k]))

    memory = rdd._memory_limit()  # spark.python.worker.memory, MiB

    def map_side(part: Iterable[tuple[Any, Any]]) -> Iterable[tuple[Any, list[Any]]]:
        # 0.9 of the limit, as groupByKey's map side, leaves room for
        # partitionBy's buckets.
        pairs = chain.from_iterable(starmap(mapfn, part))
        groups = _grouped(pairs, memory * 0.9, False)
        if collectfn is None:
            return groups
        # The reference's per-map-task combine, re-wrapped in a list
        # (mincemeat.py:174-176).
        return ((k, [collectfn(k, vs)]) for k, vs in groups)

    def reduce_side(part: Iterable[tuple[Any, list[Any]]]) -> Iterable[tuple[Any, Any]]:
        for k, vs in _grouped(part, memory, True):
            yield k, reducefn(k, vs)

    reduced = rdd.mapPartitions(map_side).partitionBy(n_part).mapPartitions(reduce_side)
    return dict(reduced.collect())


# ---------------------------------------------------------------------------
# Registry entry: the reference's canonical word-count job, run through the
# compat API against the documents table (the "many gigabytes of text"
# workload, reference README.md:76).
# ---------------------------------------------------------------------------

from mincemeatpy_spark.registry import register  # noqa: E402


@register(
    "compat_mapreduce_wordcount",
    oracle="""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
        """,
    category="compat",
    doc="Reference example.py word count via the mapreduce() compat API.",
)
def compat_mapreduce_wordcount(spark: SparkSession, sf_dir: str):
    """Word count (reference example.py:12-18) through ``mapreduce()``.

    The datasource is the documents table as a ``{doc_id: text}`` dict —
    the exact shape of the reference's ``dict(enumerate(lines))`` fixture
    (reference example.py:9-10), at table scale.
    """
    from mincemeatpy_spark.tables import t

    docs = {
        r["doc_id"]: r["text"]
        for r in t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def mapfn(k, v):
        for w in v.split():
            yield w, 1

    def reducefn(k, vs):
        return sum(vs)

    result = mapreduce(spark, docs, mapfn, reducefn, collectfn=reducefn)
    return spark.createDataFrame(
        [(w, int(c)) for w, c in result.items()], schema="word string, cnt bigint"
    )


# ---------------------------------------------------------------------------
# Drop-in class surface: the reference's Server/Client API verbatim, so a
# mincemeat user can switch imports and run their existing script.
# ---------------------------------------------------------------------------


# In-process server rendezvous: run_server registers itself per port so
# a Client "worker" thread can authenticate and block for the job's
# lifetime — the reference's client lifecycle (conn returns when the
# server closes the connection, reference mincemeat.py:148-150) without
# reimplementing the TCP mesh (wire protocol is O14, N/A by design).
_DEFAULT_PORT = 11235  # the reference's DEFAULT_PORT (mincemeat.py:24)
_SERVER_RUNS: dict[int, "_ServerRun"] = {}


class _ServerRun:
    def __init__(self, password: str) -> None:
        import threading

        self.password = password
        self.done = threading.Event()


class Server:
    """Drop-in for the reference's ``Server`` (reference mincemeat.py:208-242,
    README.md:28-41): assign ``datasource`` / ``mapfn`` / ``reducefn`` /
    ``collectfn`` attributes, call ``run_server(password=...)``, get the
    ``{key: reduced_value}`` dict back.

    Differences, all strict upgrades and documented:
    - execution is a Spark job, not a TCP master/worker mesh; the real
      compute workers are Spark executors (reference O8/O11 are the
      scheduler's job) and cluster auth is ``spark.authenticate``
      (reference O13);
    - ``password``/``port`` keep their API role for the in-process
      ``Client.conn`` rendezvous: a client thread connecting to the
      same port must present the same password (the reference's HMAC
      handshake outcome, reference mincemeat.py:99-128) and blocks
      until the run completes;
    - closures and referenced globals ship with the functions
      (cloudpickle), so imports inside the function body (reference
      README.md:93-96) are supported but no longer required.
    """

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark
        self.datasource: Any = None
        self.mapfn: Callable[[Any, Any], Iterable[tuple[Any, Any]]] | None = None
        self.reducefn: Callable[[Any, list[Any]], Any] | None = None
        self.collectfn: Callable[[Any, list[Any]], Any] | None = None

    def run_server(self, password: str = "", port: int | None = None) -> dict[Any, Any]:
        """Run the job; returns the result dict (reference mincemeat.py:225).

        Registers an in-process run at ``port`` for the lifetime of the
        job so ``Client.conn`` threads can rendezvous (see class doc).
        """
        if self.mapfn is None:
            raise TypeError("mapfn is required (reference mincemeat.py:169)")
        spark = self.spark
        if spark is None:
            from mincemeatpy_spark.session import get_spark

            spark = get_spark("mincemeat-compat-server")
        run = _ServerRun(password)
        key = port or _DEFAULT_PORT
        _SERVER_RUNS[key] = run
        try:
            return mapreduce(
                spark, self.datasource, self.mapfn, self.reducefn, self.collectfn
            )
        finally:
            # Deregister BEFORE waking waiters: a woken client must never
            # observe a completed run still listed as live.
            if _SERVER_RUNS.get(key) is run:
                del _SERVER_RUNS[key]
            run.done.set()


class Client:
    """Drop-in for the reference's ``Client`` worker loop (reference
    mincemeat.py:130-150, README.md:83-89).

    On Spark the compute workers are executors, so a user's worker
    script has no tasks to pull — but its LIFECYCLE is honored:
    ``conn()`` rendezvouses with an in-process ``Server.run_server``
    at the same port (checking ``self.password``, the reference's HMAC
    handshake outcome) and blocks until that run completes, exactly
    when the reference's ``conn`` returns (server closes the socket,
    mincemeat.py:148-150).  With no server running it warns and
    returns ``False`` — the cluster has no work for an external
    worker, and the no-op is visible rather than a silent success.
    Cross-process worker scripts simply exit; their machines join a
    real deployment as Spark executors instead (O15 maps to
    spark-submit, SURVEY.md §2a).
    """

    def __init__(self) -> None:
        self.password = ""

    def conn(self, server: str = "localhost", port: int | None = None) -> bool:
        """Returns True after rendezvousing with a completed in-process
        server run; False (with a warning) when no server is registered
        — a cross-process worker invocation is then VISIBLY a no-op,
        not a silent success (the reference worker would block trying
        to reach a real socket, mincemeat.py:148-150)."""
        run = _SERVER_RUNS.get(port or _DEFAULT_PORT)
        if run is None:
            import warnings

            warnings.warn(
                "Client.conn: no in-process Server.run_server is "
                "registered at this port — nothing for a worker to do. "
                "Cross-process workers join a Spark deployment as "
                "executors (spark-submit), not via this compat shim.",
                RuntimeWarning,
                stacklevel=2,
            )
            return False
        if run.password != self.password:
            # the reference's failed HMAC handshake closes the channel
            raise ConnectionRefusedError(
                "authentication failed: client password does not match "
                "the running server (reference mincemeat.py:99-128)"
            )
        run.done.wait()
        return True


def pipeline(
    spark: SparkSession,
    datasource: Any,
    jobs: Iterable[
        tuple[
            Callable[[Any, Any], Iterable[tuple[Any, Any]]],
            Callable[[Any, list[Any]], Any],
        ]
        | tuple[
            Callable[[Any, Any], Iterable[tuple[Any, Any]]],
            Callable[[Any, list[Any]], Any],
            Callable[[Any, list[Any]], Any] | None,
        ]
    ],
) -> dict[Any, Any]:
    """Chain mincemeat-style jobs: each job's ``{key: result}`` dict is
    the next job's datasource.

    The reference cannot do this — exactly one map phase and one reduce
    phase per server run (reference mincemeat.py:294-297; SURVEY.md §2a
    'no multi-stage chaining'), so iterative workloads restart the
    server with a new datasource by hand.  Here the chain is a single
    driver-side loop; each stage is a distributed job, and only the
    stage boundary result dicts (reduce output, already aggregated)
    touch the driver — the same contract as the reference's
    ``run_server`` return.  ``jobs`` entries are (mapfn, reducefn) or
    (mapfn, reducefn, collectfn).
    """
    result: Any = datasource
    for job in jobs:
        mapfn, reducefn, *rest = job
        collectfn = rest[0] if rest else None
        result = mapreduce(spark, result, mapfn, reducefn, collectfn=collectfn)
    return result
