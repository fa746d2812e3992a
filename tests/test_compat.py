"""Golden test: the reference's one certified behavior (reference
example.py:4-18, smoke.sh:1), reproduced through the compat API —
compared order-insensitively (FIXTURES.md Fixture 0).
"""

from __future__ import annotations

import contextlib

from mincemeatpy_spark.compat import mapreduce

CORPUS = {
    0: "Humpty Dumpty sat on a wall",
    1: "Humpty Dumpty had a great fall",
    2: "All the King's horses and all the King's men",
    3: "Couldn't put Humpty together again",
}

EXPECTED = {
    "a": 2, "on": 1, "great": 1, "Humpty": 3, "again": 1, "wall": 1,
    "Dumpty": 2, "men": 1, "had": 1, "all": 1, "together": 1, "King's": 2,
    "horses": 1, "All": 1, "Couldn't": 1, "fall": 1, "and": 1, "the": 2,
    "put": 1, "sat": 1,
}


def mapfn(k, v):
    for w in v.split():
        yield w, 1


def reducefn(k, vs):
    return sum(vs)


def test_golden_wordcount(spark):
    assert mapreduce(spark, CORPUS, mapfn, reducefn) == EXPECTED


def test_golden_wordcount_with_collectfn(spark):
    # collectfn = map-side partial sum (reference mincemeat.py:174-176);
    # must not change the result.
    assert mapreduce(spark, CORPUS, mapfn, reducefn, collectfn=reducefn) == EXPECTED


def test_reducefn_required(spark):
    import pytest

    with pytest.raises(TypeError):
        mapreduce(spark, CORPUS, mapfn, None)


def test_closure_capture(spark):
    # The reference ships ONLY bytecode (marshal of func_code, reference
    # mincemeat.py:284-290) so closures/globals are lost and imports must
    # live inside the function body (reference README.md:93-96).
    # cloudpickle is strictly stronger: closures and referenced globals
    # ship too.  This job is impossible under the reference's contract.
    factor = 10

    def mapfn(k, v):
        for w in v.split():
            yield w, factor  # closure variable

    def reducefn(k, vs):
        return sum(vs)

    result = mapreduce(spark, {0: "x y x"}, mapfn, reducefn)
    assert result == {"x": 20, "y": 10}


def test_import_inside_function_still_works(spark):
    # The reference REQUIRES imports inside the function body; we keep
    # supporting that style (it must not break).
    def mapfn(k, v):
        import math

        yield k, math.floor(v)

    def reducefn(k, vs):
        return sum(vs)

    assert mapreduce(spark, {1: 2.7, 2: 3.2}, mapfn, reducefn) == {1: 2, 2: 3}


def test_mapfn_generator_multi_emit(spark):
    # flatMap semantics: one input row may yield 0..n pairs (reference
    # mincemeat.py:167-173) — including zero (filtering).
    def mapfn(k, v):
        if v % 2 == 0:
            yield "even", v
            yield "all", v
        # odd rows emit nothing

    def reducefn(k, vs):
        return sorted(vs)

    result = mapreduce(spark, {i: i for i in range(6)}, mapfn, reducefn)
    assert result == {"even": [0, 2, 4], "all": [0, 2, 4]}


def test_reducefn_sees_all_values_of_key(spark):
    # Per-key locality: reducefn gets ALL values of a key in one call
    # (reference mincemeat.py:327-329) regardless of partitioning.
    def mapfn(k, v):
        yield v % 3, 1

    def reducefn(k, vs):
        return len(vs)

    result = mapreduce(spark, {i: i for i in range(30)}, mapfn, reducefn, num_partitions=7)
    assert result == {0: 10, 1: 10, 2: 10}


def test_collectfn_once_per_key_per_partition(spark):
    # The reference applies collectfn once per key per map task
    # (mincemeat.py:174-176); a map task here is one partition.  And
    # reducefn gets a real list, as the master's merged dict holds
    # (mincemeat.py:344-347), so in-place list methods work on it.
    def mfn(k, v):
        yield "x", k  # "x" appears in every partition

    def rfn(k, vs):
        is_list = isinstance(vs, list)
        vs.sort()
        return is_list, vs

    ds = {i: i for i in range(9)}
    out = mapreduce(spark, ds, mfn, rfn, collectfn=lambda k, vs: len(vs), num_partitions=3)
    is_list, counts = out["x"]
    assert is_list
    assert len(counts) == 3 and sum(counts) == len(ds)


def test_none_and_tuple_keys_reach_one_reducer(spark):
    # Keys holding None hash alike in every Python process only through
    # portable_hash; a per-process hash would split a key across
    # reducers, and the collected dict would keep one partial list.
    # Workers forked from one daemon share hash(None), so the check on
    # the reduce partition is what tells portable_hash from hash here.
    from pyspark.rdd import portable_hash

    keys = [None, (None, 1), ("a", None)]

    def mfn(k, v):
        for key in keys:
            yield key, k

    def rfn(k, vs):
        from pyspark import TaskContext

        return sorted(vs), TaskContext.get().partitionId()

    out = mapreduce(spark, {i: i for i in range(16)}, mfn, rfn, num_partitions=4)
    # portable_hash needs the workers' PYTHONHASHSEED, so it runs there.
    parts = spark.sparkContext.parallelize(keys, 1).map(lambda k: portable_hash(k) % 4)
    assert out == {key: (list(range(16)), p) for key, p in zip(keys, parts.collect())}


def test_non_dict_datasource(spark):
    # Any dict-like: iter() -> keys, [k] -> value (reference mincemeat.py:306,314).
    class Source:
        def __iter__(self):
            return iter(CORPUS)

        def __getitem__(self, k):
            return CORPUS[k]

    assert mapreduce(spark, Source(), mapfn, reducefn) == EXPECTED


def test_server_class_drop_in(spark):
    # The reference's example.py, verbatim against the compat Server
    # (reference example.py:4-25, smoke.sh golden dict).
    from mincemeatpy_spark import compat

    data = [
        "Humpty Dumpty sat on a wall",
        "Humpty Dumpty had a great fall",
        "All the King's horses and all the King's men",
        "Couldn't put Humpty together again",
    ]
    datasource = dict(enumerate(data))

    def mapfn(k, v):
        for w in v.split():
            yield w, 1

    def reducefn(k, vs):
        return sum(vs)

    s = compat.Server(spark)
    s.datasource = datasource
    s.mapfn = mapfn
    s.reducefn = reducefn
    results = s.run_server(password="changeme")
    assert results["Humpty"] == 3
    assert results["the"] == 2
    assert sum(results.values()) == sum(len(line.split()) for line in data)


def test_client_conn_no_server_returns_immediately(spark):
    # With no in-process server running there is nothing for a worker
    # to do — the reference worker would fail to connect and exit; here
    # conn() returns at once instead of hanging, and the no-op is
    # VISIBLE: a RuntimeWarning plus a False return (ADVICE r5).
    import warnings

    from mincemeatpy_spark import compat

    c = compat.Client()
    c.password = "changeme"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert c.conn("localhost") is False  # must not raise or block
    assert any(issubclass(w.category, RuntimeWarning) for w in caught)


def test_client_conn_lifecycle_deterministic():
    # Rendezvous semantics pinned without racing a real Spark job: a
    # registered run blocks the client; completion (deregister-then-set)
    # releases it, and the released client can never observe the run
    # still listed as live.
    import threading
    import time

    from mincemeatpy_spark import compat

    run = compat._ServerRun("s3cret")
    compat._SERVER_RUNS[11235] = run
    observed = {}

    def worker():
        c = compat.Client()
        c.password = "s3cret"
        c.conn("localhost", 11235)
        observed["live_after_return"] = compat._SERVER_RUNS.get(11235) is run

    th = threading.Thread(target=worker)
    try:
        th.start()
        time.sleep(0.2)
        assert th.is_alive(), "client returned while the server run was live"
        # complete the run exactly as run_server's finally does
        if compat._SERVER_RUNS.get(11235) is run:
            del compat._SERVER_RUNS[11235]
        run.done.set()
        th.join(timeout=10)
        assert not th.is_alive(), "client thread never returned"
        assert observed["live_after_return"] is False
    finally:
        compat._SERVER_RUNS.pop(11235, None)
        run.done.set()


def test_client_conn_joins_real_server_run(spark):
    # Integration: a client thread conn()ing while run_server executes a
    # real Spark job returns once the job completes, and the result is
    # unaffected.  (Lifecycle ordering is pinned deterministically above;
    # here we only require completion and correctness.)
    import threading

    from mincemeatpy_spark import compat

    s = compat.Server(spark)
    s.datasource = {0: "a b", 1: "b"}
    s.mapfn = mapfn
    s.reducefn = reducefn

    def worker():
        c = compat.Client()
        c.password = "s3cret"
        c.conn("localhost", 11235)

    th = threading.Thread(target=worker)
    th.start()
    result = s.run_server(password="s3cret")
    th.join(timeout=30)
    assert not th.is_alive(), "client thread never returned"
    assert result == {"a": 1, "b": 2}


def test_client_conn_wrong_password_refused():
    # The reference's failed HMAC handshake closes the channel; here a
    # mismatched password raises ConnectionRefusedError.  Pinned against
    # a registered run directly — racing a real job can complete before
    # the client connects, making the assertion vacuous.
    import pytest as _pytest

    from mincemeatpy_spark import compat

    run = compat._ServerRun("right")
    compat._SERVER_RUNS[11235] = run
    try:
        c = compat.Client()
        c.password = "wrong"
        with _pytest.raises(ConnectionRefusedError):
            c.conn("localhost")
    finally:
        compat._SERVER_RUNS.pop(11235, None)
        run.done.set()


def test_file_backed_lazy_datasource(spark, tmp_path):
    # The reference's published use-case (reference README.md:76): a
    # dict-like over file paths whose __getitem__ reads contents lazily,
    # streaming a corpus without materializing it up front.
    files = {}
    for i, line in enumerate(["spark spark flint", "flint spark"]):
        p = tmp_path / f"doc{i}.txt"
        p.write_text(line)
        files[str(p)] = p

    class FileCorpus:
        def __init__(self, paths):
            self.paths = list(paths)
            self.reads = 0

        def __iter__(self):
            return iter(self.paths)

        def __getitem__(self, path):
            self.reads += 1
            with open(path) as f:
                return f.read()

    src = FileCorpus(files)
    result = mapreduce(spark, src, mapfn, reducefn)
    assert result == {"spark": 3, "flint": 2}
    # Non-Mapping datasources run __getitem__ EXECUTOR-side (the object
    # ships by cloudpickle; only keys pass through the driver) — the
    # driver's copy must therefore never have been read from.
    assert src.reads == 0


def test_lazy_datasource_getitem_runs_on_executors(spark, tmp_path):
    # Hard proof of executor-side reads: __getitem__ refuses to run in
    # the driver process.  If mapreduce ever materializes the datasource
    # driver-side again, this raises.
    import os

    for i, line in enumerate(["a b", "b c", "c a"]):
        (tmp_path / f"doc{i}.txt").write_text(line)

    class DriverGuardedCorpus:
        def __init__(self, root, driver_pid):
            self.root = str(root)
            self.driver_pid = driver_pid

        def __iter__(self):
            return iter(sorted(os.listdir(self.root)))

        def __getitem__(self, name):
            assert os.getpid() != self.driver_pid, (
                "datasource value read in the DRIVER process — the lazy "
                "contract (reference mincemeat.py:313-316) is broken"
            )
            with open(os.path.join(self.root, name)) as f:
                return f.read()

    src = DriverGuardedCorpus(tmp_path, os.getpid())
    assert mapreduce(spark, src, mapfn, reducefn) == {"a": 2, "b": 2, "c": 2}


def test_pipeline_chains_jobs(spark):
    """Two chained jobs — word count, then histogram of the counts —
    reproduce the 'rerun the server with a new datasource' workflow the
    reference requires by hand (reference mincemeat.py:294-297)."""
    from mincemeatpy_spark.compat import pipeline

    corpus = {
        0: "a b a",
        1: "b c a",
        2: "c c c",
    }

    def count_words(k, v):
        for w in v.split():
            yield w, 1

    def total(k, vs):
        return sum(vs)

    def histogram(word, count):
        yield count, 1

    out = pipeline(
        spark,
        corpus,
        [(count_words, total), (histogram, total)],
    )
    # word counts: a=3, b=2, c=4 → histogram {3:1, 2:1, 4:1}
    assert out == {3: 1, 2: 1, 4: 1}


def test_top_level_drop_in_import(spark):
    # `import mincemeatpy_spark as mincemeat` must work where the
    # reference's `import mincemeat` did (reference example.py:1-25).
    import mincemeatpy_spark as mincemeat

    s = mincemeat.Server(spark)
    s.datasource = dict(enumerate(CORPUS.values()))
    s.mapfn = mapfn
    s.reducefn = reducefn
    assert s.run_server(password="changeme") == EXPECTED
    assert hasattr(mincemeat, "Client") and hasattr(mincemeat, "pipeline")


def test_empty_datasource_returns_empty_dict(spark):
    # Reference semantics: no tasks -> FINISHED immediately -> {} back.
    assert mapreduce(spark, {}, mapfn, reducefn) == {}


def test_arbitrary_picklable_keys_and_values(spark):
    # The reference's contract is 'any picklable object' for keys and
    # values (pickle at mincemeat.py:66,92) — tuples as keys, lists as
    # values must round-trip.
    ds = {("a", 1): [1, 2], ("b", 2): [3], ("a", 3): [4, 5, 6]}

    def mfn(k, v):
        yield k[0], len(v)

    def rfn(k, vs):
        return sorted(vs)

    assert mapreduce(spark, ds, mfn, rfn) == {"a": [2, 3], "b": [1]}


def test_unicode_round_trip(spark):
    ds = {0: "héllo wörld héllo", 1: "wörld"}
    out = mapreduce(spark, ds, mapfn, reducefn)
    assert out == {"héllo": 2, "wörld": 2}


def test_client_conn_two_concurrent_clients(spark):
    # VERDICT r5 task 7b: the rendezvous must serve MULTIPLE workers —
    # two client threads block on the same registered run; completion
    # releases both, a wrong-password third client is refused while the
    # others wait, and nobody observes the run still live after return.
    import threading

    from mincemeatpy_spark import compat

    run = compat._ServerRun("s3cret")
    compat._SERVER_RUNS[11236] = run
    results = {}

    def worker(tag):
        c = compat.Client()
        c.password = "s3cret"
        ok = c.conn("localhost", 11236)
        results[tag] = (ok, compat._SERVER_RUNS.get(11236) is run)

    t1 = threading.Thread(target=worker, args=("a",))
    t2 = threading.Thread(target=worker, args=("b",))
    try:
        t1.start()
        t2.start()
        import time as _time

        _time.sleep(0.2)
        assert t1.is_alive() and t2.is_alive(), "clients returned early"
        bad = compat.Client()
        bad.password = "wrong"
        import pytest as _pytest

        with _pytest.raises(ConnectionRefusedError):
            bad.conn("localhost", 11236)
        if compat._SERVER_RUNS.get(11236) is run:
            del compat._SERVER_RUNS[11236]
        run.done.set()
        t1.join(timeout=10)
        t2.join(timeout=10)
        assert not t1.is_alive() and not t2.is_alive()
        assert results["a"] == (True, False)
        assert results["b"] == (True, False)
    finally:
        compat._SERVER_RUNS.pop(11236, None)
        run.done.set()


def test_warm_worker_invalidation_reads_no_zip(spark):
    # Like the reference's long-lived Client.conn (mincemeat.py:130-150),
    # a warm worker should pay no per-task setup beyond the task's own
    # work.  Task setup calls importlib.invalidate_caches(); with the
    # session's worker daemon that re-reads no zip archive.
    sc = spark.sparkContext
    sc.parallelize(range(8), 4).count()

    def invalidate_and_count_reads(_):
        import importlib
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return [len(reads)]

    counts = sc.parallelize(range(4), 4).mapPartitions(invalidate_and_count_reads)
    assert counts.collect() == [0, 0, 0, 0]


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    # A zip shipped after the workers are warm is a new sys.path entry
    # with its own importer, so the next job can import from it.
    import uuid
    import zipfile

    sc = spark.sparkContext
    sc.parallelize(range(8), 4).count()
    name = f"mm_addpy_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def import_value(_):
        import importlib

        return [importlib.import_module(name).VALUE]

    assert sc.parallelize(range(4), 4).mapPartitions(import_value).collect() == [42] * 4


_WORKER_MEMORY = "spark.python.worker.memory"


@contextlib.contextmanager
def _worker_memory(sc, value: str):
    """Set ``spark.python.worker.memory`` for the block, then restore it.
    ``mapreduce`` reads it on the driver when it builds a job."""
    saved = sc._conf.get(_WORKER_MEMORY)
    sc._conf.set(_WORKER_MEMORY, value)
    try:
        yield
    finally:
        if saved is None:
            sc._conf._jconf.remove(_WORKER_MEMORY)
        else:
            sc._conf.set(_WORKER_MEMORY, saved)


def _stage_spills(sc, group: str) -> dict[str, int]:
    """``{"map": bytes, "reduce": bytes}`` of disk spill in the jobs of
    ``group``, read from the AppStatusStore.  The map stage is the one
    that writes shuffle output, the reduce stage the one that reads it."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    spills = {"map": 0, "reduce": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            attempts = store.stageData(
                sids.apply(i), False, jvm.java.util.ArrayList(), False,
                sc._gateway.new_array(jvm.double, 0),
            )
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.shuffleWriteBytes() > 0:
                    spills["map"] += sd.diskBytesSpilled()
                if sd.shuffleReadBytes() > 0:
                    spills["reduce"] += sd.diskBytesSpilled()
    return spills


def test_spill_fallback_keeps_results(spark):
    # Past spark.python.worker.memory both sides hand their dicts to
    # pyspark's spilling mergers; results must not change.  2m is below
    # any worker's RSS, so every partition of a few thousand words
    # spills on both sides of the shuffle.
    import random
    from collections import Counter

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(3000)]
    ds = {i: " ".join(rng.choice(vocab) for _ in range(20)) for i in range(600)}
    counts = dict(Counter(w for text in ds.values() for w in text.split()))
    index: dict = {}
    for k, text in ds.items():
        for w in set(text.split()):
            index.setdefault(w, []).append(k)

    def idx_map(k, v):
        for w in set(v.split()):
            yield w, k

    def idx_reduce(k, vs):
        return sorted(vs)

    jobs = {
        "wordcount": (mapfn, reducefn, None, counts),
        "wordcount_collect": (mapfn, reducefn, reducefn, counts),
        "inverted_index": (idx_map, idx_reduce, None, {w: sorted(ks) for w, ks in index.items()}),
    }
    sc = spark.sparkContext
    with _worker_memory(sc, "2m"):
        for name, (mfn, rfn, cfn, expected) in jobs.items():
            group = f"spill-{name}"
            sc.setJobGroup(group, name)
            try:
                out = mapreduce(spark, ds, mfn, rfn, collectfn=cfn)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert out == expected, name
            spills = _stage_spills(sc, group)
            assert spills["map"] > 0 and spills["reduce"] > 0, (name, spills)


def test_spill_fallback_takes_mixed_type_keys(spark):
    # Each of 16 partitions holds all 1200 str keys and None, so every
    # reduce partition takes 1200 lists for about 75 keys: a spill of
    # fewer than 1000 keys, which a key-sorting merger cannot order.
    n_part, n_keys = 16, 1200
    ds = {i: i for i in range(n_part * n_keys)}

    def mfn(k, v):
        yield f"w{v % n_keys}", 1
        yield None, 1

    with _worker_memory(spark.sparkContext, "2m"):
        out = mapreduce(spark, ds, mfn, reducefn, num_partitions=n_part)
    assert out == {None: len(ds), **{f"w{i}": n_part for i in range(n_keys)}}
