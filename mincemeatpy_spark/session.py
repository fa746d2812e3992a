"""SparkSession factory.

Local defaults target the test harness (local[N], one JVM); every setting
is also the right call on a real cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  the 100 TB answer to skewed keys and mis-estimated shuffle sizes.
- shuffle.partitions sized to cores locally; on a cluster you'd size to
  ~2-3x total executor cores (AQE coalesces the excess).
- Arrow on: every Pandas-UDF path ships columnar batches, not pickled rows.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mincemeatpy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Pre-seed the pbshim on the worker PYTHONPATH at session BUILD:
    # stream_ops.ensure_protobuf otherwise mutates sc.environment
    # mid-session when the first transformWithState query runs, which
    # invalidates the cached Python worker pool (keyed by env) — the
    # old ~65 workers are orphaned and every Python-UDF query after
    # the first streaming query pays a full worker respawn (~2 s,
    # measured r9).  With the path stable from the start,
    # ensure_protobuf's guard sees it present and never mutates.
    #
    # Python workers fork from pyworker/mincemeatpy_daemon.py:
    # pyspark.daemon plus the lazy zip-importer invalidation of CPython
    # 3.13's zipimport.  Each task's setup calls
    # importlib.invalidate_caches(); before 3.13 (3.12.1 included) every
    # zipimporter answers by re-reading its archive's directory at once.
    # A warm Spark 4.1 worker holds 16 of them over pyspark.zip, the
    # Spark jar and py4j: ~0.12 s of CPU per task on a 4-vCPU x86 host,
    # 3-4x the real work of a small mincemeat job.  Where zipimport is
    # already lazy the module only hands over to pyspark.daemon.  Only
    # sessions built here get it; sessions built elsewhere (the
    # external driver's, tools/driver_sim.py, tools/spill_probe.py,
    # tests that build their own) keep the stock daemon.
    here = os.path.dirname(os.path.abspath(__file__))
    shim = os.path.join(here, "pbshim")
    pyworker = os.path.join(here, "pyworker")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join([shim, pyworker, os.environ.get("PYTHONPATH", "")]),
    ).config("spark.python.daemon.module", "mincemeatpy_daemon")
    if os.environ.get("SPARK_GRAFT_CBO_STATS") == "1":
        # CBO flags must be on BEFORE planning; the stats themselves
        # come from tables.bootstrap_cbo_statistics (same flag).
        builder = builder.config("spark.sql.cbo.enabled", "true").config(
            "spark.sql.cbo.joinReorder.enabled", "true"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
