"""Shared fixtures: one SparkSession, one DuckDB oracle and one registry
pass per session.

Mirrors the driver's correctness gate (sf0.01 + DuckDB side-by-side);
tests default to sf0.001 for speed — override with TEST_SF_DIR.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

# Protobuf shim (mincemeatpy_spark/pbshim): when no pip-installed
# google.protobuf exists, expose the container's public pure-Python
# runtime so the transformWithStateInPandas e2e test runs instead of
# skipping.  Must happen BEFORE the SparkSession is created: Python
# workers inherit PYTHONPATH through the JVM, and the state-server
# client imports the generated protobuf module worker-side.
_PBSHIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mincemeatpy_spark",
    "pbshim",
)
try:
    import google.protobuf  # noqa: F401
except ImportError:
    if os.path.isdir(
        "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
    ) and os.path.isdir(_PBSHIM):
        sys.path.insert(0, _PBSHIM)
        os.environ["PYTHONPATH"] = (
            _PBSHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
        )

import duckdb
import pytest

from mincemeatpy_spark.registry import load_all_queries
from mincemeatpy_spark.session import get_spark
from mincemeatpy_spark.tables import TABLES, t

QUERIES = load_all_queries()

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# Multi-minute suites are marked @pytest.mark.slow and SKIPPED by
# default, so the default lane fits the Tier-1 verify window; they run
# with --runslow or SPARK_GRAFT_FULL_TESTS=1.  The registry-wide checks
# (oracle, type audit, plan sweeps, rule 13, plan budgets) are not slow:
# they share the one registry pass below and run in the default lane.


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (full ~30 min suite)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute suite, skipped by default; enable with "
        "--runslow or SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if (
        config.getoption("--runslow")
        or os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"
    ):
        return
    skip_slow = pytest.mark.skip(
        reason="slow lane: --runslow or SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    # TEST_SHUFFLE_PARTITIONS: run the whole suite under a different
    # partition layout (results must be invariant — the determinism
    # suite covers the riskiest queries every run; this knob lets CI
    # sweep all of them).
    parts = int(os.environ.get("TEST_SHUFFLE_PARTITIONS", "4"))
    spark = get_spark("mincemeatpy-tests", cores=4, shuffle_partitions=parts)
    # The SQL status store then keeps each execution's plan in the
    # executedPlan().toString() format that plan_facts parses.
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@dataclass
class RegistryRun:
    """One registered query's only build in the session: ``fn()``, its
    plans, and the collect of its result."""

    name: str
    error: Exception | None = None  # a failed build, plan or collect
    plan: str = ""  # executedPlan().toString(), taken before execution
    analyzed: object = None  # JVM analyzed plan (rule 13 walks its hints)
    schema: object = None
    rows: list = field(default_factory=list)
    build_jobs: int = 0  # Spark jobs fn() ran
    # Plan text of every SQL execution fn() started, then of those the
    # collect started (the last one produced ``rows``).
    build_plans: list = field(default_factory=list)
    collect_plans: list = field(default_factory=list)

    @property
    def dtypes(self) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in self.schema.fields]

    def checked(self) -> "RegistryRun":
        if self.error is not None:
            raise self.error
        return self


def _newest_execution(spark) -> int:
    """Id of the newest SQL execution, once every posted event has
    reached the status store (ids are consecutive across the session)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _execution_plans(spark, first: int, last: int) -> list[str]:
    store = spark._jsparkSession.sharedState().statusStore()
    found = (store.execution(i) for i in range(first, last + 1))
    return [e.get().physicalPlanDescription() for e in found if e.isDefined()]


def _registry_run(spark, sf_dir: str, query) -> RegistryRun:
    run = RegistryRun(query.name)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.numTotalJobs()
    start = built = _newest_execution(spark)
    try:
        df = query.fn(spark, sf_dir)
        built = _newest_execution(spark)
        run.build_jobs = scheduler.numTotalJobs() - jobs
        qe = df._jdf.queryExecution()
        run.analyzed, run.plan = qe.analyzed(), qe.executedPlan().toString()
        run.schema, run.rows = df.schema, [tuple(r) for r in df.collect()]
    except Exception as ex:  # noqa: BLE001 — the query's oracle test re-raises it
        run.error = ex
    run.build_plans = _execution_plans(spark, start + 1, built)
    run.collect_plans = _execution_plans(spark, built + 1, _newest_execution(spark))
    return run


@pytest.fixture(scope="session")
def registry_run(spark, sf_dir):
    """``registry_run(name)`` -> that query's ``RegistryRun``.  Each
    query is built, planned and collected once per session, however many
    tests read it; tests that build under changed conf or data keep
    their own builds."""
    # A table's first read infers its schema with a Spark job; do it
    # here, not inside whichever query's build comes first.
    for name in TABLES:
        t(spark, sf_dir, name)
    runs: dict[str, RegistryRun] = {}

    def run(name: str) -> RegistryRun:
        if name not in runs:
            runs[name] = _registry_run(spark, sf_dir, QUERIES[name])
        return runs[name]

    return run


@pytest.fixture(scope="session")
def registry_pass(registry_run):
    """Every registered query's run, in name order (the oracle test's)."""
    return {name: registry_run(name) for name in sorted(QUERIES)}
