"""Reliable-checkpoint knob for iterative queries.

The iterative queries truncate lineage each round.  By default they
``localCheckpoint`` (blocks on executors — cheap, but a lost executor
makes the job unrecoverable, the SPOF class SURVEY §2a O11 flags in the
reference).  With a checkpoint directory configured — either
``SparkContext.setCheckpointDir`` or ``$SPARK_GRAFT_CHECKPOINT_DIR`` —
``mincemeatpy_spark.lineage`` switches every truncation point to a
RELIABLE ``DataFrame.checkpoint`` written to that fault-tolerant
directory, which survives executor loss (on a cluster the dir is HDFS/
object storage; blocks are re-read, not recomputed through lost
lineage).

The probe runs in a subprocess (its own session: setCheckpointDir has
no unset, so the shared test session must not be polluted) and proves:
(a) the reliable path actually executed — RDD checkpoint files appear
under the configured dir — and (b) the iterative result is byte-equal
to the DuckDB oracle, i.e. the knob changes durability, not results.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import os, sys, tempfile
    sys.path.insert(0, {repo!r})
    import duckdb
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    ckdir = tempfile.mkdtemp(prefix="reliable-ck-")
    spark.sparkContext.setCheckpointDir(ckdir)

    from mincemeatpy_spark.registry import load_all_queries
    from tests.oracle_utils import compare_to_oracle

    SF = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(
            f"CREATE VIEW {{t}} AS SELECT * FROM '{{SF}}/{{t}}.parquet'"
        )

    q = load_all_queries()["graph_pagerank_2iter"]
    df = q.fn(spark, SF)
    compare_to_oracle(df, con, q.oracle)

    # the reliable path really ran: RDD checkpoint data exists on disk
    ck_files = []
    for root, _dirs, files in os.walk(ckdir):
        ck_files.extend(os.path.join(root, f) for f in files)
    assert ck_files, f"no checkpoint files written under {{ckdir}}"
    print("RELIABLE_CK_OK", len(ck_files))
    """
)


def test_iterative_query_with_reliable_checkpoint_matches_oracle():
    probe = _PROBE.format(repo=_REPO)
    r = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        cwd=_REPO,
        timeout=600,
    )
    assert "RELIABLE_CK_OK" in r.stdout, (
        f"stdout={r.stdout[-2000:]}\nstderr={r.stderr[-2000:]}"
    )
