"""Package code ships to Python workers BY VALUE (SCALE.md rule 14).

``mincemeatpy_spark/__init__.py`` registers the package with
cloudpickle's pickle-by-value, so a stage closure carries every package
helper it reaches and executors never import ``mincemeatpy_spark``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark import cloudpickle

from mincemeatpy_spark.multimodal import binary_ops, vorbis

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_decoder_memos_do_not_ship_driver_state():
    # a driver-side decode fills the module-level memo; the pickled
    # decoder must stay the size it was with the memo empty
    binary_ops._JPEG_LUT_CACHE.clear()
    jpeg_size = len(cloudpickle.dumps(binary_ops.decode_jpeg_real))
    rgb = binary_ops._jpeg_src_rgb(5, 40)
    binary_ops.decode_jpeg_real(binary_ops.encode_jpeg_baseline(rgb))
    assert binary_ops._JPEG_LUT_CACHE
    assert len(cloudpickle.dumps(binary_ops.decode_jpeg_real)) == jpeg_size

    vorbis._VORBIS_MDCT_CACHE.clear()
    vorbis_size = len(cloudpickle.dumps(vorbis.decode_vorbis_real))
    chans, rate = vorbis._vorbis_test_signal(5, 40)
    vorbis.decode_vorbis_real(vorbis.encode_vorbis_subset(rate, chans))
    assert vorbis._VORBIS_MDCT_CACHE
    assert len(cloudpickle.dumps(vorbis.decode_vorbis_real)) == vorbis_size


_DRIVER = """
import sys

repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)  # as __spark_entry__.py does: driver side only

import duckdb
from pyspark.sql import SparkSession

from mincemeatpy_spark.registry import load_all_queries
from mincemeatpy_spark.tables import TABLES
from tests.oracle_utils import compare_to_oracle

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
try:
    def probe(_):
        import importlib.util
        yield importlib.util.find_spec("mincemeatpy_spark") is None

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe
    ).collect() == [True], "workers can import the package"

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    queries = load_all_queries()
    for name in sys.argv[3:]:
        compare_to_oracle(queries[name].fn(spark, sf), con, queries[name].oracle)
        print("ok", name, flush=True)
finally:
    spark.stop()
"""


def test_codec_queries_run_where_workers_cannot_import_the_package(
    tmp_path, sf_dir
):
    names = [
        "multimodal_decode_jpeg_real",
        "multimodal_decode_vorbis_real",
        "multimodal_decode_vp8_real",
        "pipeline_audio_corpus",
        "bpe_encode_corpus",
    ]
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.commonpath([REPO, os.path.abspath(p)]) != REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_DRIVER), REPO, sf_dir, *names],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-4000:]
    assert proc.stdout.split() == [w for n in names for w in ("ok", n)]
