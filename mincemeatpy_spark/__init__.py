"""mincemeatpy_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of michaelfairley/mincemeatpy.

The reference (``/root/reference/mincemeat.py``) is a 381-line MapReduce
framework: dict-like datasource -> user ``mapfn`` (flatMap) -> optional
``collectfn`` (map-side combine) -> shuffle/group-by-key -> per-key
``reducefn`` -> driver dict.  This package re-expresses that dataflow — and
every standard operator category expressible in it (SURVEY.md §2b) — as
idiomatic Spark DataFrame / SQL plans, plus the LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) that the
reference's word-frequency workload (reference README.md:76) grows into at
100 TB scale.

Layout:

- ``compat``      — the mincemeat-compatible ``mapreduce()`` API (RDD path)
- ``session``     — SparkSession factory tuned for local + cluster use
- ``tables``      — parquet catalog for the test star schema
- ``registry``    — named query registry; each query pairs a DataFrame
                    builder with a DuckDB oracle SQL string
- ``operators/``  — relational operators (scan/filter/agg/join/window/...)
- ``functions/``  — scalar/JSON/array/vector function surfaces
- ``text/``       — text analysis + deduplication operators
- ``similarity/`` — embedding similarity search (exact + LSH)
- ``multimodal/`` — binary media columns and dependency-free codecs
                    (image/audio/video encode -> decode round trips)
- ``streaming/``  — Structured Streaming operators + batch equivalents
"""

import sys

from pyspark import cloudpickle

# Ship package code BY VALUE: a function entering a Python worker stage
# carries every package helper it reaches, so executors need not have
# ``mincemeatpy_spark`` on sys.path (SCALE.md rule 14).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from mincemeatpy_spark.registry import QUERIES, Query, load_all_queries  # noqa: E402
from mincemeatpy_spark.session import get_spark  # noqa: E402
from mincemeatpy_spark.compat import Client, Server, mapreduce, pipeline  # noqa: E402

# Server/Client at the top level make `import mincemeatpy_spark as
# mincemeat` a drop-in for the reference's `import mincemeat` scripts
# (reference example.py:1,20; README.md:28-41).
__all__ = [
    "QUERIES",
    "Query",
    "load_all_queries",
    "get_spark",
    "mapreduce",
    "pipeline",
    "Server",
    "Client",
]
__version__ = "0.1.0"
