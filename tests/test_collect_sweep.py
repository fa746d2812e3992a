"""Repo-wide bounded-collect sweep (VERDICT r5 task 2).

Every ``.collect()`` / ``.toPandas()`` / ``.collectAsMap()`` /
``.toLocalIterator()`` in non-test package source pulls distributed data
onto the driver; at 100 TB an UNBOUNDED one is an OOM.  This sweep
AST-scans the whole package and asserts each driver-collect site sits in
a function on an explicit allowlist, tagged with the bound that makes it
safe:

- ``pure-predicate cap`` — the collected side is filtered by a
  scan-pushed predicate whose row bound is independent of corpus size
  (the `_EVAL_MOD`/`_EVAL_CAP` and `_PQ_QMOD`/`_PQ_QCAP` pattern).
- ``fixture write`` — stages a bounded-by-construction test fixture
  (e.g. ``doc_id < 500``) to local disk before the real scan.
- ``per-partition scalar`` — collects O(#partitions) aggregates, not
  rows.
- ``limit`` — an explicit ``.limit(k)`` precedes the collect.
- ``compat contract`` — the reference API (mincemeat.py) *defines* the
  result as a driver-resident dict; the compat surface must honor it.

The allowlist records the EXPECTED SITE COUNT per function, so adding a
second collect to an allowed function fails too — new collects can only
land by editing this file and naming their bound.  Mirrors the rule-13
broadcast-hint sweep in tests/test_plans.py.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

_METHODS = {"collect", "toPandas", "collectAsMap", "toLocalIterator"}

_PKG = pathlib.Path(__file__).resolve().parent.parent / "mincemeatpy_spark"

# function -> (expected number of collect sites, the bound that makes them safe)
_ALLOWLIST = {
    "text/analysis.py::_bpe_merge_table": (
        1,
        "model artifact, not data: the trained merge list (3 rows "
        "here, ~30k for a production tokenizer) collected once per "
        "fixture and broadcast to every encode task — the documented "
        "loop-control/model-artifact collect class",
    ),
    "text/classifier.py::_clf_weights": (
        1,
        "model artifact, not data: the trained per-bucket weight "
        "vector (<= _N_BUCKETS rows at any corpus size) collected "
        "once per fixture and broadcast to every inference task — "
        "the _bpe_merge_table pattern",
    ),
    "compat.py::mapreduce": (
        1,
        "compat contract — the reference returns a driver dict "
        "(mincemeat.py:344-347); scale path is the DataFrame API",
    ),
    "compat.py::compat_mapreduce_wordcount": (
        1,
        "compat contract — the reference master holds the whole "
        "datasource dict in RAM (mincemeat.py:337-341); this query "
        "exists to prove wire-level parity, scale path is `wordcount`",
    ),
    "operators/joins.py::join_runtime_bloom_filter": (
        1,
        "bounded result collect — at most 5 order-priority groups; "
        "materialized in-function so the bloom-rewritten plan is the "
        "one that executes (plans resolve at action time)",
    ),
    "operators/misc.py::rdd_mappartitions_agg": (
        1,
        "per-partition scalar — one (n, sum) tuple per partition",
    ),
    "similarity/ann.py::ann_index_persist": (
        1,
        "limit — .limit(_IVF_NPROBE) precedes the collect",
    ),
    "similarity/ann.py::similarity_ann_pq": (
        2,
        "pure-predicate cap — codebook vec_id < 16; queries "
        "_PQ_QMOD/_PQ_QCAP (<= 1000 rows at any corpus size)",
    ),
    "similarity/ann.py::similarity_pq_recall": (
        1,
        "pure-predicate cap — queries _PQ_QMOD/_PQ_QCAP",
    ),
    "similarity/ann.py::_sq8_stats": (
        1,
        "aggregate bound — posexplode groupBy(pos) yields exactly "
        "_DIM (64) rows at any corpus size (the SQ8 codebook artifact)",
    ),
    "similarity/ann.py::similarity_ann_sq8": (
        1,
        "pure-predicate cap — queries _PQ_QMOD/_SQ8_QCAP (<= 128 rows "
        "at any corpus size)",
    ),
    "similarity/ann.py::similarity_sq8_recall": (
        1,
        "pure-predicate cap — queries _PQ_QMOD/_SQ8_QCAP",
    ),
    "similarity/ann.py::similarity_ann_ivfpq": (
        2,
        "pure-predicate cap — coarse centroids vec_id < K; queries "
        "_PQ_QMOD/_PQ_QCAP",
    ),
    "similarity/ann.py::similarity_ivfpq_recall": (
        1,
        "pure-predicate cap — queries _PQ_QMOD/_PQ_QCAP",
    ),
    "similarity/ann.py::embedding_knn_label_eval": (
        1,
        "pure-predicate cap — _EVAL_MOD/_EVAL_CAP (<= 50k rows)",
    ),
    "similarity/ann.py::embedding_label_separation": (
        1,
        "pure-predicate cap — _EVAL_MOD/_EVAL_CAP (<= 50k rows)",
    ),
    "streaming/stream_ops.py::events_stream_timesplit": (
        1,
        "fixture write — one (min, max) scalar row bounds the time-split "
        "point; runs once per staged fixture",
    ),
    "sources/python_datasource.py::_stage_warc": (
        1,
        "fixture write — doc_id < 500 by construction",
    ),
    "text/html_extract.py::_stage_web_warc": (
        1,
        "fixture write — doc_id < 400 by construction (scan-pushed "
        "filter); stages the synthesized-HTML WARC for "
        "pipeline_web_corpus once per fixture",
    ),
    "sources/readers.py::source_binaryfile": (
        1,
        "fixture write — 5-row region table by construction",
    ),
    "sources/readers.py::source_json_multiline": (
        1,
        "fixture write — 5-row region table by construction",
    ),
    "text/dedup.py::dedup_embedding_cosine": (
        1,
        "pure-predicate cap — vec_id < _COS_BCAP (<= 100k rows)",
    ),
    "text/dedup.py::text_suffix_array": (
        1,
        "fixture write — doc_id < 30 slice by construction",
    ),
}


def _scan_package():
    """All driver-collect call sites as {file::qualname: [line, ...]}."""
    sites: dict[str, list[int]] = {}
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text())

        def walk(node, stack):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [node.name]
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _METHODS
            ):
                key = f"{rel}::{'.'.join(stack) or '<module>'}"
                sites.setdefault(key, []).append(node.lineno)
            for child in ast.iter_child_nodes(node):
                walk(child, stack)

        walk(tree, [])
    return sites


def test_every_driver_collect_is_allowlisted():
    """An unlisted collect — or a NEW collect inside an allowed
    function — fails with the offending function name.  Listing a
    function here requires naming its bound above."""
    sites = _scan_package()
    unknown = {
        k: v for k, v in sites.items() if k not in _ALLOWLIST
    }
    assert not unknown, (
        "driver-collect sites not on the bounded-collect allowlist "
        f"(add with an explicit bound tag): {unknown}"
    )
    grown = {
        k: (len(v), _ALLOWLIST[k][0])
        for k, v in sites.items()
        if len(v) != _ALLOWLIST[k][0]
    }
    assert not grown, (
        "allowed functions whose collect-site count changed "
        f"(actual, expected): {grown}"
    )


def test_allowlist_has_no_stale_entries():
    """A removed collect must also leave the allowlist — stale entries
    would let a future collect land silently under an old tag."""
    sites = _scan_package()
    stale = sorted(set(_ALLOWLIST) - set(sites))
    assert not stale, f"allowlist entries with no matching site: {stale}"


@pytest.mark.parametrize("key", sorted(_ALLOWLIST))
def test_allowlist_bounds_are_documented(key):
    count, bound = _ALLOWLIST[key]
    assert count >= 1 and isinstance(bound, str) and len(bound) > 10


@pytest.mark.parametrize(
    "sample, cap, names",
    [
        pytest.param(
            "_pq_queries",
            "_PQ_QCAP",
            (
                "similarity_ann_pq",
                "similarity_pq_recall",
                "similarity_ann_ivfpq",
                "similarity_ivfpq_recall",
            ),
            id="pq",
        ),
        pytest.param(
            "_sq8_queries",
            "_SQ8_QCAP",
            ("similarity_ann_sq8", "similarity_sq8_recall"),
            id="sq8",
        ),
    ],
)
def test_query_sample_is_hard_capped(spark, sample, cap, names):
    """Each ANN family's query predicate must bound the collected side
    at ANY corpus size — prove it on a synthetic table 10x past the
    cap, and pin the oracles to the identical predicate so the two
    sides can only move in lockstep."""
    import mincemeatpy_spark.similarity.ann as ann
    from mincemeatpy_spark.registry import load_all_queries

    qcap = getattr(ann, cap)
    big = spark.range(0, ann._PQ_QMOD * qcap * 10).selectExpr("id AS vec_id")
    assert getattr(ann, sample)(big).count() == qcap

    qs = load_all_queries()
    predicate = f"vec_id % {ann._PQ_QMOD} = 0 AND vec_id < {ann._PQ_QMOD * qcap}"
    for name in names:
        assert predicate in " ".join(qs[name].oracle.split()), (
            f"{name}: oracle no longer applies the _PQ_QMOD/{cap} cap"
        )


def test_cosine_ground_truth_is_hard_capped():
    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.text.dedup import _COS_BCAP

    q = load_all_queries()["dedup_embedding_cosine"]
    assert f"b.vec_id < {_COS_BCAP}" in " ".join(q.oracle.split())
