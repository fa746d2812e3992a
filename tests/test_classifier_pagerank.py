"""White-box pins for host-level crawl-graph PageRank and the learned
quality classifier.  Value-exactness vs DuckDB is the oracle pair's
job; these pin the STRUCTURAL claims the docstrings make — the
dangling-mass correction actually fires, the model actually separates
the classes, the decision path is float-free."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_host_graph_has_dangling_frontier(spark, sf_dir):
    """site5/site6 receive links but host no crawled pages — the
    dangling set is non-empty, so the mass correction is exercised on
    real structure, not vacuously."""
    from mincemeatpy_spark.text.html_extract import _host_edges

    edges = _host_edges(spark, sf_dir)
    srcs = {r.src for r in edges.select("src").distinct().collect()}
    dsts = {r.dst for r in edges.select("dst").distinct().collect()}
    dangling = dsts - srcs
    assert dangling, "no dangling hosts — the correction is untested"
    assert srcs <= {f"site{i}.example" for i in range(5)}
    assert dangling <= {"site5.example", "site6.example"}


def test_host_pagerank_mass_conserved(spark, sf_dir):
    """With the dangling correction, total rank mass stays within
    floor-division slack of the scale constant: each of the N node
    updates can lose < 1 unit per floor division (teleport, share,
    damping), so the deficit is bounded by a few units per node —
    without the correction the dangling hosts' mass (2/7 of the graph)
    would simply vanish."""
    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.text.html_extract import _PR_SCALE

    df = load_all_queries()["web_host_pagerank"].fn(spark, sf_dir)
    rows = df.collect()
    n = len(rows)
    total = sum(r.rank_scaled for r in rows)
    assert n == 7
    # dangling hosts (no outlinks) must still hold above-teleport rank
    by_host = {r.host: r.rank_scaled for r in rows}
    tele = 15 * (_PR_SCALE // n) // 100
    assert by_host["site5.example"] > tele
    assert by_host["site6.example"] > tele
    # mass conservation within floor-division slack (a few units/node
    # per iteration; 3 iterations).  Losing the dangling mass instead
    # would cost ~2/7 * _PR_SCALE — orders of magnitude beyond this.
    assert 0 <= _PR_SCALE - total <= 10 * n * 3


def test_classifier_separates_labels(spark, sf_dir):
    """Non-vacuousness: the trained model must actually separate the
    training classes — mean score of en docs strictly above non-en."""
    from mincemeatpy_spark.registry import load_all_queries

    df = load_all_queries()["text_quality_classifier"].fn(spark, sf_dir)
    means = {
        r.is_en: r.m
        for r in df.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("score_scaled").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_classifier_decision_is_float_free(spark, sf_dir):
    """predicted_en must equal score_scaled >= 0 on every row (the
    integer decision path), and prob must sit on the same side of 0.5
    (sigmoid monotonicity carries the decision to the float score)."""
    from mincemeatpy_spark.registry import load_all_queries

    df = load_all_queries()["text_quality_classifier"].fn(spark, sf_dir)
    bad = df.filter(
        (F.col("predicted_en") != (F.col("score_scaled") >= 0))
        | (F.col("predicted_en") & (F.col("prob") < 0.5))
        | (~F.col("predicted_en") & (F.col("prob") > 0.5))
    ).count()
    assert bad == 0


def test_classifier_weights_are_bounded_model_artifact(spark, sf_dir):
    """The weight vector is dense (_N_BUCKETS entries), centered
    integers in [-W/2, W/2], with real signal (nonzero entries), and
    cached per fixture (the model-artifact contract: train once)."""
    from mincemeatpy_spark.text.classifier import (
        _N_BUCKETS,
        _W_SCALE,
        _clf_weights,
    )

    w1 = _clf_weights(spark, sf_dir)
    assert len(w1) == _N_BUCKETS
    assert all(-_W_SCALE <= x <= _W_SCALE for x in w1)
    assert any(x != 0 for x in w1)
    assert _clf_weights(spark, sf_dir) is w1  # cached, not retrained


def test_classified_composite_gates_compose(spark, sf_dir):
    """Every survivor of the classified composite passed BOTH gates
    (quality floor and a non-negative classifier score), and its
    output is a subset of the rule-gated composite's doc_ids minus the
    model-rejected ones."""
    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.text.html_extract import _Q_GATE

    qs = load_all_queries()
    cls = qs["pipeline_web_corpus_classified"].fn(spark, sf_dir)
    rows = cls.collect()
    assert rows, "classified composite produced no survivors"
    assert all(r.quality >= _Q_GATE for r in rows)
    assert all(r.clf_score_scaled >= 0 for r in rows)
