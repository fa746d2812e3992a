"""Physical-plan assertions: the optimizations the engine's docstrings
promise must actually appear in the plans (pushdown, pruning, broadcast,
partial aggregation, top-k without global sort).
"""

from __future__ import annotations

from mincemeatpy_spark.registry import load_all_queries

QUERIES = load_all_queries()


def _plan(name, spark, sf_dir) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet(spark, sf_dir):
    plan = _plan("projection_filter", spark, sf_dir)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual(l_quantity" in plan


def test_column_pruning(spark, sf_dir):
    plan = _plan("projection_filter", spark, sf_dir)
    # ReadSchema must contain only the needed columns, not all 11.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan("join_broadcast_dims", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_plan(spark, sf_dir):
    plan = _plan("join_semi", spark, sf_dir)
    assert "LeftSemi" in plan


def test_agg_is_two_phase(spark, sf_dir):
    # Catalyst's partial+final HashAggregate = the reference's
    # collectfn+reducefn split (mincemeat.py:174-182), planned automatically.
    plan = _plan("tpch_q1_pricing_summary", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan("topk_global", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning(spark, sf_dir):
    # sink_partitioned_parquet reads back with a partition filter; the
    # scan must prune directories (PartitionFilters), not data-filter.
    df = QUERIES["sink_partitioned_parquet"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_wordcount_codegen(spark, sf_dir):
    # The flagship's hot path must be inside whole-stage codegen; AQE only
    # shows the final (codegen-annotated) plan after execution.
    import re

    df = QUERIES["wordcount"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd operators; the partial
    # aggregate and the generate/filter must carry them.  r13: the stage
    # index is incidental (the scale-adaptive fan_out repartition shifts
    # numbering at fixture scale); codegen membership is the invariant.
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(\d+\) (Generate|Filter)", plan)


def test_q4_exists_is_semi_join(spark, sf_dir):
    # The EXISTS subquery must plan as one semi join (no aggregate-then-
    # join-back, no BNLJ despite the non-equi conjunct on shipdate).
    plan = _plan("tpch_q4_priority_check", spark, sf_dir)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_dims_broadcast(spark, sf_dir):
    # nation and region are hinted broadcast; the fact-side joins may
    # shuffle but the dimension chain must not.
    plan = _plan("tpch_q5_local_supplier", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2


def test_q10_topk_no_global_sort(spark, sf_dir):
    plan = _plan("tpch_q10_returned_items", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    # the returnflag filter must reach the lineitem parquet scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q17_decorrelated_to_broadcast(spark, sf_dir):
    # The correlated per-part average must run as broadcast joins over the
    # (tiny) aggregate, not re-shuffle the fact twice.
    plan = _plan("tpch_q17_small_qty_revenue", spark, sf_dir)
    assert "BroadcastHashJoin" in plan


def test_q18_having_is_semi_join(spark, sf_dir):
    plan = _plan("tpch_q18_large_volume", spark, sf_dir)
    assert "LeftSemi" in plan


def test_q22_anti_join(spark, sf_dir):
    plan = _plan("tpch_q22_dormant_customers", spark, sf_dir)
    assert "LeftAnti" in plan


def test_q1_agg_stays_in_codegen(spark, sf_dir):
    # The fixed-point long accumulators must keep the whole aggregate
    # inside whole-stage codegen (the reason decsum is not a decimal sum).
    import re

    df = QUERIES["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r13: stage index is incidental (fan_out shifts numbering at
    # fixture scale); codegen membership is the invariant.
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_ivf_probe_join_broadcasts_queries(spark, sf_dir):
    # The IVF probe side (queries x nprobe) is tiny and must broadcast;
    # the corpus/posting-list side must never be broadcast or looped.
    plan = _plan("similarity_ann_ivf", spark, sf_dir)
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # Both sides bucketed+sorted by the join key: the sort-merge join must
    # read buckets directly — no ShuffleExchange, no Sort before the join.
    df = QUERIES["join_bucketed_colocated"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # The only exchange allowed is the post-join aggregation's (on
    # o_orderstatus); nothing may re-partition on the join keys.
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan


def test_plan_report_module(spark, sf_dir):
    # plans.inspect is the plan-IR window test_plans uses informally;
    # check its structured report on a known query.
    from mincemeatpy_spark.plans import plan_report

    rep = plan_report(QUERIES["tpch_q5_local_supplier"].fn(spark, sf_dir))
    assert all("PushedFilters" in s for s in rep["scans"])
    assert "BroadcastHashJoin" in rep["joins"]
    assert rep["n_exchanges"] <= 3  # fact shuffles only, never dims


def test_q2_window_not_over_fact(spark, sf_dir):
    # Q2's correlated-max decorrelation: part and the nation/region chain
    # broadcast; the only sort-merge-eligible work is the derived
    # part-supplier relation, and the final top-k is a TakeOrdered.
    plan = _plan("tpch_q2_min_cost_supplier", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q9_part_filter_pushed_and_broadcast(spark, sf_dir):
    # The selective p_name LIKE filter must reach the part scan, and the
    # filtered part side must broadcast into the fact.
    plan = _plan("tpch_q9_product_profit", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "StringContains(p_name,red)" in plan.replace(" ", "").replace("'", "")


def test_q11_single_fact_scan(spark, sf_dir):
    # The grand-total threshold must come from a reused per-part aggregate
    # (1-row broadcast), not a second scan+aggregate of the fact.
    plan = _plan("tpch_q11_important_stock", spark, sf_dir)
    assert plan.count("lineitem.parquet") <= 2  # value agg + threshold reuse
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q16_blacklist_is_anti_join(spark, sf_dir):
    plan = _plan("tpch_q16_supplier_counts", spark, sf_dir)
    assert "LeftAnti" in plan


def test_q20_nested_in_is_semi_join(spark, sf_dir):
    plan = _plan("tpch_q20_excess_shippers", spark, sf_dir)
    assert plan.count("LeftSemi") >= 2  # part filter AND qualifying suppliers


def test_decontaminate_bench_side_broadcasts(spark, sf_dir):
    # The eval-set shingle table must broadcast; the corpus side must be
    # probed map-side (LeftSemi BroadcastHashJoin), never shuffled whole.
    plan = _plan("dedup_decontaminate", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_dup_ngram_fraction_no_explode(spark, sf_dir):
    # The per-doc score is array expressions on the scan — no shingle
    # explode (Generate) and only the lang-keyed aggregate exchange.
    plan = _plan("text_dup_ngram_fraction", spark, sf_dir)
    assert "Generate" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_kmeans_centroids_broadcast(spark, sf_dir):
    # The k centroids join map-side; the vector table must not shuffle
    # before assignment (only the k-sized update agg exchanges).
    plan = _plan("kmeans_assign_update", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bitmap_distinct_is_two_level_agg(spark, sf_dir):
    # bucket-level bitmap OR then group-level sum: two aggregates, with
    # partial/final phases — fixed-size mergeable state, no id-set shuffle.
    plan = _plan("bitmap_distinct_users", spark, sf_dir)
    assert "bitmap_construct_agg" in plan
    # bitmap OR level plans as SortAggregate (binary buffer), count level
    # as HashAggregate — 2 partial/final pairs total.
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 4


def test_quantize_int8_single_scan(spark, sf_dir):
    # One embeddings scan; all per-vector work before the label exchange.
    plan = _plan("vector_quantize_int8", spark, sf_dir)
    assert plan.count("Scan parquet") == 1
    assert "Exchange" in plan


def test_fan_out_is_noop_on_wide_data(spark, sf_dir):
    # fan_out must only insert its shuffle on under-split inputs; data
    # already at >= cluster parallelism passes through untouched (the
    # 100 TB case — scans there are thousands of splits).
    from mincemeatpy_spark.tables import fan_out, t

    p = spark.sparkContext.defaultParallelism
    narrow = t(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() < p
    assert fan_out(spark, narrow).rdd.getNumPartitions() == p
    wide = narrow.repartition(p)
    assert fan_out(spark, wide) is wide


def test_asof_join_has_no_join_operator(spark, sf_dir):
    # The scale-path as-of join is union + window last(ignorenulls) —
    # ONE shuffle, zero join operators (the textbook per-key merge
    # would be a range self-join).
    plan = _plan("join_asof", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" in plan


def test_upsert_compaction_is_agg_not_sort(spark, sf_dir):
    # max_by latest-wins must plan as a two-phase hash aggregate — a
    # row_number window (sort + single-partition-per-key scan) would not
    # scale to a 100 TB change log.
    plan = _plan("upsert_latest_snapshot", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_zorder_key_computed_scan_side(spark, sf_dir):
    # The Morton interleave is pure bit arithmetic computed in the scan
    # stage: exactly one shuffle (the bucket aggregate), and the
    # interleave expression sits below it, next to the FileScan.
    plan = _plan("zorder_clustering", spark, sf_dir)
    assert plan.count("Exchange") == 1
    assert plan.index("shiftleft") > plan.index("Exchange")  # below the shuffle
    assert "EvalPython" not in plan


def test_reservoir_topk_is_two_phase(spark, sf_dir):
    # Spark's WindowGroupLimit rewrite must split the row_number<=k into
    # a map-side partial top-k before the shuffle and a final after —
    # the property that makes per-group sampling skew-proof at scale.
    plan = _plan("sample_reservoir_group", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_pagerank_degrees_broadcast(spark, sf_dir):
    # Degree table joins edges via broadcast — the Pregel-superstep
    # shape; only the dst aggregation shuffles edge contributions.
    plan = _plan("graph_pagerank_iter", spark, sf_dir)
    assert "BroadcastHashJoin" in plan


def test_pii_redact_single_scan_no_python(spark, sf_dir):
    # Regex scrub is JVM codegen: no BatchEvalPython / ArrowEvalPython
    # in the plan, single documents scan.
    plan = _plan("text_pii_redact", spark, sf_dir)
    assert "EvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_bpe_pairs_count_over_vocab_not_corpus(spark, sf_dir):
    # Pair counting must aggregate the word-frequency table, not re-scan
    # the corpus: two aggregate pairs (wordcount, pair count) and a
    # top-30 via TakeOrderedAndProject, never a global Sort.
    plan = _plan("bpe_pair_counts", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # two two-phase aggregates


def test_embedding_dim_stats_partial_agg(spark, sf_dir):
    # 64-group aggregate must be two-phase so the shuffle carries only
    # per-task partials, and the explode must stay in one scan stage.
    plan = _plan("embedding_dim_stats", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    assert plan.count("Scan parquet") == 1


def test_markov_single_user_shuffle(spark, sf_dir):
    # One exchange for the per-user lag window, one for the tiny
    # transition aggregate, one for the normalizing window — and the
    # events scan reads only the columns the sequence needs.
    plan = _plan("events_markov_transitions", spark, sf_dir)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_type" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_chi2_is_user_agg_then_scalar(spark, sf_dir):
    # The statistic must reduce to one shuffle on user_id plus a
    # single-row final aggregate — no join, no window.
    plan = _plan("events_chi2_ab", spark, sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pareto_orders_before_window_collapse(spark, sf_dir):
    # The global running-sum window must run over the per-customer
    # rollup, not raw orders: the plan aggregates before any Window.
    plan = _plan("pareto_customer_revenue", spark, sf_dir)
    assert "Window" in plan
    # executedPlan prints leaves last: the per-customer rollup (the last
    # HashAggregate) must sit upstream of (print after) every Window.
    assert plan.rfind("HashAggregate") > plan.rfind("Window")
    # and the single-partition ordered step sees per-customer rows only
    assert plan.index("Exchange SinglePartition") > plan.rfind("Window")


def test_skew_diag_two_phase_counts(spark, sf_dir):
    # Per-key counting must be partial+final so raw lineitem rows never
    # shuffle; only (key, partial count) pairs do.
    plan = _plan("skew_key_diagnostics", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") == 1  # only l_suppkey read


def test_attribution_single_scan_one_window(spark, sf_dir):
    # One events scan, one user_id shuffle for the last-non-null window,
    # channel rollup two-phase; no Python in the plan.
    plan = _plan("attribution_last_touch", spark, sf_dir)
    assert plan.count("FileScan") == 1
    assert plan.count("Window") == 1
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dq_audit_pruned_scans(spark, sf_dir):
    # Row-local checks fold into one conditional-agg scan per table; the
    # referential-integrity branch re-scans lineitem but reads ONLY the
    # join key, so the wide columns are read exactly once.
    plan = _plan("dq_audit", spark, sf_dir)
    schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    li_schemas = [s for s in schemas if "l_orderkey" in s or "l_quantity" in s]
    assert any(s.count(":") == 1 and "l_orderkey" in s for s in li_schemas)
    assert sum("l_quantity" in s for s in schemas) == 1


def test_fuzzy_match_aggregates_before_join(spark, sf_dir):
    # Distinct-values-first: both join inputs are HashAggregates and the
    # blocked equi-join broadcasts (vocabulary-sized), never a
    # nested-loop cross product.
    plan = _plan("fuzzy_match_levenshtein", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 4


def test_cogroup_filters_pushed_before_shuffle(spark, sf_dir):
    # Both cogroup inputs filter to the key residue BEFORE their
    # exchange (5% shuffled, not 100%), and scans are column-pruned.
    plan = _plan("cogroup_reconcile", spark, sf_dir)
    assert "FlatMapCoGroupsInPandas" in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "% 20) = 0" in seg
    read_schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert all(s.count(":") <= 2 for s in read_schemas)


def test_twap_single_exchange(spark, sf_dir):
    # The lead window and the per-user aggregate share one user_id
    # exchange; scan reads only the four needed columns.
    plan = _plan("events_twap", spark, sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "props" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_ann_recall_joins_topk_sides(spark, sf_dir):
    # Recall eval joins two per-query top-5 sets: both sides end in a
    # row_number filter (WindowGroupLimit / Window) and the final join
    # is on tiny inputs — no cartesian product.
    plan = _plan("similarity_ann_recall", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2


def test_q21_single_lineitem_scan(spark, sf_dir):
    # The decorrelated EXISTS/NOT EXISTS must not re-scan the fact
    # table: one lineitem scan, per-order counts as window aggregates
    # over the join's orderkey partitioning.
    plan = _plan("tpch_q21_waiting_suppliers", spark, sf_dir)
    li_scans = [s for s in plan.split("FileScan parquet ")[1:] if s.startswith("[l_")]
    assert len(li_scans) == 1
    assert "Window" in plan


def test_compaction_reduces_file_count(spark, sf_dir):
    import glob
    import os
    import tempfile

    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.sources.readers import _scratch

    load_all_queries()["sink_compaction"].fn(spark, sf_dir).collect()
    frag = glob.glob(os.path.join(_scratch(sf_dir, "docs_frag"), "*.parquet"))
    comp = glob.glob(os.path.join(_scratch(sf_dir, "docs_compact"), "*.parquet"))
    assert len(frag) == 64
    assert 1 <= len(comp) <= 4


def test_market_basket_cogrouped_expansion(spark, sf_dir):
    # Basket dedup aggregates before the self-join; the pair expansion
    # is an equi-join on the basket key (never a cartesian product) and
    # the support count is two-phase.
    plan = _plan("market_basket_pairs", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 4


def test_heavy_hitters_python_only_in_sketch(spark, sf_dir):
    # Python appears exactly once (the per-partition Misra-Gries pass);
    # the exact recount is JVM-side with the candidate set broadcast
    # as a semi-join.
    plan = _plan("word_heavy_hitters", spark, sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_cdc_merge_pruned_scans(spark, sf_dir):
    # The MERGE reads only (o_orderkey, o_totalprice) on both sides and
    # resolves through one full-outer join.
    plan = _plan("cdc_merge_apply", spark, sf_dir)
    assert "FullOuter" in plan
    for s in plan.split("ReadSchema:")[1:]:
        line = s.splitlines()[0]
        assert "o_comment" not in line and "o_orderdate" not in line


def test_inverted_index_two_phase(spark, sf_dir):
    plan = _plan("inverted_index_postings", spark, sf_dir)
    assert plan.count("HashAggregate") >= 3  # tf partial+final, postings
    assert "EvalPython" not in plan


def test_surprisal_broadcast_vocab(spark, sf_dir):
    # The vocabulary and the total ride broadcast joins; no Python.
    plan = _plan("text_surprisal_bits", spark, sf_dir)
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "EvalPython" not in plan


def test_ann_index_probe_prunes_partitions(spark, sf_dir):
    # The probe's read-back must prune to the nprobe list_id partitions
    # at planning time (PartitionFilters on the index scan).
    from mincemeatpy_spark.registry import load_all_queries

    df = load_all_queries()["ann_index_persist"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    seg = [s for s in plan.split("FileScan parquet ")[1:] if "ivf_index" in s]
    assert seg and "PartitionFilters: [" in seg[0]
    assert "list_id" in seg[0].split("PartitionFilters:")[1].split("]")[0]


def test_banded_range_join_is_equi(spark, sf_dir):
    # The banded encoding must plan as an equi-join on the bucket key —
    # no BroadcastNestedLoopJoin / CartesianProduct.
    plan = _plan("join_range_banded", spark, sf_dir)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_winsorize_bounds_broadcast(spark, sf_dir):
    """The per-group p1/p99 bounds table is group-cardinality-sized —
    it must broadcast; the fact side must not shuffle for the join."""
    plan = _plan("winsorize_clip", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_backlog_window_runs_on_day_grain(spark, sf_dir):
    """orders_backlog_daily: the running sum must consume the day-grain
    aggregate (O(days) rows), never the raw order intervals — the
    aggregate must appear below the Window in the plan."""
    plan = _plan("orders_backlog_daily", spark, sf_dir)
    assert "Window" in plan
    # Window input comes from the day aggregate: HashAggregate appears
    # between the scan and the window (plan prints top-down, so the
    # window's section must reference the agg output, not the union).
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], (
        "running sum must run over the aggregated day table"
    )


def test_shard_prefix_sum_is_two_phase(spark, sf_dir):
    """corpus_shard_bybytes: the intra-bucket window partitions by bkt
    (parallel); only the tiny bucket-offset window is single-partition."""
    plan = _plan("corpus_shard_bybytes", spark, sf_dir)
    assert "BroadcastHashJoin" in plan  # offsets join back by broadcast
    # Two windows: one partitioned by bkt, one global over buckets only.
    assert plan.count("Window") >= 2


def test_impute_single_user_shuffle(spark, sf_dir):
    """impute_group_mean: mean + join + re-agg all key on user_id; the
    exchange must be planned once and reused, not re-shuffled."""
    plan = _plan("impute_group_mean", spark, sf_dir)
    n_exchange = plan.count("Exchange hashpartitioning")
    n_reused = plan.count("ReusedExchange")
    assert n_exchange - n_reused <= 2, plan[:2000]


def test_session_capped_single_python_stage(spark, sf_dir):
    """window_session_capped: exactly one Arrow-batched Python stage
    (the per-user ordered pass); everything around it stays JVM-side."""
    plan = _plan("window_session_capped", spark, sf_dir)
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_array_higher_order_no_python(spark, sf_dir):
    """HOF lambdas must run JVM-side: no Python eval anywhere."""
    plan = _plan("array_higher_order", spark, sf_dir)
    assert "EvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The fact scan must carry a dynamicpruning expression on the
    partition column — runtime pruning from the dim-side filter, not a
    static partition filter and not a full scan."""
    plan = _plan("join_dynamic_partition_pruning", spark, sf_dir)
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_rebalance_hint_in_plan(spark, sf_dir):
    """The REBALANCE hint must reach the optimizer (RebalancePartitions
    in the optimized logical plan) — a silently-dropped hint would make
    the operator a no-op."""
    df = QUERIES["sql_rebalance_hint"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in opt or "rebalance" in opt.lower(), opt[:1200]


def test_observation_metrics_on_flagship(spark, sf_dir):
    """df.observe: data-quality metrics ride the flagship scan for free
    (no second pass) and must agree with a direct aggregate — the
    100 TB way to audit a pipeline stage without re-reading it."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    from mincemeatpy_spark.tables import t

    docs = t(spark, sf_dir, "documents")
    obs = Observation("dq")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars")).alias("total_chars"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
    )
    out = observed.select("doc_id").write.format("noop").mode("overwrite")
    out.save()
    expected = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c")
    ).collect()[0]
    got = obs.get
    assert got["n_docs"] == expected["n"]
    assert got["total_chars"] == expected["c"]
    assert got["null_texts"] == 0


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction: with a selective dim
    filter and a shuffle join, Catalyst builds a bloom filter from the
    dim keys and applies it to the fact scan side — rows that cannot
    match die before the shuffle.  The local thresholds are sized for
    10 GB+ fact scans, so scope them down for the assertion (on a real
    cluster the defaults fire as-is); results must be conf-independent.
    """
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1b",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilterMightContain" in plan.lower() or "might_contain" in plan, plan[:1500]
        with_bloom = {(r["o_orderstatus"], r["n"]) for r in j.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = {
        (r["o_orderstatus"], r["n"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert with_bloom == plain


def test_headline_shuffle_budget(spark, sf_dir):
    """SCALE.md rule 2 — shuffles are counted, not assumed.  Pin the
    shuffle-exchange count of every headline query; a regression that
    adds an exchange (lost broadcast, lost partitioning reuse) fails
    here before it ships.  Budgets are ceilings measured at the current
    best plan; broadcast exchanges are excluded (dimension-sized by
    rule 4)."""
    import re

    budgets = {
        "wordcount": 1,
        "tpch_q1_pricing_summary": 1,
        "join_inner": 1,
        "tpch_q3_shipping_priority": 1,
        "tpch_q9_product_profit": 1,
        "tpch_q21_waiting_suppliers": 2,  # orderkey window + s_name agg
        "join_asof": 1,
        "window_running_sum": 1,
        "window_session": 1,
        "json_extract_agg": 1,
        # linear, keyed: minh agg + inter agg; band rows carry the set
        # size so there is no size join, and the un-hinted band/candidate
        # joins plan as AQE broadcasts at fixture scale
        "dedup_minhash_lsh": 2,
        "similarity_topk": 1,
        "pipeline_training_corpus": 5,
        # 6, not 5: once the shingle cache is warm (any earlier dedup
        # query in the session), AQE sees the real cached size and plans
        # one joint as shuffle instead of broadcast — a stats-driven
        # runtime choice, not a plan regression.
        "pipeline_training_corpus_exact": 6,
        "dedup_simhash_pairs": 2,
        "dedup_containment_lsh": 4,
        "multimodal_phash_neardup": 1,
        "text_dup_ngram_fraction": 1,
        "dedup_decontaminate": 3,
        "bitmap_distinct_users": 2,
        # full TPC-H sweep (measured ceilings; dims broadcast, no SMJ)
        "tpch_q2_min_cost_supplier": 2,
        "tpch_q4_priority_check": 1,
        "tpch_q5_local_supplier": 1,
        "tpch_q6_forecast_revenue": 1,
        "tpch_q7_volume_shipping": 1,
        "tpch_q8_market_share": 1,
        "tpch_q10_returned_items": 1,
        "tpch_q11_important_stock": 3,
        "tpch_q12_priority_by_status": 1,
        "tpch_q13_customer_distribution": 2,
        "tpch_q14_promo_revenue": 1,
        "tpch_q15_top_supplier": 2,
        "tpch_q16_supplier_counts": 3,
        "tpch_q17_small_qty_revenue": 2,
        "tpch_q18_large_volume": 2,
        "tpch_q19_disjunctive_pred": 1,
        "tpch_q20_excess_shippers": 1,
        "tpch_q22_dormant_customers": 2,
    }
    over = {}
    for name, budget in budgets.items():
        plan = (
            QUERIES[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        shuf = len(
            re.findall(r"Exchange (?:hash|range)partitioning", plan)
        ) + plan.count("Exchange SinglePartition")
        if shuf > budget:
            over[name] = (shuf, budget)
    assert not over, f"shuffle budget exceeded (got, budget): {over}"


def test_peak_concurrency_two_phase_no_global_window(spark, sf_dir):
    # The boundary-stream running sum must be the two-phase bucket
    # prefix sum: every single-partition exchange funnels only
    # pre-aggregated rows (bucket subtotals / partial final agg), and
    # the window over the stream is partitioned by the hour bucket.
    plan = _plan("sessions_peak_concurrency", spark, sf_dir)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            nxt = "".join(lines[i + 1 : i + 3])
            assert "Aggregate" in nxt, (
                "single-partition exchange over unaggregated rows:\n" + line
            )
    stream_windows = [
        l for l in lines if "windowspecdefinition" in l and "delta" in l and "t#" in l
    ]
    assert stream_windows, "running-sum window missing from plan"
    assert all("bkt" in l for l in stream_windows), (
        "running sum over the boundary stream must be bucket-partitioned"
    )


def _assert_single_partition_only_after_agg(plan: str):
    """Every Exchange SinglePartition must funnel pre-aggregated rows
    (its immediate input chain is an Aggregate/Sort-over-Aggregate),
    never a raw stream/rollup — the SCALE.md rule-11 shape."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            nxt = "".join(lines[i + 1 : i + 3])
            assert "Aggregate" in nxt, (
                "single-partition exchange over unaggregated rows:\n" + line
            )


def test_rfm_quartiles_two_phase_no_global_ntile(spark, sf_dir):
    plan = _plan("customer_rfm_segments", spark, sf_dir)
    assert "ntile" not in plan.lower()
    _assert_single_partition_only_after_agg(plan)
    # each quartile's intra-bucket window is partitioned by its bucket
    for l in plan.splitlines():
        if "row_number()" in l and "windowspecdefinition" in l:
            assert "bkt" in l


def test_gini_rank_two_phase(spark, sf_dir):
    plan = _plan("orders_gini_coefficient", spark, sf_dir)
    _assert_single_partition_only_after_agg(plan)
    for l in plan.splitlines():
        if "row_number()" in l and "windowspecdefinition" in l:
            assert "bkt" in l


def test_lateness_profile_two_phase_running_max(spark, sf_dir):
    plan = _plan("events_lateness_profile", spark, sf_dir)
    _assert_single_partition_only_after_agg(plan)
    for l in plan.splitlines():
        if "max(us" in l and "windowspecdefinition" in l and "event_id" in l:
            assert "bkt" in l, "running max must be bucket-partitioned"


def test_rolling_distinct_windows_on_small_tables_only(spark, sf_dir):
    # The lead window is user-partitioned; the running sum window runs
    # over the day spine (post-aggregate) — the only single-partition
    # exchange allowed is above the tiny per-day delta aggregate.
    plan = _plan("events_rolling_distinct_users", spark, sf_dir)
    _assert_single_partition_only_after_agg(plan)


import pytest


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    """Executed-plan text for every registered query, built once; the
    repo-wide plan sweeps below share it."""
    plans = {}
    for name, q in QUERIES.items():
        try:
            plans[name] = (
                q.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            )
        except Exception:  # noqa: BLE001 — runtime failures belong to other tests
            pass
    return plans


@pytest.mark.slow  # r14: full-registry plan sweep (shared ~4-5 min fixture)
def test_no_single_partition_exchange_over_raw_data_anywhere(all_plans):
    """Repo-wide enforcement of SCALE.md rule 11: in EVERY registered
    query's physical plan, an Exchange SinglePartition may only consume
    pre-bounded rows — an Aggregate (partial/bucket rollup) or a
    WindowGroupLimit (per-partition top-k pruning).  This is the guard
    against the exact bug class round 3 flagged in
    sessions_peak_concurrency: a global window/sort silently funneling
    an unbounded stream through one task."""
    offenders = {}
    for name, plan in all_plans.items():
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                nxt = "".join(lines[i + 1 : i + 3])
                if "Aggregate" not in nxt and "WindowGroupLimit" not in nxt:
                    offenders.setdefault(name, []).append(nxt.strip()[:80])
    assert not offenders, f"single-partition exchanges over raw data: {offenders}"


@pytest.mark.slow  # r14: full-registry plan sweep (shared ~4-5 min fixture)
def test_no_row_at_a_time_python_anywhere(all_plans):
    """Repo-wide: BatchEvalPython (row-at-a-time pickled UDF execution)
    must not appear in ANY registered query's plan.  Python stages are
    Arrow-batched only (ArrowEvalPython / mapInPandas / mapInArrow /
    FlatMapGroupsInPandas / cogroup) — the 10-100x rule for Python on
    the hot path."""
    offenders = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


@pytest.mark.slow  # r14: full-registry plan sweep (shared ~4-5 min fixture)
def test_no_shuffle_cartesian_anywhere(all_plans):
    """Repo-wide: CartesianProduct (the shuffle-based big-big cross
    product) must never appear — every cross join in the registry is a
    broadcast of a provably tiny side (scalars, centroids, planes,
    probe lists), which plans as BroadcastNestedLoopJoin instead."""
    offenders = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, f"shuffle cartesian products in: {offenders}"


def test_udtf_input_is_prereduced(spark, sf_dir):
    """udtf_table_argument: the JVM rank<=2 combiner (WindowGroupLimit)
    must sit below the Python UDTF, so Python consumes k rows per key,
    never the whole fact table."""
    plan = _plan("udtf_table_argument", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    # The events scan feeding the UDTF is column-pruned to its 3 inputs.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" not in read_schema and "user_id" not in read_schema


def test_simhash_pairs_no_signature_rejoin(spark, sf_dir):
    """dedup_simhash_pairs: the band self-join carries both signatures,
    so the plan has exactly one join (the band collision) and no joins
    back to the doc-count-sized signature table."""
    plan = _plan("dedup_simhash_pairs", spark, sf_dir)
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, f"expected 1 join, plan has {n_joins}"


def test_bfs_edges_shuffle_integer_keys(spark, sf_dir):
    """graph_bfs_distances: node keys are int64 end-to-end (SCALE rule
    5); the display-label concat appears only above the final
    node-count-sized aggregate, never below a join or distinct."""
    from mincemeatpy_spark.operators import graph as G
    import pyspark.sql.functions as F
    from mincemeatpy_spark.tables import t as tt

    o = tt(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tt(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("u"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("v"),
        )
        .distinct()
    )
    assert dict(e.dtypes) == {"u": "bigint", "v": "bigint"}
    full = QUERIES["graph_bfs_distances"].fn(spark, sf_dir)
    # Output labels are still the public 'c…'/'s…' strings.
    assert dict(full.dtypes)["example_node"] == "string"


_TOKEN_COLS = {"word", "w1", "w2", "bg", "token", "shingle", "term", "ngram"}


def _walk_jvm(root):
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))


@pytest.fixture(scope="module")
def all_hinted_subtrees(spark, sf_dir):
    """Broadcast-hinted logical subtrees for every registered query,
    from the ANALYZED plan (where forced hints survive as ResolvedHint
    before AQE gets a vote).  Returns (subtrees, skipped) so queries
    whose build fails are a VISIBLE enforcement gap, not a silent one."""
    subtrees, skipped = {}, []
    for name, q in QUERIES.items():
        try:
            jplan = q.fn(spark, sf_dir)._jdf.queryExecution().analyzed()
        except Exception:  # noqa: BLE001 — runtime failures belong elsewhere
            skipped.append(name)
            continue
        found = [
            n.children().apply(0)
            for n in _walk_jvm(jplan)
            if n.nodeName() == "ResolvedHint"
        ]
        if found:
            subtrees[name] = found
    return subtrees, skipped


@pytest.mark.slow  # r14: full-registry plan sweep (shared ~4-5 min fixture)
def test_rule13_sweep_covers_every_query(all_hinted_subtrees):
    """A query that cannot even build its plan is invisible to the
    rule-13 sweep — require the skip list to be empty so a broken build
    cannot hide a hinted unbounded aggregate."""
    _, skipped = all_hinted_subtrees
    assert not skipped, f"queries excluded from the rule-13 sweep: {skipped}"


def test_no_broadcast_hint_on_unbounded_word_aggregate(all_hinted_subtrees):
    """Repo-wide enforcement of SCALE.md rule 13: a forced F.broadcast
    hint may only wrap a PROVABLY bounded subtree.  Vocabulary-scale
    aggregates (grouped by a word/token/shingle column) are unbounded —
    Heaps' law says the vocabulary grows with the corpus — so a hint on
    one OOMs the driver at 100 TB where AQE would have shuffle-joined.
    A word-grouped aggregate inside a hint is allowed only when a
    bounding node sits between the hint and the aggregate: a Limit, a
    Filter over a row_number (an actual top-N cut, not a mere
    row_number anywhere in the subtree), a global (no-grouping)
    aggregate, or a fixed-cardinality bucket rollup — each caps the
    hinted output regardless of what feeds it."""
    import re

    def _grouping_bases(node):
        ge = node.groupingExpressions()
        return [
            ge.apply(i).toString().split("#")[0].strip().lower()
            for i in range(ge.size())
        ]

    def _is_topn_filter(node):
        # Filter whose OWN condition caps a window-rank attribute that a
        # Window node below DEFINES via row_number — i.e. an actual
        # top-N cut.  (Substring-matching node.toString() would match
        # the whole subtree dump: any numeric <= whose subtree had a
        # row_number anywhere would qualify.)
        if node.nodeName() != "Filter":
            return False
        capped = re.findall(
            r"[A-Za-z_][A-Za-z0-9_]*(#\d+)L?\s*<=?\s*\d+",
            node.condition().toString(),
        )
        if not capped:
            return False
        for c in _walk_jvm(node):
            if c.nodeName() == "Window":
                we = c.windowExpressions().toString()
                if "row_number" in we and any(
                    re.search(re.escape(a) + r"(?!\d)", we) for a in capped
                ):
                    return True
        return False

    def _token_aggs_below(root):
        """Token-grouped Aggregates reachable from `root` without
        crossing a bounding node (limit / top-N filter / global agg /
        bucket rollup)."""
        bad, stack = [], [root]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name in ("GlobalLimit", "LocalLimit") or _is_topn_filter(node):
                continue  # bounded: do not descend
            if name == "Aggregate":
                bases = _grouping_bases(node)
                if not bases or set(bases) <= {"bkt"}:
                    continue  # 1-row or fixed-bucket output: bounded, stop descent
                bad.extend(b for b in bases if b in _TOKEN_COLS)
            for i in range(node.children().size()):
                stack.append(node.children().apply(i))
        return bad

    offenders = {}
    subtrees, _ = all_hinted_subtrees
    for name, subs in subtrees.items():
        for sub in subs:
            bad = _token_aggs_below(sub)
            if bad:
                offenders.setdefault(name, []).extend(sorted(set(bad)))
    assert not offenders, (
        f"rule-13 violation — forced broadcast of vocabulary-scale aggregates: {offenders}"
    )


def test_pagerank_scalars_ride_in_plan(spark, sf_dir):
    """graph_pagerank_iter: the node-count scalar rides in-plan as a
    broadcast 1-row aggregate — BUILDING the query launches zero driver
    jobs (no .count() before the main action).  Iterative loop-control
    counts (BFS frontier, CC convergence, the 2iter checkpoints) are
    exempt by design."""
    QUERIES["graph_pagerank_iter"].fn(spark, sf_dir)  # warm schema inference
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    df = QUERIES["graph_pagerank_iter"].fn(spark, sf_dir)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "building graph_pagerank_iter ran driver-side jobs"
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "n_nodes" in analyzed  # the in-plan count aggregate


def test_kcore_four_rounds_reach_fixpoint(spark, sf_dir):
    """graph_kcore_peel unrolls exactly 4 peel rounds in both engines and
    its doc claims converged rounds are no-ops — verify the claim: a 5th
    peel round must leave the edge set unchanged at the fixture scale.
    If data growth ever makes 4 rounds a PARTIAL peel, this fails and
    both the loop and the oracle recurrence need one more round (they
    would still agree with each other — which is exactly why the oracle
    gate cannot catch it)."""
    from pyspark.sql import functions as F
    from mincemeatpy_spark.operators.graph import _KCORE_K
    from mincemeatpy_spark.tables import t as tt

    o = tt(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tt(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("u"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("v"),
        )
        .distinct()
    )
    edges = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    counts = []
    for _ in range(5):
        counts.append(edges.count())
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= _KCORE_K).select("u")
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    n5 = edges.count()
    assert n5 == counts[4], (
        f"5th peel round changed the edge count {counts[4]} -> {n5}: "
        "4 rounds is a partial peel at this scale"
    )


def test_r4_scale_fixes_no_midplan_collect(spark, sf_dir):
    """The r3->r4 scale-shape rewrites (sessions_peak_concurrency,
    customer_rfm_segments, orders_gini_coefficient) must stay free of
    mid-plan driver actions: BUILDING each query launches zero jobs.
    Their window-shape pins above guard the two-phase bucketed form;
    this guards the other regression class (a .collect()/.count()
    sneaking back in to compute a bucket boundary or total)."""
    tracker = spark.sparkContext.statusTracker()
    for name in (
        "sessions_peak_concurrency",
        "customer_rfm_segments",
        "orders_gini_coefficient",
    ):
        QUERIES[name].fn(spark, sf_dir)  # warm schema inference
        before = set(tracker.getJobIdsForGroup(None) or [])
        QUERIES[name].fn(spark, sf_dir)
        after = set(tracker.getJobIdsForGroup(None) or [])
        assert after == before, f"{name}: building the query ran driver jobs"


def test_runtime_bloom_filter_actually_injects(spark, sf_dir):
    """join_runtime_bloom_filter's reason to exist: under its conf
    block the executed plan must carry the bloom probe
    (might_contain) on the stream side — otherwise the query is just
    a plain join demo."""
    import mincemeatpy_spark.operators.joins as J
    from pyspark.sql import functions as F

    from mincemeatpy_spark.tables import t as tbl

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = tbl(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        li = tbl(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), "bloom probe missing"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_skew_split_fires_on_unsalted_hotkey_join(spark, sf_dir):
    """join_skew_hotkey_aqe's engine-side claim, demonstrated: on the
    adversarial 50%-hot-key shape, AQE's OptimizeSkewedJoin splits the
    hot reduce partition at runtime — the executed (final adaptive)
    plan must carry SortMergeJoin(skew=true) / AQEShuffleRead skewed,
    and the split must not change the result.

    Two measured preconditions (probes/r7/) are set up explicitly,
    because at test scale they do not hold by default though they do at
    100 TB: (a) the split granularity is MAP OUTPUTS, and a
    single-row-group parquet scan is ONE effective mapper — so the fact
    side is repartitioned first (a 1000-executor scan has thousands of
    mappers); (b) detection is bytes-based POST-compression, and
    constant-key narrow rows LZ4-collapse ~10x — so rows carry an
    incompressible payload (wide heterogeneous rows are the 100 TB
    norm)."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.tables import t as tbl

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = tbl(spark, sf_dir, "lineitem")
        fact = (
            li.withColumn(
                "jk",
                F.when(F.col("l_orderkey") % 2 == 0, F.lit(2).cast("bigint"))
                .otherwise(F.col("l_orderkey")),
            )
            .repartition(8)  # multi-mapper shuffle input (precondition a)
            .withColumn(     # incompressible payload (precondition b)
                "pad",
                F.sha2(F.concat_ws("-", "l_orderkey", "l_linenumber"), 512),
            )
        )
        o = tbl(spark, sf_dir, "orders")
        j = fact.join(o, fact.jk == o.o_orderkey).select(
            "o_orderpriority", "l_quantity", "pad"
        )
        n = len(j.collect())
        assert n == li.count(), "skew split changed the join result size"
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"no skew-split join in plan:\n{plan[:1500]}"
        assert any(
            "AQEShuffleRead" in line and "skewed" in line
            for line in plan.splitlines()
        ), "no skewed AQEShuffleRead in final plan"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_skew_hotkey_salted_structure(spark, sf_dir):
    """The salted query's load-bearing structure: the (jk, salt) join
    condition actually carries the salt (else the explode did nothing
    and the hot key still serializes), and the hot-key detection rides
    in-plan (no collect; the broadcast wraps a filtered aggregate that
    is bounded by the n * 20 > total predicate)."""
    from mincemeatpy_spark.operators.skew import join_skew_hotkey_salted

    df = join_skew_hotkey_salted(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "fsalt" in analyzed and "dsalt" in analyzed
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the salted equi-join keys include the salt pair
    assert "fsalt" in optimized and "dsalt" in optimized
    physical = df._jdf.queryExecution().executedPlan().toString()
    # hot-set detection is a broadcast join, not a driver collect
    assert "BroadcastExchange" in physical or "broadcast" in physical.lower()


def test_pandas_api_rolling_same_plan_as_native(spark, sf_dir):
    """pandas_api_rolling's claim: the ps rolling(3) compiles to the
    same physical shape as the native Window query — one hash exchange
    on the grouping key, one Window node — and the results are
    row-for-row identical (the strong form; plan-string equality is
    alias-noise-fragile)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mincemeatpy_spark.operators.misc import pandas_api_rolling
    from mincemeatpy_spark.tables import t as tbl

    ps_df = pandas_api_rolling(spark, sf_dir)
    ev = tbl(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("micro"),
    )
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    native = ev.select(
        "user_id",
        "event_id",
        F.sum("micro").over(w).cast("bigint").alias("roll_micro"),
    )
    assert ps_df.exceptAll(native).count() == 0
    assert native.exceptAll(ps_df).count() == 0
    pplan = ps_df._jdf.queryExecution().executedPlan().toString()
    nplan = native._jdf.queryExecution().executedPlan().toString()
    for plan, label in ((pplan, "pandas-api"), (nplan, "native")):
        assert plan.count("Exchange") == 1, f"{label}: extra shuffle\n{plan[:800]}"
        assert plan.count("Window [") == 1, f"{label}: window count"


def test_pandas_api_merge_same_plan_as_native(spark, sf_dir):
    """pandas_api_merge's claim: index-on-index ps.merge plans the
    identical join strategy and exchange count as the native
    equi-join, and agrees row-for-row."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.operators.misc import pandas_api_merge
    from mincemeatpy_spark.tables import t as tbl

    ps_df = pandas_api_merge(spark, sf_dir)
    od = tbl(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 1000000 + 0.5)
        .cast("bigint")
        .alias("micro"),
    )
    cu = tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    native = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("micro").cast("bigint").alias("micro_total"),
        )
    )
    assert ps_df.exceptAll(native).count() == 0
    assert native.exceptAll(ps_df).count() == 0

    def join_sig(plan: str):
        kinds = [
            k
            for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
            if k in plan
        ]
        return kinds, plan.count("Exchange")

    psig = join_sig(ps_df._jdf.queryExecution().executedPlan().toString())
    nsig = join_sig(native._jdf.queryExecution().executedPlan().toString())
    assert psig == nsig, f"pandas-api {psig} != native {nsig}"


def test_weighted_priority_sample_is_two_phase(spark, sf_dir):
    # A-ES weighted sampling survives skew the same way the reservoir
    # does: WindowGroupLimit caps each input partition at k rows per
    # lang before the shuffle, so a 100 TB lang partition never funnels
    # raw rows to one task.
    plan = _plan("sample_weighted_priority", spark, sf_dir)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_dsir_bucket_model_broadcast(spark, sf_dir):
    # The 64-bucket log-ratio model must reach the per-doc scoring join
    # as a broadcast (it is a fixed-cardinality rollup), and the token
    # explode + hashing stay in codegen — no Python stage anywhere.
    plan = _plan("corpus_dsir_weights", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_segment_dedup_shuffles_digest_not_text(spark, sf_dir):
    # The global first-instance aggregate must key on xxhash64(segment),
    # never the segment string: every Exchange in the plan hashes the
    # digest (or doc_id for the final rollup) — 'seg' itself appears in
    # no hashpartitioning clause.
    import re

    plan = _plan("dedup_segments_bulk", spark, sf_dir)
    assert "xxhash64" in plan
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert not part.strip().startswith("seg#"), part
    assert "EvalPython" not in plan
    # window-min formulation: one digest shuffle + the doc rollup, and
    # no join at all — the aggregate-then-join twin tempts the
    # optimizer into broadcasting an O(corpus) firsts table.
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_url_parse_single_scan_no_python(spark, sf_dir):
    # parse_url is a JVM expression: one documents scan, no Python.
    plan = _plan("corpus_url_parse_stats", spark, sf_dir)
    assert "EvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_dsir_resample_topk_is_take_ordered(spark, sf_dir):
    # Gumbel top-k selection must compile to TakeOrderedAndProject
    # (map-side partial top-k), never a global Sort + single partition.
    plan = _plan("corpus_dsir_resample", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # the 64-bucket model stays broadcast


def test_segments_bulk_skewed_absorbs_hot_key(spark, sf_dir):
    """dedup_segments_bulk_skewed (r8): the skew-robust first-instance
    rule must be (a) a two-phase hash aggregation of min(inst_key) —
    partial combine absorbs the planted boilerplate digest map-side —
    and (b) a SHUFFLED hash join back on the digest, never a broadcast
    of the O(corpus) firsts table."""
    plan = _plan("dedup_segments_bulk_skewed", spark, sf_dir)
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert "BroadcastHashJoin" not in plan
    # two-phase min: a partial_min below the exchange, a final min above
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


def test_sort_limit_offset_no_global_sort(spark, sf_dir):
    """sort_limit_offset: offset+limit must execute as
    TakeOrderedAndProject(limit=offset+limit, offset=offset) — the
    per-partition top-k shape — never a global Exchange-then-Sort of
    the whole table."""
    plan = _plan("sort_limit_offset", spark, sf_dir)
    assert "TakeOrderedAndProject(limit=60, offset=40" in plan, plan[:1200]
    assert "Exchange rangepartitioning" not in plan


def test_groupingsets_df_api_expand(spark, sf_dir):
    """agg_groupingsets_df_api compiles to the same Expand-operator
    shape as the SQL GROUPING SETS form: one scan, Expand, two-phase
    aggregate."""
    plan = _plan("agg_groupingsets_df_api", spark, sf_dir)
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_market_basket_rules_vocab_joins_broadcast(spark, sf_dir):
    """market_basket_rules: the item-count joins are against the
    bounded item vocabulary and must broadcast; the only shuffled join
    is the within-basket pair generation."""
    plan = _plan("market_basket_rules", spark, sf_dir)
    assert "BroadcastHashJoin" in plan


def test_video_corpus_dedupes_before_decode(spark, sf_dir):
    # pipeline_video_corpus's 100 TB ordering: the sha2 digest
    # aggregation (dedupe) must sit BETWEEN the encode stage and the
    # decode stage, so only unique payloads reach the codec.  Three
    # MapInPandas stages total (encode, decode; the explode side reuses
    # the cached decode), and the digest HashAggregate appears after
    # the first Python stage but before the second in the plan tree —
    # i.e. the decode stage's subtree CONTAINS the aggregate while the
    # encode stage's does not.
    df = QUERIES["pipeline_video_corpus"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the digest dedupe is a real shuffle on sha2 output
    assert "sha2" in plan
    # plans print top-down (sink first): the decode Python stage must
    # print BEFORE the digest-keyed exchange, which must print BEFORE
    # the encode Python stage — i.e. decode consumes the deduped set.
    d = plan.find("MapInPandas decode")
    x = plan.find("Exchange hashpartitioning(digest")
    e = plan.find("MapInPandas encode")
    assert -1 not in (d, x, e), plan[:800]
    assert d < x < e, "digest dedupe is not between encode and decode"


def test_vp8_and_mjpeg_are_two_narrow_python_stages(spark, sf_dir):
    # every round-trip codec query: exactly the encode + decode
    # mapInPandas stages — no extra Python hops, no joins, no cartesian
    # anything; all but the first four run over a repartitioned
    # 16-byte/row projection.
    unpartitioned = (
        "multimodal_decode_real", "multimodal_decode_audio_real",
        "multimodal_decode_png_real", "multimodal_decode_video_real",
    )
    repartitioned = (
        "multimodal_decode_mjpeg_real", "multimodal_decode_jpeg_real",
        "multimodal_decode_jpeg_progressive", "multimodal_decode_gif_real",
        "multimodal_decode_gif_anim", "multimodal_decode_flac_real",
        "multimodal_decode_webp_real", "multimodal_decode_webp_anim",
        "multimodal_decode_webp_anim_fralpha",
        "multimodal_decode_vorbis_real", "multimodal_decode_vp8_real",
        "multimodal_decode_vp8x_real", "multimodal_resize_real",
    )
    for name in unpartitioned + repartitioned:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 2, name
        assert "MapInPandas encode" in plan, name
        assert "MapInPandas decode" in plan, name
        assert "Join" not in plan, name
        if name in repartitioned:
            assert "Exchange" in plan, name  # the parallelism repartition


def test_html_extract_is_scan_side(spark, sf_dir):
    """r12: the HTML→text extraction must be pure scan-side codegen —
    ZERO exchanges (no shuffle, no Python) — and read only the two
    columns the synthesis uses."""
    plan = _plan("text_html_extract", spark, sf_dir)
    # r13 optimization round: the ONLY allowed exchange is the
    # scale-adaptive fan_out round-robin repartition (parallelism off a
    # single-row-group fixture scan; a no-op at production scale) — the
    # multimodal codec queries' precedent.  Still no KEYED shuffle and
    # no Python anywhere in the extraction.
    # ADVICE r13 item 4: assert the positive shape (exactly one
    # Exchange, and it is round-robin) instead of deny-listing exchange
    # kinds — a future unexpected exchange type must FAIL, not pass
    # silently.
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["RoundRobinPartitioning"], (
        f"extraction must carry exactly one round-robin exchange "
        f"(the fan_out), got {exchanges}"
    )
    assert "EvalPython" not in plan and "InPandas" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_web_corpus_single_digest_exchange(spark, sf_dir):
    """r12: the fused WARC→extract→lang-ID→gate→dedup composite's ONLY
    exchange is the digest-keyed dedup hash partitioning (plus AQE's
    final coalesce reading it) — the whole front of the pipeline is
    map-only."""
    import re

    plan = _plan("pipeline_web_corpus", spark, sf_dir)
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1, f"expected 1 hash exchange, got {shuffles}"
    # r13 optimization round: the digest now materializes once as the
    # `_sha` column (window key + body_sha prefix share it), so the
    # exchange keys on that attribute instead of an inline sha2(...).
    assert (
        "sha2" in shuffles[0]
        or "body_sha" in shuffles[0]
        or "_sha" in shuffles[0]
        or "_w" in shuffles[0]
    ), f"the one exchange must key on the body digest: {shuffles[0]}"
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_link_graph_two_phase_agg(spark, sf_dir):
    """r12: web_link_graph must partial-aggregate map-side (per-page
    duplicate edges collapse before the wire).  count(DISTINCT doc_id)
    plans as Spark's canonical two-exchange distinct aggregate — one
    exchange on (edge, doc_id), one on the edge key — and BOTH must
    consume partially-aggregated rows, never raw exploded links."""
    plan = _plan("web_link_graph", spark, sf_dir)
    lines = plan.splitlines()
    exchanges = [
        i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 2, f"expected the 2-exchange distinct-agg shape, got {len(exchanges)}"
    for i in exchanges:
        nxt = "".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in nxt and "partial" in nxt, (
            "exchange must consume partial-aggregated edges:\n" + lines[i]
        )
    assert "EvalPython" not in plan


def test_triplet_mining_broadcasts_anchor_batch(spark, sf_dir):
    """r12: both triplet-mining twins broadcast the bounded anchor
    batch — the corpus side must never be broadcast or cartesian."""
    for q in ("embedding_triplet_mining", "embedding_triplet_mining_ivf"):
        plan = _plan(q, spark, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, q


def test_fenced_filter_blocks_pushdown(spark, sf_dir):
    """ADVICE r13 item 2: the plans/r13 dumps are snapshots, not guards —
    this test IS the guard.  fenced_filter relies on SPARK-13473
    (PushDownPredicates may not push a filter through a projection that
    carries a nondeterministic field).  If a Spark upgrade changes that
    rule, the fence silently degrades back to duplicated evaluation of
    the expensive derived column — the Filter would then carry its own
    substituted copy of the expression.  Assert the expensive expression
    appears in exactly ONE operator (its Project), and the gate Filter
    references the materialized attribute only."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.lineage import fenced_filter
    from mincemeatpy_spark.tables import t as tbl

    docs = tbl(spark, sf_dir, "documents")
    # Stand-in for the HTML-extraction tree: expensive, NOT cheap under
    # CollapseProject's cost model (regexp_replace chain).
    expensive = F.length(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"<[^>]*>", " "), r"\s+", " "
        )
    )
    df = docs.select("doc_id", expensive.alias("clean_len"))
    gated = fenced_filter(df, F.col("clean_len") > 10)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace") == 2, (
        "expensive expression must be evaluated in exactly one operator "
        "(2 regexp_replace nodes of the one chain); pushdown through the "
        "fence would duplicate them into the scan Filter:\n" + plan
    )
    # The fence column itself must not leak into the output schema.
    assert not [c for c in gated.columns if c.startswith("_fence")]
    # And it still filters: the gate predicate survives in the plan.
    assert "clean_len" in plan


def test_fenced_filter_collision_safe(spark, sf_dir):
    """ADVICE r13 item 2 (collision half): a pre-existing _fence column
    must survive fenced_filter untouched (the helper picks a fresh
    name instead of overwriting)."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.lineage import fenced_filter
    from mincemeatpy_spark.tables import t as tbl

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.lit(-7).alias("_fence")
    )
    out = fenced_filter(docs, F.col("doc_id") >= 0)
    assert out.columns == ["doc_id", "_fence"]
    vals = {r["_fence"] for r in out.limit(5).collect()}
    assert vals == {-7}, f"user _fence column was clobbered: {vals}"


def test_fenced_filter_collision_case_insensitive(spark, sf_dir):
    """Spark resolves column names case-insensitively, so a caller's
    _FENCE column collides with the helper's _fence: it must survive
    fenced_filter, and a lineage truncation after it, unchanged."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.lineage import fenced_filter, truncate_lazy
    from mincemeatpy_spark.tables import t as tbl

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.lit(-7).alias("_FENCE")
    )
    out = fenced_filter(docs, F.col("doc_id") >= 0).transform(truncate_lazy)
    assert out.columns == ["doc_id", "_FENCE"]
    vals = {r["_FENCE"] for r in out.limit(5).collect()}
    assert vals == {-7}, f"user _FENCE column was clobbered: {vals}"
