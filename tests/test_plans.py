"""Physical-plan assertions: the optimizations the engine's docstrings
promise must actually appear in the plans (pushdown, pruning, broadcast,
partial aggregation, top-k without global sort).

Registered queries come from the session's one registry pass
(``registry_run`` in conftest.py); tests that build under changed conf
or data build their own plans.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from contextlib import contextmanager

import pytest

from mincemeatpy_spark.plans import plan_facts
from mincemeatpy_spark.registry import load_all_queries

BUDGETS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "budgets.json"
)


def _plan(registry_run, name) -> str:
    """The query's executed plan from the session's one registry pass
    (taken before execution)."""
    return registry_run(name).checked().plan


@contextmanager
def _session_conf(spark, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then restore them."""
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_filter_pushed_to_parquet(registry_run):
    plan = _plan(registry_run, "projection_filter")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual(l_quantity" in plan


def test_column_pruning(registry_run):
    plan = _plan(registry_run, "projection_filter")
    # ReadSchema must contain only the needed columns, not all 11.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_dim_join_is_broadcast(registry_run):
    plan = _plan(registry_run, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_plan(registry_run):
    plan = _plan(registry_run, "join_semi")
    assert "LeftSemi" in plan


def test_agg_is_two_phase(registry_run):
    # Catalyst's partial+final HashAggregate = the reference's
    # collectfn+reducefn split (mincemeat.py:174-182), planned automatically.
    plan = _plan(registry_run, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_topk_avoids_global_sort(registry_run):
    plan = _plan(registry_run, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning(registry_run):
    # sink_partitioned_parquet reads back with a partition filter; the
    # scan must prune directories (PartitionFilters), not data-filter.
    plan = _plan(registry_run, "sink_partitioned_parquet")
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_wordcount_codegen(registry_run):
    # The flagship's hot path must be inside whole-stage codegen; AQE only
    # shows the final (codegen-annotated) plan after execution — the
    # plan of the collect's own SQL execution.
    plan = registry_run("wordcount").checked().collect_plans[-1]
    # '*(n)' prefixes mark whole-stage-codegen'd operators; the partial
    # aggregate and the generate/filter must carry them.  r13: the stage
    # index is incidental (the scale-adaptive fan_out repartition shifts
    # numbering at fixture scale); codegen membership is the invariant.
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(\d+\) (Generate|Filter)", plan)


def test_q4_exists_is_semi_join(registry_run):
    # The EXISTS subquery must plan as one semi join (no aggregate-then-
    # join-back, no BNLJ despite the non-equi conjunct on shipdate).
    plan = _plan(registry_run, "tpch_q4_priority_check")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_dims_broadcast(registry_run):
    # nation and region are hinted broadcast; the fact-side joins may
    # shuffle but the dimension chain must not.
    plan = _plan(registry_run, "tpch_q5_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 2


def test_q10_topk_no_global_sort(registry_run):
    plan = _plan(registry_run, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    # the returnflag filter must reach the lineitem parquet scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q17_decorrelated_to_broadcast(registry_run):
    # The correlated per-part average must run as broadcast joins over the
    # (tiny) aggregate, not re-shuffle the fact twice.
    plan = _plan(registry_run, "tpch_q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan


def test_q18_having_is_semi_join(registry_run):
    plan = _plan(registry_run, "tpch_q18_large_volume")
    assert "LeftSemi" in plan


def test_q22_anti_join(registry_run):
    plan = _plan(registry_run, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan


def test_q1_agg_stays_in_codegen(registry_run):
    # The fixed-point long accumulators must keep the whole aggregate
    # inside whole-stage codegen (the reason decsum is not a decimal sum).
    plan = registry_run("tpch_q1_pricing_summary").checked().collect_plans[-1]
    # r13: stage index is incidental (fan_out shifts numbering at
    # fixture scale); codegen membership is the invariant.
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_ivf_probe_join_broadcasts_queries(registry_run):
    # The IVF probe side (queries x nprobe) is tiny and must broadcast;
    # the corpus/posting-list side must never be broadcast or looped.
    plan = _plan(registry_run, "similarity_ann_ivf")
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(registry_run):
    # Both sides bucketed+sorted by the join key: the sort-merge join must
    # read buckets directly — no ShuffleExchange, no Sort before the join.
    plan = _plan(registry_run, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    # The only exchange allowed is the post-join aggregation's (on
    # o_orderstatus); nothing may re-partition on the join keys.
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan


def test_plan_facts_module(registry_run):
    # plans.inspect is the plan-IR window test_plans uses; check its
    # structured facts on a known query.
    plan = _plan(registry_run, "tpch_q5_local_supplier")
    facts = plan_facts(plan)
    assert all("PushedFilters" in l for l in plan.splitlines() if "FileScan" in l)
    assert facts["joins"]["BroadcastHashJoin"] >= 1
    assert facts["exchanges"]["hash"] <= 3  # fact shuffles only, never dims


# A final AQE plan (trimmed).  The ReusedExchange is a leaf: the line
# after it is a sibling stage, not its input (the exchange it reuses is
# defined over an aggregate).  The Initial Plan section is not counted.
_REUSED_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 9
   +- *(5) BroadcastNestedLoopJoin BuildRight, Cross
      :- ShuffleQueryStage 6
      :  +- ReusedExchange [count#882L], Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1710]
      :- BroadcastQueryStage 7
      :  +- BroadcastExchange IdentityBroadcastMode, [plan_id=2447]
      :     +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1710]
      :        +- *(4) HashAggregate(keys=[], functions=[partial_count(md5(text#1))])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4960]
         +- *(2) LocalLimit 1
+- == Initial Plan ==
   CartesianProduct
   +- Project [md5(text#1) AS h#7]
"""


def test_plan_facts_reused_exchange_is_a_leaf():
    facts = plan_facts(_REUSED_PLAN)
    assert facts["exchanges"] == {"single": 2} and facts["reused_exchanges"] == 1
    assert facts["single_partition"] == ["HashAggregate", "LocalLimit"]
    assert facts["joins"] == {"BroadcastNestedLoopJoin": 1}
    assert facts["calls"] == {"md5": 1} and facts["python"] == {}


def test_q2_window_not_over_fact(registry_run):
    # Q2's correlated-max decorrelation: part and the nation/region chain
    # broadcast; the only sort-merge-eligible work is the derived
    # part-supplier relation, and the final top-k is a TakeOrdered.
    plan = _plan(registry_run, "tpch_q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q9_part_filter_pushed_and_broadcast(registry_run):
    # The selective p_name LIKE filter must reach the part scan, and the
    # filtered part side must broadcast into the fact.
    plan = _plan(registry_run, "tpch_q9_product_profit")
    assert "BroadcastHashJoin" in plan
    assert "StringContains(p_name,red)" in plan.replace(" ", "").replace("'", "")


def test_q11_single_fact_scan(registry_run):
    # The grand-total threshold must come from a reused per-part aggregate
    # (1-row broadcast), not a second scan+aggregate of the fact.
    plan = _plan(registry_run, "tpch_q11_important_stock")
    assert plan.count("lineitem.parquet") <= 2  # value agg + threshold reuse
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q16_blacklist_is_anti_join(registry_run):
    plan = _plan(registry_run, "tpch_q16_supplier_counts")
    assert "LeftAnti" in plan


def test_q20_nested_in_is_semi_join(registry_run):
    plan = _plan(registry_run, "tpch_q20_excess_shippers")
    assert plan.count("LeftSemi") >= 2  # part filter AND qualifying suppliers


def test_decontaminate_bench_side_broadcasts(registry_run):
    # The eval-set shingle table must broadcast; the corpus side must be
    # probed map-side (LeftSemi BroadcastHashJoin), never shuffled whole.
    plan = _plan(registry_run, "dedup_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_dup_ngram_fraction_no_explode(registry_run):
    # The per-doc score is array expressions on the scan — no shingle
    # explode (Generate) and only the lang-keyed aggregate exchange.
    plan = _plan(registry_run, "text_dup_ngram_fraction")
    assert "Generate" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_kmeans_centroids_broadcast(registry_run):
    # The k centroids join map-side; the vector table must not shuffle
    # before assignment (only the k-sized update agg exchanges).
    plan = _plan(registry_run, "kmeans_assign_update")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bitmap_distinct_is_two_level_agg(registry_run):
    # bucket-level bitmap OR then group-level sum: two aggregates, with
    # partial/final phases — fixed-size mergeable state, no id-set shuffle.
    plan = _plan(registry_run, "bitmap_distinct_users")
    assert "bitmap_construct_agg" in plan
    # bitmap OR level plans as SortAggregate (binary buffer), count level
    # as HashAggregate — 2 partial/final pairs total.
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 4


def test_quantize_int8_single_scan(registry_run):
    # One embeddings scan; all per-vector work before the label exchange.
    plan = _plan(registry_run, "vector_quantize_int8")
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


def test_asof_join_has_no_join_operator(registry_run):
    # The scale-path as-of join is union + window last(ignorenulls) —
    # ONE shuffle, zero join operators (the textbook per-key merge
    # would be a range self-join).
    plan = _plan(registry_run, "join_asof")
    assert "Join" not in plan
    assert "Window" in plan


def test_upsert_compaction_is_agg_not_sort(registry_run):
    # max_by latest-wins must plan as a two-phase hash aggregate — a
    # row_number window (sort + single-partition-per-key scan) would not
    # scale to a 100 TB change log.
    plan = _plan(registry_run, "upsert_latest_snapshot")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_zorder_key_computed_scan_side(registry_run):
    # The Morton interleave is pure bit arithmetic computed in the scan
    # stage: exactly one shuffle (the bucket aggregate), and the
    # interleave expression sits below it, next to the FileScan.
    plan = _plan(registry_run, "zorder_clustering")
    assert plan.count("Exchange") == 1
    assert plan.index("shiftleft") > plan.index("Exchange")  # below the shuffle
    assert "EvalPython" not in plan


def test_reservoir_topk_is_two_phase(registry_run):
    # Spark's WindowGroupLimit rewrite must split the row_number<=k into
    # a map-side partial top-k before the shuffle and a final after —
    # the property that makes per-group sampling skew-proof at scale.
    plan = _plan(registry_run, "sample_reservoir_group")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_pagerank_degrees_broadcast(registry_run):
    # Degree table joins edges via broadcast — the Pregel-superstep
    # shape; only the dst aggregation shuffles edge contributions.
    plan = _plan(registry_run, "graph_pagerank_iter")
    assert "BroadcastHashJoin" in plan


def test_pii_redact_single_scan_no_python(registry_run):
    # Regex scrub is JVM codegen: no BatchEvalPython / ArrowEvalPython
    # in the plan, single documents scan.
    plan = _plan(registry_run, "text_pii_redact")
    assert "EvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_bpe_pairs_count_over_vocab_not_corpus(registry_run):
    # Pair counting must aggregate the word-frequency table, not re-scan
    # the corpus: two aggregate pairs (wordcount, pair count) and a
    # top-30 via TakeOrderedAndProject, never a global Sort.
    plan = _plan(registry_run, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # two two-phase aggregates


def test_embedding_dim_stats_partial_agg(registry_run):
    # 64-group aggregate must be two-phase so the shuffle carries only
    # per-task partials, and the explode must stay in one scan stage.
    plan = _plan(registry_run, "embedding_dim_stats")
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    assert plan.count("Scan parquet") == 1


def test_markov_single_user_shuffle(registry_run):
    # One exchange for the per-user lag window, one for the tiny
    # transition aggregate, one for the normalizing window — and the
    # events scan reads only the columns the sequence needs.
    plan = _plan(registry_run, "events_markov_transitions")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_type" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_chi2_is_user_agg_then_scalar(registry_run):
    # The statistic must reduce to one shuffle on user_id plus a
    # single-row final aggregate — no join, no window.
    plan = _plan(registry_run, "events_chi2_ab")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pareto_orders_before_window_collapse(registry_run):
    # The global running-sum window must run over the per-customer
    # rollup, not raw orders: the plan aggregates before any Window.
    plan = _plan(registry_run, "pareto_customer_revenue")
    assert "Window" in plan
    # executedPlan prints leaves last: the per-customer rollup (the last
    # HashAggregate) must sit upstream of (print after) every Window.
    assert plan.rfind("HashAggregate") > plan.rfind("Window")
    # and the single-partition ordered step sees per-customer rows only
    assert plan.index("Exchange SinglePartition") > plan.rfind("Window")


def test_skew_diag_two_phase_counts(registry_run):
    # Per-key counting must be partial+final so raw lineitem rows never
    # shuffle; only (key, partial count) pairs do.
    plan = _plan(registry_run, "skew_key_diagnostics")
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(":") == 1  # only l_suppkey read


def test_attribution_single_scan_one_window(registry_run):
    # One events scan, one user_id shuffle for the last-non-null window,
    # channel rollup two-phase; no Python in the plan.
    plan = _plan(registry_run, "attribution_last_touch")
    assert plan.count("FileScan") == 1
    assert plan.count("Window") == 1
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dq_audit_pruned_scans(registry_run):
    # Row-local checks fold into one conditional-agg scan per table; the
    # referential-integrity branch re-scans lineitem but reads ONLY the
    # join key, so the wide columns are read exactly once.
    plan = _plan(registry_run, "dq_audit")
    schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    li_schemas = [s for s in schemas if "l_orderkey" in s or "l_quantity" in s]
    assert any(s.count(":") == 1 and "l_orderkey" in s for s in li_schemas)
    assert sum("l_quantity" in s for s in schemas) == 1


def test_fuzzy_match_aggregates_before_join(registry_run):
    # Distinct-values-first: both join inputs are HashAggregates and the
    # blocked equi-join broadcasts (vocabulary-sized), never a
    # nested-loop cross product.
    plan = _plan(registry_run, "fuzzy_match_levenshtein")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 4


def test_cogroup_filters_pushed_before_shuffle(registry_run):
    # Both cogroup inputs filter to the key residue BEFORE their
    # exchange (5% shuffled, not 100%), and scans are column-pruned.
    plan = _plan(registry_run, "cogroup_reconcile")
    assert "FlatMapCoGroupsInPandas" in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "% 20) = 0" in seg
    read_schemas = [s.splitlines()[0] for s in plan.split("ReadSchema:")[1:]]
    assert all(s.count(":") <= 2 for s in read_schemas)


def test_twap_single_exchange(registry_run):
    # The lead window and the per-user aggregate share one user_id
    # exchange; scan reads only the four needed columns.
    plan = _plan(registry_run, "events_twap")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "props" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_ann_recall_joins_topk_sides(registry_run):
    # Recall eval joins two per-query top-5 sets: both sides end in a
    # row_number filter (WindowGroupLimit / Window) and the final join
    # is on tiny inputs — no cartesian product.
    plan = _plan(registry_run, "similarity_ann_recall")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2


def test_q21_single_lineitem_scan(registry_run):
    # The decorrelated EXISTS/NOT EXISTS must not re-scan the fact
    # table: one lineitem scan, per-order counts as window aggregates
    # over the join's orderkey partitioning.
    plan = _plan(registry_run, "tpch_q21_waiting_suppliers")
    li_scans = [s for s in plan.split("FileScan parquet ")[1:] if s.startswith("[l_")]
    assert len(li_scans) == 1
    assert "Window" in plan


def test_compaction_reduces_file_count(registry_run, sf_dir):
    import glob

    from mincemeatpy_spark.sources.readers import _scratch

    registry_run("sink_compaction").checked()
    frag = glob.glob(os.path.join(_scratch(sf_dir, "docs_frag"), "*.parquet"))
    comp = glob.glob(os.path.join(_scratch(sf_dir, "docs_compact"), "*.parquet"))
    assert len(frag) == 64
    assert 1 <= len(comp) <= 4


def test_market_basket_cogrouped_expansion(registry_run):
    # Basket dedup aggregates before the self-join; the pair expansion
    # is an equi-join on the basket key (never a cartesian product) and
    # the support count is two-phase.
    plan = _plan(registry_run, "market_basket_pairs")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("HashAggregate") >= 4


def test_heavy_hitters_python_only_in_sketch(registry_run):
    # Python appears exactly once (the per-partition Misra-Gries pass);
    # the exact recount is JVM-side with the candidate set broadcast
    # as a semi-join.
    plan = _plan(registry_run, "word_heavy_hitters")
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_cdc_merge_pruned_scans(registry_run):
    # The MERGE reads only (o_orderkey, o_totalprice) on both sides and
    # resolves through one full-outer join.
    plan = _plan(registry_run, "cdc_merge_apply")
    assert "FullOuter" in plan
    for s in plan.split("ReadSchema:")[1:]:
        line = s.splitlines()[0]
        assert "o_comment" not in line and "o_orderdate" not in line


def test_inverted_index_two_phase(registry_run):
    plan = _plan(registry_run, "inverted_index_postings")
    assert plan.count("HashAggregate") >= 3  # tf partial+final, postings
    assert "EvalPython" not in plan


def test_surprisal_broadcast_vocab(registry_run):
    # The vocabulary and the total ride broadcast joins; no Python.
    plan = _plan(registry_run, "text_surprisal_bits")
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    assert "EvalPython" not in plan


def test_ann_index_probe_prunes_partitions(registry_run):
    # The probe's read-back must prune to the nprobe list_id partitions
    # at planning time (PartitionFilters on the index scan).
    plan = _plan(registry_run, "ann_index_persist")
    seg = [s for s in plan.split("FileScan parquet ")[1:] if "ivf_index" in s]
    assert seg and "PartitionFilters: [" in seg[0]
    assert "list_id" in seg[0].split("PartitionFilters:")[1].split("]")[0]


def test_banded_range_join_is_equi(registry_run):
    # The banded encoding must plan as an equi-join on the bucket key —
    # no BroadcastNestedLoopJoin / CartesianProduct.
    plan = _plan(registry_run, "join_range_banded")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_winsorize_bounds_broadcast(registry_run):
    """The per-group p1/p99 bounds table is group-cardinality-sized —
    it must broadcast; the fact side must not shuffle for the join."""
    plan = _plan(registry_run, "winsorize_clip")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_backlog_window_runs_on_day_grain(registry_run):
    """orders_backlog_daily: the running sum must consume the day-grain
    aggregate (O(days) rows), never the raw order intervals — the
    aggregate must appear below the Window in the plan."""
    plan = _plan(registry_run, "orders_backlog_daily")
    assert "Window" in plan
    # Window input comes from the day aggregate: HashAggregate appears
    # between the scan and the window (plan prints top-down, so the
    # window's section must reference the agg output, not the union).
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], (
        "running sum must run over the aggregated day table"
    )


def test_shard_prefix_sum_is_two_phase(registry_run):
    """corpus_shard_bybytes: the intra-bucket window partitions by bkt
    (parallel); only the tiny bucket-offset window is single-partition."""
    plan = _plan(registry_run, "corpus_shard_bybytes")
    assert "BroadcastHashJoin" in plan  # offsets join back by broadcast
    # Two windows: one partitioned by bkt, one global over buckets only.
    assert plan.count("Window") >= 2


def test_impute_single_user_shuffle(registry_run):
    """impute_group_mean: mean + join + re-agg all key on user_id; the
    exchange must be planned once and reused, not re-shuffled."""
    plan = _plan(registry_run, "impute_group_mean")
    n_exchange = plan.count("Exchange hashpartitioning")
    n_reused = plan.count("ReusedExchange")
    assert n_exchange - n_reused <= 2, plan[:2000]


def test_session_capped_single_python_stage(registry_run):
    """window_session_capped: exactly one Arrow-batched Python stage
    (the per-user ordered pass); everything around it stays JVM-side."""
    plan = _plan(registry_run, "window_session_capped")
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_array_higher_order_no_python(registry_run):
    """HOF lambdas must run JVM-side: no Python eval anywhere."""
    plan = _plan(registry_run, "array_higher_order")
    assert "EvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_dynamic_partition_pruning_fires(registry_run):
    """The fact scan must carry a dynamicpruning expression on the
    partition column — runtime pruning from the dim-side filter, not a
    static partition filter and not a full scan."""
    plan = _plan(registry_run, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_rebalance_hint_in_plan(registry_run):
    """The REBALANCE hint must reach physical planning (an Exchange with
    a REBALANCE_PARTITIONS_BY_* origin in the executed plan) — a
    silently-dropped hint would make the operator a no-op."""
    plan = _plan(registry_run, "sql_rebalance_hint")
    assert "REBALANCE_PARTITIONS_BY" in plan, plan[:1200]


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

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
    }
    def urgent_status_counts():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    with _session_conf(spark, confs):
        j = urgent_status_counts()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan or "BloomFilterMightContain" in plan.lower() or "might_contain" in plan, plan[:1500]
        with_bloom = {(r["o_orderstatus"], r["n"]) for r in j.collect()}
    plain = {(r["o_orderstatus"], r["n"]) for r in urgent_status_counts().collect()}
    assert with_bloom == plain


def _budget_counts(facts) -> dict[str, int]:
    """plan_facts counts flattened to budgets.json's keys
    (``exchanges.hash``, ``joins.SortMergeJoin``, ...)."""
    counts = {
        f"{group}.{kind}": n
        for group in ("exchanges", "joins", "python", "calls")
        for kind, n in facts[group].items()
    }
    counts["reused_exchanges"] = facts["reused_exchanges"]
    return {k: n for k, n in counts.items() if n}


def test_plan_budgets(registry_pass):
    """SCALE.md rule 2 — shuffles are counted, not assumed.
    plans/budgets.json pins, for every registered query's returned plan,
    a ceiling on each plan_facts count: exchanges by kind, reused
    exchanges, joins by kind, Python operators by kind and the expensive
    calls (md5, sha, regexp, split).  A count missing from an entry has
    ceiling 0.  A regression that adds an exchange (lost broadcast, lost
    partitioning reuse), a join, a Python stage or a duplicated
    expensive expression fails here before it ships; a change that
    raises a ceiling says why in the entry's ``why``."""
    with open(BUDGETS) as f:
        budgets = json.load(f)
    # one entry per registered query; the message names the odd ones out
    assert set(budgets) == set(registry_pass), set(budgets) ^ set(registry_pass)
    over = {}
    for name, run in registry_pass.items():
        if run.error is not None:
            continue  # test_registry_pass_covers_every_query names it
        got = _budget_counts(plan_facts(run.plan))
        ceiling = budgets[name]
        bad = {k: (n, ceiling.get(k, 0)) for k, n in got.items() if n > ceiling.get(k, 0)}
        if bad:
            over[name] = bad
    assert not over, f"plan budget exceeded (got, ceiling): {over}"


def _assert_single_partition_only_after_agg(plan: str):
    """Every Exchange SinglePartition must funnel pre-aggregated rows
    (its child is an Aggregate), never a raw stream/rollup — the
    SCALE.md rule-11 shape."""
    children = plan_facts(plan)["single_partition"]
    assert all(c and "Aggregate" in c for c in children), (
        f"single-partition exchange over unaggregated rows: {children}"
    )


def test_peak_concurrency_two_phase_no_global_window(registry_run):
    # The boundary-stream running sum must be the two-phase bucket
    # prefix sum: every single-partition exchange funnels only
    # pre-aggregated rows (bucket subtotals / partial final agg), and
    # the window over the stream is partitioned by the hour bucket.
    plan = _plan(registry_run, "sessions_peak_concurrency")
    _assert_single_partition_only_after_agg(plan)
    stream_windows = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "delta" in l and "t#" in l
    ]
    assert stream_windows, "running-sum window missing from plan"
    assert all("bkt" in l for l in stream_windows), (
        "running sum over the boundary stream must be bucket-partitioned"
    )


def test_rfm_quartiles_two_phase_no_global_ntile(registry_run):
    plan = _plan(registry_run, "customer_rfm_segments")
    assert "ntile" not in plan.lower()
    _assert_single_partition_only_after_agg(plan)
    # each quartile's intra-bucket window is partitioned by its bucket
    for l in plan.splitlines():
        if "row_number()" in l and "windowspecdefinition" in l:
            assert "bkt" in l


def test_gini_rank_two_phase(registry_run):
    plan = _plan(registry_run, "orders_gini_coefficient")
    _assert_single_partition_only_after_agg(plan)
    for l in plan.splitlines():
        if "row_number()" in l and "windowspecdefinition" in l:
            assert "bkt" in l


def test_lateness_profile_two_phase_running_max(registry_run):
    plan = _plan(registry_run, "events_lateness_profile")
    _assert_single_partition_only_after_agg(plan)
    for l in plan.splitlines():
        if "max(us" in l and "windowspecdefinition" in l and "event_id" in l:
            assert "bkt" in l, "running max must be bucket-partitioned"


def test_rolling_distinct_windows_on_small_tables_only(registry_run):
    # The lead window is user-partitioned; the running sum window runs
    # over the day spine (post-aggregate) — the only single-partition
    # exchange allowed is above the tiny per-day delta aggregate.
    _assert_single_partition_only_after_agg(
        _plan(registry_run, "events_rolling_distinct_users")
    )


def test_registry_pass_covers_every_query(registry_pass):
    """A query whose build, plan or collect fails is invisible to every
    registry-wide check below (the three sweeps, rule 13, the plan
    budgets) — require every registered query to have run, so a broken
    build cannot hide a violation.  Its oracle test shows the error."""
    failed = {n: repr(r.error)[:200] for n, r in registry_pass.items() if r.error}
    assert not failed, f"queries missing from the registry pass: {failed}"


@pytest.fixture(scope="module")
def swept_facts(registry_pass):
    """(query, plan_facts) for every plan the registry pass saw: each
    returned plan, and every SQL execution from the start of ``fn()``
    to the end of the collect (iterative queries run jobs while they
    build; those plans execute too)."""
    return [
        (name, plan_facts(text))
        for name, run in registry_pass.items()
        for text in (run.plan, *run.build_plans, *run.collect_plans)
        if text
    ]


_BOUNDED_CHILDREN = ("Aggregate", "WindowGroupLimit", "LocalLimit")


def test_no_single_partition_exchange_over_raw_data_anywhere(swept_facts):
    """Repo-wide enforcement of SCALE.md rule 11: in EVERY plan a
    registered query executes, an Exchange SinglePartition may only
    consume pre-bounded rows — an Aggregate (partial/bucket rollup), a
    WindowGroupLimit (per-partition top-k pruning) or a LocalLimit.  A
    per-partition limit caps its rows the way WindowGroupLimit caps k:
    the `.limit(1).count()` convergence probes of the iterative queries
    (_min_label_components, text_suffix_array) ship at most one row per
    partition.  This is the guard against the exact bug class round 3
    flagged in sessions_peak_concurrency: a global window/sort silently
    funneling an unbounded stream through one task."""
    offenders = {}
    for name, facts in swept_facts:
        for child in facts["single_partition"]:
            if not (child and any(b in child for b in _BOUNDED_CHILDREN)):
                offenders.setdefault(name, set()).add(child)
    assert not offenders, f"single-partition exchanges over raw data: {offenders}"


def test_no_row_at_a_time_python_anywhere(swept_facts):
    """Repo-wide: BatchEvalPython (row-at-a-time pickled UDF execution)
    must not appear in ANY plan a registered query executes.  Python
    stages are Arrow-batched only (ArrowEvalPython / mapInPandas /
    mapInArrow / FlatMapGroupsInPandas / cogroup) — the 10-100x rule for
    Python on the hot path."""
    offenders = sorted({n for n, f in swept_facts if f["python"]["BatchEvalPython"]})
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_no_shuffle_cartesian_anywhere(swept_facts):
    """Repo-wide: CartesianProduct (the shuffle-based big-big cross
    product) must never appear in a plan a registered query executes —
    every cross join in the registry is a broadcast of a provably tiny
    side (scalars, centroids, planes, probe lists), which plans as
    BroadcastNestedLoopJoin instead."""
    offenders = sorted({n for n, f in swept_facts if f["joins"]["CartesianProduct"]})
    assert not offenders, f"shuffle cartesian products in: {offenders}"


def test_udtf_input_is_prereduced(registry_run):
    """udtf_table_argument: the JVM rank<=2 combiner (WindowGroupLimit)
    must sit below the Python UDTF, so Python consumes k rows per key,
    never the whole fact table."""
    plan = _plan(registry_run, "udtf_table_argument")
    assert "WindowGroupLimit" in plan
    # The events scan feeding the UDTF is column-pruned to its 3 inputs.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" not in read_schema and "user_id" not in read_schema


def test_simhash_pairs_no_signature_rejoin(registry_run):
    """dedup_simhash_pairs: the band self-join carries both signatures,
    so the plan has exactly one join (the band collision) and no joins
    back to the doc-count-sized signature table."""
    joins = plan_facts(_plan(registry_run, "dedup_simhash_pairs"))["joins"]
    n_joins = sum(joins[j] for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, f"expected 1 join, plan has {dict(joins)}"


def test_bfs_edges_shuffle_integer_keys(spark, sf_dir, registry_run):
    """graph_bfs_distances: node keys are int64 end-to-end (SCALE rule
    5); the display-label concat appears only above the final
    node-count-sized aggregate, never below a join or distinct."""
    from mincemeatpy_spark.operators.graph import _purchase_edges, _symmetrize

    e = _purchase_edges(spark, sf_dir)
    assert dict(e.dtypes) == {"u": "bigint", "v": "bigint"}
    assert dict(_symmetrize(e).dtypes) == {"u": "bigint", "v": "bigint"}
    full = registry_run("graph_bfs_distances").checked()
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


def _hinted_subtrees(analyzed) -> list:
    """Broadcast-hinted logical subtrees of an ANALYZED plan, where
    forced hints survive as ResolvedHint before AQE gets a vote."""
    if "ResolvedHint" not in analyzed.toString():
        return []
    return [
        n.children().apply(0)
        for n in _walk_jvm(analyzed)
        if n.nodeName() == "ResolvedHint"
    ]


def test_no_broadcast_hint_on_unbounded_word_aggregate(registry_pass):
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
    hinted output regardless of what feeds it.  Only each query's
    returned plan is walked: the status store keeps physical plans
    only, and rule 13 reads analyzed ones."""

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
    for name, run in registry_pass.items():
        if run.analyzed is None:
            continue  # test_registry_pass_covers_every_query names it
        for sub in _hinted_subtrees(run.analyzed):
            bad = _token_aggs_below(sub)
            if bad:
                offenders.setdefault(name, []).extend(sorted(set(bad)))
    assert not offenders, (
        f"rule-13 violation — forced broadcast of vocabulary-scale aggregates: {offenders}"
    )


def test_pagerank_scalars_ride_in_plan(registry_run):
    """graph_pagerank_iter: the node-count scalar rides in-plan as a
    broadcast 1-row aggregate — BUILDING the query launches zero driver
    jobs (no .count() before the main action).  Iterative loop-control
    counts (BFS frontier, CC convergence, the 2iter checkpoints) are
    exempt by design."""
    run = registry_run("graph_pagerank_iter").checked()
    assert run.build_jobs == 0, "building graph_pagerank_iter ran driver-side jobs"
    assert not run.build_plans
    assert "n_nodes" in run.analyzed.toString()  # the in-plan count aggregate


def test_kcore_four_rounds_reach_fixpoint(spark, sf_dir):
    """graph_kcore_peel unrolls exactly 4 peel rounds in both engines and
    its doc claims converged rounds are no-ops — verify the claim: a 5th
    peel round must leave the edge set unchanged at the fixture scale.
    If data growth ever makes 4 rounds a PARTIAL peel, this fails and
    both the loop and the oracle recurrence need one more round (they
    would still agree with each other — which is exactly why the oracle
    gate cannot catch it)."""
    from mincemeatpy_spark.operators.graph import (
        _kcore_peel_round,
        _purchase_edges,
        _symmetrize,
    )

    edges = _symmetrize(_purchase_edges(spark, sf_dir))
    counts = []
    for _ in range(5):
        counts.append(edges.count())
        edges = _kcore_peel_round(edges).localCheckpoint(eager=True)
    n5 = edges.count()
    assert n5 == counts[4], (
        f"5th peel round changed the edge count {counts[4]} -> {n5}: "
        "4 rounds is a partial peel at this scale"
    )


def test_r4_scale_fixes_no_midplan_collect(registry_run):
    """The r3->r4 scale-shape rewrites (sessions_peak_concurrency,
    customer_rfm_segments, orders_gini_coefficient) must stay free of
    mid-plan driver actions: BUILDING each query launches zero jobs.
    Their window-shape pins above guard the two-phase bucketed form;
    this guards the other regression class (a .collect()/.count()
    sneaking back in to compute a bucket boundary or total)."""
    for name in (
        "sessions_peak_concurrency",
        "customer_rfm_segments",
        "orders_gini_coefficient",
    ):
        run = registry_run(name).checked()
        assert run.build_jobs == 0, f"{name}: building the query ran driver jobs"
        assert not run.build_plans, f"{name}: building the query ran SQL executions"


def test_runtime_bloom_filter_actually_injects(spark, sf_dir):
    """join_runtime_bloom_filter's reason to exist: under its conf
    block the executed plan must carry the bloom probe
    (might_contain) on the stream side — otherwise the query is just
    a plain join demo."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.tables import t as tbl

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with _session_conf(spark, confs):
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
    with _session_conf(spark, confs):
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


def test_join_skew_hotkey_salted_structure(registry_run):
    """The salted query's load-bearing structure: the (jk, salt) join
    condition actually carries the salt (else the explode did nothing
    and the hot key still serializes), and the hot-key detection rides
    in-plan (no collect; the broadcast wraps a filtered aggregate that
    is bounded by the n * 20 > total predicate)."""
    run = registry_run("join_skew_hotkey_salted").checked()
    analyzed = run.analyzed.toString()
    assert "fsalt" in analyzed and "dsalt" in analyzed
    # the salted equi-join keys include the salt pair
    assert any(
        "Join [" in l and "fsalt" in l and "dsalt" in l for l in run.plan.splitlines()
    ), run.plan[:1500]
    # hot-set detection is a broadcast join, not a driver collect
    assert "BroadcastExchange" in run.plan
    assert run.build_jobs == 0 and not run.build_plans


def test_pandas_api_rolling_same_plan_as_native(spark, sf_dir, registry_run):
    """pandas_api_rolling's claim: the ps rolling(3) compiles to the
    same physical shape as the native Window query — one hash exchange
    on the grouping key, one Window node — and the results are
    row-for-row identical (the strong form; plan-string equality is
    alias-noise-fragile)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mincemeatpy_spark.tables import t as tbl

    ps_run = registry_run("pandas_api_rolling").checked()
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
    assert Counter(ps_run.rows) == Counter(
        tuple(r) for r in native.select(*ps_run.schema.names).collect()
    )
    nplan = native._jdf.queryExecution().executedPlan().toString()
    for plan, label in ((ps_run.plan, "pandas-api"), (nplan, "native")):
        facts = plan_facts(plan)
        assert sum(facts["exchanges"].values()) == 1, f"{label}: extra shuffle\n{plan[:800]}"
        assert plan.count("Window [") == 1, f"{label}: window count"


def test_pandas_api_merge_same_plan_as_native(spark, sf_dir, registry_run):
    """pandas_api_merge's claim: index-on-index ps.merge plans the
    identical join strategy and exchange count as the native
    equi-join, and agrees row-for-row."""
    from pyspark.sql import functions as F

    from mincemeatpy_spark.tables import t as tbl

    ps_run = registry_run("pandas_api_merge").checked()
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
    assert Counter(ps_run.rows) == Counter(
        tuple(r) for r in native.select(*ps_run.schema.names).collect()
    )

    def join_sig(plan: str):
        facts = plan_facts(plan)
        return sorted(facts["joins"]), facts["exchanges"]

    psig = join_sig(ps_run.plan)
    nsig = join_sig(native._jdf.queryExecution().executedPlan().toString())
    assert psig == nsig, f"pandas-api {psig} != native {nsig}"


def test_weighted_priority_sample_is_two_phase(registry_run):
    # A-ES weighted sampling survives skew the same way the reservoir
    # does: WindowGroupLimit caps each input partition at k rows per
    # lang before the shuffle, so a 100 TB lang partition never funnels
    # raw rows to one task.
    plan = _plan(registry_run, "sample_weighted_priority")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_dsir_bucket_model_broadcast(registry_run):
    # The 64-bucket log-ratio model must reach the per-doc scoring join
    # as a broadcast (it is a fixed-cardinality rollup), and the token
    # explode + hashing stay in codegen — no Python stage anywhere.
    plan = _plan(registry_run, "corpus_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_segment_dedup_shuffles_digest_not_text(registry_run):
    # The global first-instance aggregate must key on xxhash64(segment),
    # never the segment string: every Exchange in the plan hashes the
    # digest (or doc_id for the final rollup) — 'seg' itself appears in
    # no hashpartitioning clause.
    plan = _plan(registry_run, "dedup_segments_bulk")
    assert "xxhash64" in plan
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert not part.strip().startswith("seg#"), part
    assert "EvalPython" not in plan
    # window-min formulation: one digest shuffle + the doc rollup, and
    # no join at all — the aggregate-then-join twin tempts the
    # optimizer into broadcasting an O(corpus) firsts table.
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_url_parse_single_scan_no_python(registry_run):
    # parse_url is a JVM expression: one documents scan, no Python.
    plan = _plan(registry_run, "corpus_url_parse_stats")
    assert "EvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_dsir_resample_topk_is_take_ordered(registry_run):
    # Gumbel top-k selection must compile to TakeOrderedAndProject
    # (map-side partial top-k), never a global Sort + single partition.
    plan = _plan(registry_run, "corpus_dsir_resample")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # the 64-bucket model stays broadcast


def test_segments_bulk_skewed_absorbs_hot_key(registry_run):
    """dedup_segments_bulk_skewed (r8): the skew-robust first-instance
    rule must be (a) a two-phase hash aggregation of min(inst_key) —
    partial combine absorbs the planted boilerplate digest map-side —
    and (b) a SHUFFLED hash join back on the digest, never a broadcast
    of the O(corpus) firsts table."""
    plan = _plan(registry_run, "dedup_segments_bulk_skewed")
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert "BroadcastHashJoin" not in plan
    # two-phase min: a partial_min below the exchange, a final min above
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


def test_sort_limit_offset_no_global_sort(registry_run):
    """sort_limit_offset: offset+limit must execute as
    TakeOrderedAndProject(limit=offset+limit, offset=offset) — the
    per-partition top-k shape — never a global Exchange-then-Sort of
    the whole table."""
    plan = _plan(registry_run, "sort_limit_offset")
    assert "TakeOrderedAndProject(limit=60, offset=40" in plan, plan[:1200]
    assert "Exchange rangepartitioning" not in plan


def test_groupingsets_df_api_expand(registry_run):
    """agg_groupingsets_df_api compiles to the same Expand-operator
    shape as the SQL GROUPING SETS form: one scan, Expand, two-phase
    aggregate."""
    plan = _plan(registry_run, "agg_groupingsets_df_api")
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_market_basket_rules_vocab_joins_broadcast(registry_run):
    """market_basket_rules: the item-count joins are against the
    bounded item vocabulary and must broadcast; the only shuffled join
    is the within-basket pair generation."""
    plan = _plan(registry_run, "market_basket_rules")
    assert "BroadcastHashJoin" in plan


def test_video_corpus_dedupes_before_decode(registry_run):
    # pipeline_video_corpus's 100 TB ordering: the sha2 digest
    # aggregation (dedupe) must sit BETWEEN the encode stage and the
    # decode stage, so only unique payloads reach the codec.  Three
    # MapInArrow stages total (encode, decode; the explode side reuses
    # the cached decode), and the digest HashAggregate appears after
    # the first Python stage but before the second in the plan tree —
    # i.e. the decode stage's subtree CONTAINS the aggregate while the
    # encode stage's does not.
    plan = _plan(registry_run, "pipeline_video_corpus")
    assert "CartesianProduct" not in plan
    # the digest dedupe is a real shuffle on sha2 output
    assert "sha2" in plan
    # plans print top-down (sink first): the decode Python stage must
    # print BEFORE the digest-keyed exchange, which must print BEFORE
    # the encode Python stage — i.e. decode consumes the deduped set.
    d = plan.find("MapInArrow decode")
    x = plan.find("Exchange hashpartitioning(digest")
    e = plan.find("MapInArrow encode")
    assert -1 not in (d, x, e), plan[:800]
    assert d < x < e, "digest dedupe is not between encode and decode"


def test_codec_roundtrips_are_one_narrow_python_stage(registry_run):
    # every round-trip codec query: exactly one mapInArrow stage that
    # encodes and decodes each row in the same pass — no second Python
    # hop, no joins, no cartesian anything; all but the first four run
    # over a repartitioned 16-byte/row projection.
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
        plan = _plan(registry_run, name)
        facts = plan_facts(plan)
        assert facts["python"] == {"MapInArrow": 1}, name
        assert "MapInArrow roundtrip" in plan, name
        assert not facts["joins"], name
        if name in repartitioned:
            assert facts["exchanges"], name  # the parallelism repartition


def test_multimodal_python_stages_are_arrow_row_stages(registry_run):
    # every Python stage of every multimodal query is a mapInArrow row
    # stage (roundtrip._row_stage): no query converts through pandas.
    names = sorted(
        n for n, q in load_all_queries().items() if q.category == "multimodal"
    )
    assert len(names) == 30, names
    for name in names:
        python = plan_facts(_plan(registry_run, name))["python"]
        assert set(python) <= {"MapInArrow"}, (name, python)


def test_html_extract_is_scan_side(registry_run):
    """r12: the HTML→text extraction must be pure scan-side codegen —
    ZERO exchanges (no shuffle, no Python) — and read only the two
    columns the synthesis uses."""
    plan = _plan(registry_run, "text_html_extract")
    # r13 optimization round: the ONLY allowed exchange is the
    # scale-adaptive fan_out round-robin repartition (parallelism off a
    # single-row-group fixture scan; a no-op at production scale) — the
    # multimodal codec queries' precedent.  Still no KEYED shuffle and
    # no Python anywhere in the extraction.
    # ADVICE r13 item 4: assert the positive shape (exactly one
    # Exchange, and it is round-robin) instead of deny-listing exchange
    # kinds — a future unexpected exchange type must FAIL, not pass
    # silently.
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["RoundRobinPartitioning"], (
        f"extraction must carry exactly one round-robin exchange "
        f"(the fan_out), got {exchanges}"
    )
    assert "EvalPython" not in plan and "InPandas" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_web_corpus_single_digest_exchange(registry_run):
    """r12: the fused WARC→extract→lang-ID→gate→dedup composite's ONLY
    exchange is the digest-keyed dedup hash partitioning (plus AQE's
    final coalesce reading it) — the whole front of the pipeline is
    map-only."""
    plan = _plan(registry_run, "pipeline_web_corpus")
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


def test_link_graph_two_phase_agg(registry_run):
    """r12: web_link_graph must partial-aggregate map-side (per-page
    duplicate edges collapse before the wire).  count(DISTINCT doc_id)
    plans as Spark's canonical two-exchange distinct aggregate — one
    exchange on (edge, doc_id), one on the edge key — and BOTH must
    consume partially-aggregated rows, never raw exploded links."""
    plan = _plan(registry_run, "web_link_graph")
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


def test_triplet_mining_broadcasts_anchor_batch(registry_run):
    """r12: both triplet-mining twins broadcast the bounded anchor
    batch — the corpus side must never be broadcast or cartesian."""
    for q in ("embedding_triplet_mining", "embedding_triplet_mining_ivf"):
        plan = _plan(registry_run, q)
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
