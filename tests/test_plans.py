"""Physical-plan assertions: the scale properties the engine promises
(SURVEY.md §4) must be visible in the executed plan, not just intended.
A regression that silently drops a broadcast, un-pushes a filter, or
breaks whole-stage codegen fails here long before it costs wall-clock at
100 TB."""

from __future__ import annotations

import pytest

from newsflow import registry
from tests.conftest import SF_ORACLE

SPECS = registry.all_specs()


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_of(spark, name: str) -> str:
    return executed_plan(SPECS[name].build(spark, SF_ORACLE))


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "regional_customer_stats")
    # nation and region are broadcast — no shuffle of the customer fact.
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_anti_join_shape(spark):
    plan = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_semi_join_shape(spark):
    plan = plan_of(spark, "customers_with_orders")
    assert "LeftSemi" in plan


def test_topk_plans_take_ordered_not_full_sort(spark):
    plan = plan_of(spark, "top_sources")
    assert "TakeOrderedAndProject" in plan


def test_flagship_agg_is_partial_plus_final_codegen(spark):
    df = SPECS["pricing_summary"].build(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Hierarchical exact agg (functions/exactagg.py): partial (map-side)
    # + final hash aggregation at each of the two levels. Two exchanges,
    # but both move only pre-aggregated rows — level 1 collapses each
    # scan partition to |groups| rows before its exchange, level 2
    # shuffles |groups| x |partitions| partial sums.
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 2
    # Whole-stage-codegen markers ("*(n)") appear once AQE finalizes —
    # collect() executes THIS df's queryExecution (a write would plan a
    # fresh one), then the final plan shows the codegen stages.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final and "isFinalPlan=true" in final


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    # lineitem has 11 columns; the scan must read only the 5 used.
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    for unused in ("l_partkey", "l_suppkey", "l_shipdate", "l_tax"):
        assert unused not in scan, f"unpruned column {unused}"


def test_flag_filter_pushed_to_parquet(spark):
    plan = plan_of(spark, "segment_in_list")
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PushedFilters" in scan
    assert "In(c_mktsegment" in scan


def test_partition_count_respects_session_conf(spark):
    # AQE may coalesce below the conf, never above it.
    df = SPECS["pricing_summary"].build(spark, SF_ORACLE)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() <= n


@pytest.mark.parametrize(
    "name", ["doc_quality_scores", "modality_counts", "doc_period_classify"]
)
def test_text_batteries_stay_udf_free(spark, name):
    """The native-expression promise: no BatchEvalPython / ArrowEvalPython
    stages in the text/NLP hot paths."""
    plan = plan_of(spark, name)
    assert "EvalPython" not in plan


def test_decorrelated_thresholds_broadcast(spark):
    # Scalar-subquery and correlated-subquery rewrites must broadcast the
    # aggregate side — a shuffle of the fact table here would be the
    # 100 TB bottleneck the rewrite exists to avoid.
    assert "BroadcastNestedLoopJoin" in plan_of(spark, "orders_above_global_avg")
    plan = plan_of(spark, "parts_above_brand_avg")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_outer_join_shapes_preserved(spark):
    assert "FullOuter" in plan_of(spark, "daily_funnel_reconciliation")
    assert "LeftOuter" in plan_of(spark, "customer_order_histogram")


def test_q3_shape_broadcasts_dim_and_takes_ordered(spark):
    plan = plan_of(spark, "shipping_priority_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_curation_lang_gate_pushed_to_scan(spark):
    """The curation funnel's language filter must reach the parquet scan
    (cheap gates below everything), and the whole pipeline must stay
    JVM-side. The gate runs where the keeper table is built; the
    registered query reads the cached table."""
    from newsflow.curation import build_curated
    from newsflow.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = executed_plan(build_curated(docs))
    assert "EqualTo(lang,en)" in plan
    for stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert stage not in plan


def test_q18_aggregates_lineitem_once(spark):
    """The Q18 rewrite must not re-aggregate lineitem for the IN-subquery:
    exactly one aggregation pair (partial+final) over l_quantity."""
    plan = plan_of(spark, "large_order_customers")
    # One partial + one final hash aggregate on the sum; a naive
    # subquery translation would show four.
    assert plan.count("HashAggregate") == 2


def test_token_budget_has_no_global_single_partition_window(spark):
    """The doc-level cumulative window must be partitioned (by bucket) —
    a Window with an empty partition spec over the corpus would print a
    'Window' whose partition list is empty alongside an Exchange
    SinglePartition over the doc rows. Only the bounded bucket table may
    use the un-partitioned window."""
    plan = plan_of(spark, "corpus_token_budget_sample")
    assert "windowspecdefinition(qb" in plan or "partitionBy" not in plan
    # The corpus-side exchanges hash-partition; any SinglePartition
    # exchange must carry only the tiny bucket aggregate, which AQE
    # reports with a tiny row estimate — assert the doc window itself is
    # keyed on qb.
    assert "Window [sum(n_tokens" in plan and "qb" in plan


def test_bm25_stats_broadcast_and_udf_free(spark):
    """BM25's corpus-stats crossJoin must broadcast the 1-row aggregate
    (BroadcastNestedLoopJoin), and the whole scoring path stays native."""
    plan = plan_of(spark, "bm25_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_df_side_broadcasts(spark):
    """The vocabulary-bounded df table must broadcast into the tf side —
    a SortMergeJoin keyed on the term would shuffle the corpus twice."""
    plan = plan_of(spark, "doc_tfidf_keywords")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_unigram_lm_broadcasts(spark):
    plan = plan_of(spark, "doc_unigram_nll")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_embedding_health_udf_free_and_broadcast(spark):
    for name in (
        "embedding_dim_stats",
        "embedding_int8_quant_error",
        "embedding_norm_profile",
    ):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, name
    # the 64-row per-dim scale table joins broadcast
    assert "BroadcastHashJoin" in plan_of(spark, "embedding_int8_quant_error")


def test_triangle_join_is_hash_not_cartesian(spark):
    plan = plan_of(spark, "org_triangle_counts")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_transitions_single_user_shuffle_no_python(spark):
    """event_type_transitions promises ONE corpus-sized shuffle (the
    per-user lead window); the later count + normalization windows run
    over |event_types|^2 rows. Assert the plan is UDF-free and contains
    no cartesian product, and that exactly one Exchange partitions by
    user_id (the lead window's)."""
    plan = plan_of(spark, "event_type_transitions")
    assert "EvalPython" not in plan and "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_cohort_retention_joins_on_user_only(spark):
    """cohort_retention's join and both aggregations key on user_id /
    tiny cohort keys — no broadcast of the event-sized side, no Python."""
    plan = plan_of(spark, "cohort_retention")
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


def test_runtime_bloom_filter_fires_on_selective_smj(spark):
    """Runtime semi-join reduction: when a selective dimension filter
    feeds a shuffle join, Spark injects a bloom filter built from the
    filtered side into the fact side's scan (`might_contain`), dropping
    non-joining rows BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    matching fraction. The feature is on by default
    (`spark.sql.optimizer.runtime.bloomFilter.enabled=true`) but gated
    by size thresholds tuned for real tables (application side >= 10 GB
    scan); this test lowers the thresholds to prove the plan shape is
    available and correctly wired on our session."""
    import pyspark.sql.functions as F  # noqa: F401

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = (
            spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
            .filter("o_orderpriority = '1-URGENT'")
        )
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), (
            "runtime bloom filter did not fire on the selective join"
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_topk_has_no_corpus_sized_global_sort(spark):
    """Round-4 finding: WindowGroupLimit rank pushdown never fires for an
    EMPTY partition spec, so filter(rank<=K) over a global window was a
    full single-partition sort of the per-doc score frame. The two-stage
    form must plan a TakeOrderedAndProject for the corpus-sized stage;
    the only remaining window input is the K-row top set."""
    plan = plan_of(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan


def test_tokenizer_vocab_rank_is_partitioned(spark):
    """tokenizer_vocab's id assignment must not funnel the distinct-token
    frame (vocabulary-proportional) through one task: the ranking window
    in the plan must be partitioned (_pid), with the range repartition
    hidden behind the distributed_rank checkpoint."""
    plan = plan_of(spark, "tokenizer_vocab")
    import re
    matches = list(re.finditer(r"windowspecdefinition\(([^)]*)\)", plan))
    assert matches, "no window found in plan — test would pass vacuously"
    for m in matches:
        assert "_pid" in m.group(1), f"unpartitioned window: {m.group(0)[:120]}"


def test_approx_bounds_sketches_never_keyed_by_distinct_column(spark):
    """The distinct-rewrite trap (BENCH_sf1.md round-5): mixing
    countDistinct with sketch aggregates in ONE agg() keys the sketch
    ObjectHashAggregates by (group, custkey) — one sketch instance per
    distinct customer (30.7 s vs 0.7 s at sf1). The shipped plan keeps
    the sketches in aggregates keyed by the group column only; any
    future merge back into a single agg() reintroduces the
    custkey-keyed sketch stage and fails here."""
    import re

    df = SPECS["orders_approx_bounds"].build(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # Walk the formatted operator details: every ObjectHashAggregate
    # (the sketch buffers) must have a 1-column Keys list.
    blocks = re.split(r"\n\n", plan)
    sketch_keys = [
        m.group(1)
        for b in blocks
        if "ObjectHashAggregate" in b
        for m in re.finditer(r"Keys \[(\d+)\]", b)
    ]
    assert sketch_keys, "expected sketch aggregates in the plan"
    assert all(k == "1" for k in sketch_keys), (
        f"sketch aggregate keyed by more than the group column: {plan}"
    )


def test_span_rewrite_no_python_no_cartesian(spark):
    """Round-6 span rewrite: fully JVM-side, no cartesian product, and
    the final doc-keyed attach of removal starts joins — the rewrite
    itself must be expression-level, not a corpus-token shuffle."""
    plan = plan_of(spark, "span_dedup_rewrite")
    assert "Cartesian" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_incremental_neardup_no_cartesian_udf_free(spark):
    """The batch-vs-index probe must be an equi-join on (band, key) —
    never a cartesian — and stay JVM-side."""
    plan = plan_of(spark, "incremental_neardup_new_docs")
    assert "Cartesian" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_dsir_ratio_join_broadcasts(spark):
    """The bucket log-ratio table (<= 4096 rows by construction) must
    broadcast onto the per-doc bucket counts — the corpus-sized side
    never shuffles for the ratio attach. The join runs where the
    weights are built; the registered query reads the cached weights."""
    from newsflow.selection import _dsir_weights
    from newsflow.tables import load_table, spread

    docs = spread(load_table(spark, SF_ORACLE, "documents"))
    plan = executed_plan(_dsir_weights(docs))
    assert "BroadcastHashJoin" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_pq_adc_scan_broadcasts_queries(spark):
    """PQ/ADC: the query-side lookup tables broadcast; the corpus codes
    scan is never shuffled for scoring; everything JVM-side."""
    plan = plan_of(spark, "knn_cosine_pq")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_ivfpq_probe_join_is_cell_keyed(spark):
    """IVF-PQ: candidates come from an equi-join on the cell id (the
    layout key) — no cartesian, no Python."""
    plan = plan_of(spark, "knn_cosine_ivfpq")
    assert "Cartesian" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_rag_rerank_pool_scoring_broadcasts_token_frames(spark):
    """MaxSim re-rank: the pool-bounded token frames broadcast onto the
    candidate pool (the cross scoring never shuffles), no cartesian
    product, and the whole funnel — retrieval ladder included — stays
    JVM-side."""
    plan = plan_of(spark, "rag_rerank_maxsim")
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_filtered_ann_pushes_filter_below_probe(spark):
    """knn_cosine_filtered's licence predicate must reach the CORPUS
    side as a semi-join BEFORE candidates form (round 13): the plan has
    a LeftSemi against the documents-derived allowed set, the documents
    scan carries the pushed source-IN filter, and there is no cartesian
    anywhere. Post-filter-of-top-k would show neither."""
    plan = plan_of(spark, "knn_cosine_filtered")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # The source IN-list reaches the documents parquet scan.
    assert "PushedFilters" in plan and "src0" in plan


def test_cms_streamed_estimates_broadcast(spark):
    """The persisted-sketch routing must attach estimates via broadcast
    hash joins (row-local, no shuffle of the signature stream) and the
    lag guard must not introduce a cartesian."""
    plan = plan_of(spark, "minhash_near_dup_pairs_cms_streamed")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
