"""Plan-quality regression tests: the physical properties the engine
is designed around must survive refactors (SURVEY §4 / README rules).
"""

import pytest


@pytest.fixture(scope="module")
def plans(spark):
    import sec_edgar_spark.queries as Q

    qs = Q.queries()
    sf = "/root/testdata/sf0.001"

    def plan(name):
        # Materialized .cache()s from earlier tests change how the plan
        # PRINTS (InMemoryRelation blocks re-print their stored subtree
        # per consumer, inflating naive operator counts) without
        # changing what executes.  Build every plan cache-cold so the
        # assertions below see the canonical shape regardless of test
        # ordering.
        spark.catalog.clearCache()
        df = qs[name](spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan


def test_q1_filter_and_projection_pushed(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: only the 7 needed columns reach the scan
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs and "l_shipdate" in rs


def test_q5_broadcasts_dims(plans):
    p = plans("q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 3  # supplier/nation/region at least


def test_topk_uses_window_group_limit(plans):
    assert "WindowGroupLimit" in plans("l1_topk_per_group")


def test_global_topk_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("sort_limit_global")


def test_cik_resolution_broadcasts(plans):
    assert "BroadcastHashJoin" in plans("edgar_cik_resolution")


def test_lsh_candidates_no_cartesian(plans):
    p = plans("dedup_minhash_lsh_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_jaccard_hot_filter_broadcasts(plans):
    p = plans("dedup_ngram_jaccard_pairs")
    # df-cap anti-join against the hot-shingle set must broadcast,
    # and no stage may be a cartesian product.
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_pagination_truncation_uses_window_group_limit(plans):
    p = plans("edgar_company_pagination")
    assert "WindowGroupLimit" in p


def test_ivf_topk_broadcasts_queries_no_cartesian(plans):
    p = plans("ann_ivf_topk")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_percentile_approx_partial_aggregates(plans):
    p = plans("agg_percentiles_approx")
    # mergeable sketch -> map-side partial + final hash aggregate
    assert p.count("HashAggregate") >= 2


def test_embedding_cosine_no_nested_loop(plans):
    # r3 regression class: the exact cosine-threshold dedup must be the
    # block-partitioned equi-join, never a corpus-sized broadcast theta
    # join (BroadcastNestedLoopJoin) or a cartesian.
    p = plans("dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the arrow backend cogroups the block-pair keys (one Arrow exchange
    # per side, blocks transferred once — never a materialized pair
    # table); the expr backend would show a hash equi-join instead
    assert "FlatMapCoGroupsInPandas" in p or any(
        j in p for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_asof_join_no_nested_loop(plans):
    p = plans("events_asof_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_range_join_bucketed_equi_join(plans):
    p = plans("events_range_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_curation_split_is_scan_plus_project_only(plans):
    p = plans("curation_split_train_val_test")
    # stateless projection: no shuffle at all
    assert "Exchange" not in p


def test_funnel_single_window_no_self_join(plans):
    # next-purchase lookup must be ONE window over the stream, never a
    # per-view self-join or cartesian
    p = plans("events_funnel_conversion")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 1 and "Join" not in p


def test_retention_no_cartesian(plans):
    p = plans("events_retention_cohorts")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_chunk_overlap_hash_joins_only(plans):
    p = plans("dedup_chunk_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_domain_mix_quota_broadcasts(plans):
    p = plans("curation_domain_mix")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q4_semi_join_shape(plans):
    p = plans("q4_late_orders")
    assert "LeftSemi" in p and "BroadcastNestedLoopJoin" not in p


def test_q16_anti_join_shape(plans):
    p = plans("q16_never_shipped")
    assert "LeftAnti" in p and "CartesianProduct" not in p


def test_p99_outliers_broadcasts_cutoffs(plans):
    p = plans("events_p99_outliers")
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p


def test_ri_audit_no_cartesian(plans):
    p = plans("audit_referential_integrity")
    assert "CartesianProduct" not in p
    assert p.count("LeftAnti") >= 4


def test_q8_market_share_broadcasts_all_dims(plans):
    p = plans("q8_market_share")
    # customer/nation×2/region/supplier broadcast; the only shuffle
    # join is lineitem↔orders on orderkey
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_q10_pushes_returnflag_and_dates(plans):
    p = plans("q10_returned_items")
    assert "EqualTo(l_returnflag,R)" in p.replace(" ", "") or "l_returnflag" in p
    assert "TakeOrderedAndProject" in p  # top-20 never global-sorts


def test_q13_outer_join_keeps_zero_customers(plans):
    p = plans("q13_customer_distribution")
    assert "LeftOuter" in p
    assert "CartesianProduct" not in p


def test_q15_single_fact_scan(plans):
    p = plans("q15_top_supplier")
    # the MAX comes from a window over the aggregated per-supplier
    # frame — lineitem must be scanned exactly once (the agg+join-back
    # alternative recomputes the aggregate: no exchange reuse)
    assert p.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in p  # supplier dim
    assert "CartesianProduct" not in p


def test_q17_decorrelated_single_avg_pass(plans):
    p = plans("q17_small_quantity_revenue")
    # per-part avg computed once and joined — no correlated re-scan per
    # row: lineitem appears at most twice (fact + avg build)
    assert p.count("CartesianProduct") == 0


def test_q21_semi_and_anti_on_same_fact(plans):
    p = plans("q21_waiting_supplier")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q22_anti_join_and_broadcast_threshold(plans):
    p = plans("q22_idle_balances")
    assert "LeftAnti" in p
    # the global-average single row arrives via broadcast
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_pq_adc_no_corpus_cartesian(plans):
    p = plans("ann_pq_adc_topk")
    # training crossJoins are k-row broadcast centroid frames; the ADC
    # scoring path must be an equi-join on (sub, code) with the LUT
    # broadcast — the corpus never cartesians
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_semantic_dedup_cell_equi_join(plans):
    # pair enumeration must ride the cluster-cell equi-join (the whole
    # point of SemDeDup pruning) — never a cartesian.  The only nested
    # loops allowed are the k-means centroid broadcasts (k-row frames,
    # always `BroadcastNestedLoopJoin BuildRight, Cross`); a corpus-
    # sized theta-join BNLJ would show as Inner with a condition.
    p = plans("dedup_semantic")
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    # scoring rides the cell-keyed cogrouped Arrow scorer: one group
    # exchange, rows transferred once, never a materialized pair table
    assert "FlatMapGroupsInPandas" in p


def test_random_projection_stateless_map(plans):
    # JL projection is a pure per-row fold: no exchange of the corpus,
    # no join, no aggregate anywhere in the plan.
    p = plans("emb_random_projection")
    assert "Join" not in p
    assert "HashAggregate" not in p


def test_surprisal_no_python_udf(plans):
    # bit-length surprisal stays JVM-side end-to-end.
    p = plans("text_surprisal_score")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_q9_broadcasts_all_dims(plans):
    p = plans("q9_product_profit")
    assert p.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "CartesianProduct" not in p


def test_bigram_pmi_no_cartesian_take_ordered(plans):
    # bigrams assemble per row (slices + zip_with — no join); the two
    # vocab joins are equi-joins and top-100 is a TakeOrdered, never a
    # global sort materialization of the pair table
    p = plans("text_bigram_pmi")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_vocab_growth_two_aggs_tiny_window(plans):
    # the corpus feeds exactly two hash aggs (per-bucket occurrence
    # counts + vocab min(doc_id)); the window runs on the 10-row spine
    p = plans("text_vocab_growth")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # maxid joins in as a broadcast scalar, never a shuffle
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_sliding_daily_single_agg_no_self_join(plans):
    # the 2-day/1-day hop expands via the window generator into ONE
    # hash agg — a self-join formulation would scan events twice
    p = plans("events_sliding_daily")
    assert p.count("events.parquet") == 1
    assert "Join" not in p
    assert "HashAggregate" in p


def test_ngram_novelty_no_python_no_cartesian(plans):
    # shingles form per row in a single higher-order transform (the
    # slice+array_join body — see functions/text.shingles); identity
    # resolution is a shingle-keyed min agg + equi-join back
    p = plans("text_ngram_novelty")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_cluster_quality_broadcast_no_pairwise(plans):
    # cohesion pass joins the k-row centroid frame by broadcast; the
    # only theta join is the k×k centroid self-join — the corpus never
    # pairs with itself
    p = plans("ml_cluster_quality")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_triangle_count_equi_joins_only(plans):
    # wedge + closure are equi/semi joins on vertex keys — no
    # cartesian anywhere in the composed LSH + triangle plan
    p = plans("graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p


def test_phrase_merge_broadcast_pair_no_cartesian_blowup(plans):
    # each round's learned pair joins as a 1-row broadcast (Cross BNLJ
    # on a broadcast single row is fine); the corpus never cartesians
    # with anything its own size
    p = plans("text_phrase_merge")
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_mad_outliers_broadcast_back_no_window(plans):
    # both aggregate levels broadcast back over the events scan — no
    # window sort of the fact, no cartesian
    p = plans("events_mad_outliers")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_parquet_aggregate_pushdown(spark):
    """With spark.sql.parquet.aggregatePushdown, MIN/MAX/COUNT over an
    unfiltered parquet scan answer from row-group STATISTICS — the scan
    reads footers, not data (at 100 TB: metadata-only).  The engine's
    profiling entry points rely on this being available."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # aggregate pushdown is a DSv2 feature; route parquet through V2
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("l_orderkey").alias("lo"),
                F.max("l_orderkey").alias("hi"),
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan and "COUNT(*)" in plan
        r = df.collect()[0]
        assert r.n > 0 and r.lo <= r.hi
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_new_scalepat_queries_plan_shapes(plans):
    """Session-3 battery: bloom probe broadcasts (never shuffles the
    fact side first), the salted join has no cartesian, the seasonal
    screen broadcasts its threshold frame."""
    p = plans("j_bloom_prefilter")
    assert "Broadcast" in p and "CartesianProduct" not in p
    p2 = plans("j_salted_skew_join")
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2
    p3 = plans("events_seasonal_anomaly")
    assert "BroadcastHashJoin" in p3


def test_shuffle_budgets_pinned(plans):
    """Shuffle-count ceilings for the headline shapes — at 100 TB every
    Exchange is the dominant cost, so a refactor that silently adds one
    (a lost broadcast, a redundant repartition, a window that stopped
    sharing its sort) must fail CI, not surface in a bench regression
    three rounds later.  Ceilings are the measured counts at HEAD
    (sf0.001, AQE plans); broadcast exchanges are free-ish and not
    capped here."""
    import re

    # (hash/range/single ceiling, RoundRobin ceiling).  The second is
    # the scan spread (catalog.table spread=True): at sf0.001 the
    # 500-row documents file is one scan task, so a spread query gets
    # one RoundRobin exchange per reference of its spread scan; a
    # query that does not spread gets none.
    budgets = {
        "q1_pricing_summary": (1, 0),    # ONE partial+final agg shuffle
        "q3_shipping_priority": (1, 0),  # both dims broadcast; one agg
        "dedup_exact": (1, 0),           # hash groupBy only
        "a1_group_collect": (1, 0),
        "events_sessionize": (1, 0),     # per-user window shares one sort
        "edgar_index_pipeline": (1, 0),
        "text_quality_filter": (1, 2),
        "text_fingerprint": (1, 1),
        "q18_large_orders": (1, 0),      # semi-join rides the agg partition
        "events_tumbling_daily": (2, 0),
        # sig agg + band join + verify; the spread scan has 4 references
        "dedup_minhash_lsh_pairs": (5, 4),
    }
    over = {}
    for name, caps in budgets.items():
        p = plans(name)
        got = (
            len(re.findall(r"Exchange (hash|range|Single)", p)),
            len(re.findall(r"Exchange RoundRobin", p)),
        )
        if got[0] > caps[0] or got[1] > caps[1]:
            over[name] = (got, caps)
    assert not over, f"shuffle budget exceeded (got, cap): {over}"


# NOTE (r9): the per-query exact-pin enforcement that lived here
# (test_headline_shuffle_counts_pinned_exactly, 112 inline pins) moved
# to tools/plan_pins.json covering the ENTIRE registry — drift is now a
# hard flag inside tools/plan_audit.audit() and is asserted by
# tests/test_plan_audit.py::test_no_hard_antipatterns_anywhere, with a
# fast no-Spark completeness gate (test_pin_file_covers_registry_exactly).
