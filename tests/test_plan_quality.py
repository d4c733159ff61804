"""Physical-plan quality gates for headline queries.

The engine's scale story is only real if the plans show it: filters reach
the parquet scans, projections prune columns, small dimensions broadcast,
top-k avoids global windows, and nothing falls back to cartesian products
or row-at-a-time Python.  These tests pin those properties so a regression
in query construction (or a Spark upgrade changing defaults) fails loudly.
"""

import re

import pytest

from arthur_redshift_etl_spark.plans.lint import plan_text
from arthur_redshift_etl_spark.workload import REGISTRY

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    return plan_text(REGISTRY[name].fn(spark, SF))


def test_q06_pushdown_and_pruning(spark):
    p = plan(spark, "q06_forecast_revenue")
    # predicates reach the scan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan", p), p
    # projection pruned: the scan reads only the 4 needed lineitem columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and len(m.group(1).split(",")) <= 4, m.group(1) if m else p


def test_star_join_broadcasts_dimensions(spark):
    p = plan(spark, "q05_region_nation_revenue")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_revenue_by_nation_no_cartesian_no_python(spark):
    p = plan(spark, "revenue_by_nation")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p  # no row-at-a-time Python in the hot path


def test_top_customers_uses_take_ordered_not_global_window(spark):
    p = plan(spark, "top_customers_window")
    assert "TakeOrderedAndProject" in p, p
    # the window consumes the top-k output (appears above TakeOrdered in the
    # tree), and nothing funnels the full aggregate into one partition
    tree = p.split("(1) Scan")[0]
    assert tree.index("Window") < tree.index("TakeOrderedAndProject"), tree
    assert "Exchange SinglePartition" not in p, p


def test_q01_partial_aggregation(spark):
    p = plan(spark, "q01_pricing_summary")
    # map-side combine: two HashAggregates (partial + final)
    assert len(re.findall(r"HashAggregate", p)) >= 2, p


def test_first_touch_is_aggregate_not_window_sort(spark):
    p = plan(spark, "first_touch_attribution")
    assert "Window" not in p, p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_q03_no_single_partition_funnel(spark):
    p = plan(spark, "q03_top_orders")
    assert "Exchange SinglePartition" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_cdc_sorts_within_partitions_only(spark):
    p = plan(spark, "cdc_latest_event")
    # window sort must be per-partition (global=false): no all-data sort
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_whole_stage_codegen_present(spark):
    # codegen spans appear in the executed adaptive plan
    df = REGISTRY["q03_top_orders"].fn(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the *(N) whole-stage marker
    assert re.search(r"\*\(\d+\)", executed), executed[:2000]


def test_jaccard_verify_is_row_local_not_join_explosion(spark):
    """Near-dup verification must intersect shingle sets row-locally
    (array_intersect after id-equi-joins), never by re-joining the full
    shingle table on the shingle key — the |pairs| x |set| explosion."""
    p = plan(spark, "dedup_minhash_lsh")
    assert "array_intersect" in p, p
    # the candidate-id semi filter broadcasts the (small) pair-id list
    assert "BroadcastHashJoin" in p, p


def test_reconcile_diff_single_cogrouped_join(spark):
    """Table diff is one full-outer sort-merge join on the key — value
    compare stays in the projection, no second pass over either input."""
    p = plan(spark, "reconcile_orders_drift")
    # formatted explain prints each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) == 1, p
    assert "Cartesian" not in p, p


def test_weighted_sample_pushes_to_scan(spark):
    """The weighted-sample predicate is scan-adjacent: no shuffle at all."""
    p = plan(spark, "weighted_sample_orders")
    assert "Exchange" not in p, p


def test_decontaminate_broadcasts_eval_side(spark):
    p = plan(spark, "decontaminate_ngram_overlap")
    # the eval shingle set must broadcast; the train side never sort-merges
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p


def test_quality_funnel_single_scan_no_join(spark):
    p = plan(spark, "corpus_quality_funnel")
    # one scan of documents, one global aggregate pair, no join anywhere
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Join" not in p, p


def test_pack_sequences_windows_are_sharded(spark):
    p = plan(spark, "corpus_pack_sequences")
    # the cumsum window partitions by shard — never a single-partition funnel
    assert "Exchange SinglePartition" not in p, p


def test_ntile_has_no_global_window(spark):
    """Exact NTILE must come from the two-phase distributed rank: the only
    window sorts within spark_partition_id partitions, and nothing funnels
    the data through a single task (VERDICT r01 item 2)."""
    p = plan(spark, "ntile_chars_quartiles")
    assert "Exchange SinglePartition" not in p, p
    # no partition-less window: every Window node must carry a partition spec
    for m in re.finditer(r"\(\d+\) Window", p):
        tail = p[m.start() : m.start() + 400]
        assert "__pid" in tail, tail


def test_q11_q22_single_plan_no_driver_collect(spark):
    """Scalar thresholds are broadcast 1-row aggregates inside ONE plan."""
    for name in ("q11_important_stock", "q22_global_sales_opportunity"):
        p = plan(spark, name)
        assert "BroadcastNestedLoopJoin" in p, p
        assert "CartesianProduct" not in p, p


def test_identity_default_is_distributed(spark):
    """with_identity's default must not be the single-task global window on
    multi-partition input (VERDICT r01 item 6)."""
    from arthur_redshift_etl_spark.operators.identity import with_identity
    from arthur_redshift_etl_spark.plans.lint import plan_text
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 8).select(F.col("id").alias("k"))
    out = with_identity(df, "row_id", ["k"])
    p = plan_text(out)
    assert "Exchange SinglePartition" not in p, p
    ids = [r["row_id"] for r in out.orderBy("k").collect()]
    assert ids == list(range(1, 1001))


def test_domain_mix_broadcasts_rates(spark):
    p = plan(spark, "corpus_domain_mix_resample")
    # per-domain rates re-enter the big side via broadcast joins
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p


def test_q18_preaggregates_lineitem_below_joins(spark):
    # Q18's group-sum + HAVING > 150 must run on lineitem ALONE, before the
    # orders/customer joins: the filter leaves a tiny survivor set, so the
    # joins shuffle survivors instead of the full 3-way join (VERDICT r2 #2).
    p = plan(spark, "q18_large_orders")
    agg = re.search(r"\((\d+)\) HashAggregate", p)
    joins = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", p)]
    assert agg and joins, p
    # operator ids number leaves-first in the formatted tree, so the
    # aggregate feeding the joins must have a LOWER id than every join
    assert int(agg.group(1)) < min(joins), p


def test_duplicated_spans_partial_agg_on_hash_key(spark):
    # span inventory: the gram-hash groupBy must partial-aggregate map-side
    # (uniform md5 key), and nothing may funnel to a single partition
    p = plan(spark, "dedup_duplicated_spans")
    assert len(re.findall(r"HashAggregate", p)) >= 2, p
    assert "Exchange SinglePartition" not in p, p
    assert "CartesianProduct" not in p


def test_semantic_dedup_broadcasts_centroids(spark):
    # cluster assignment must broadcast the k centroids, never shuffle the
    # corpus against them; the within-cluster pair join is the only
    # corpus-sized exchange
    p = plan(spark, "semantic_dedup_clustered")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_topk_per_group_no_whole_group_sort(spark):
    """Both phases of sample_topk_per_group partition their windows (by
    (group, shard) then group-over-survivors); no single-partition funnel
    and every Window node carries a partition spec."""
    p = plan(spark, "sample_topk_per_group")
    assert "Exchange SinglePartition" not in p, p
    assert "Window" in p  # the two-phase ranking is window-based
    # phase-1 window must include the shard column in its partition spec
    assert "_shard" in p, p


def test_chunk_dedup_partial_agg_and_hash_join(spark):
    """dedup_chunks_rebuild: the first-occurrence table comes from a
    partial-aggregatable groupBy on the chunk hash (map-side combine before
    the exchange) and the winner join is a shuffled hash join, never a
    nested loop."""
    p = plan(spark, "dedup_chunks_rebuild")
    assert "partial_min" in p or "partial" in p.lower(), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_hll_registers_partial_aggregate(spark):
    """hll_distinct_users: the register table must partial-aggregate (the
    per-partition MAX is the sketch-merge property in plan form) and carry
    no row-data shuffle beyond the 256-register exchange."""
    p = plan(spark, "hll_distinct_users")
    assert re.search(r"partial_max|partial", p, re.I), p
    assert "Exchange SinglePartition" not in p or "hashpartitioning" in p, p


def test_bloom_prefilter_semi_join_before_shuffle(spark):
    """runtime_bloom_prefilter_join: the bucket-set prune must be a
    broadcast LEFT SEMI join feeding the fact side (pruning happens before
    the join exchange), never a nested loop."""
    p = plan(spark, "runtime_bloom_prefilter_join")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p) or "LeftSemi" in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_chunk_windows_map_only_no_shuffle(spark):
    """The overlapping chunker is sequence+explode+substring: the plan must
    contain a Generate (codegen explode) and NO Exchange — chunking a
    100 TB corpus must never shuffle it."""
    p = plan(spark, "chunk_overlap_windows")
    assert "Generate" in p, p
    # the only allowed Exchange is the loader's deliberate round-robin
    # spread of the single-file documents table — never a hash shuffle
    for m in re.finditer(r"\(\d+\) Exchange\nInput[^\n]*\nArguments: (\w+)", p):
        assert m.group(1) == "RoundRobinPartitioning", p
    assert "hashpartitioning" not in p, p
    assert "BatchEvalPython" not in p


def test_heavy_hitters_filter_below_exact_groupby(spark):
    """The CMS candidate filter must sit under the exact aggregate: the
    wide shuffle may only see prefiltered rows.  The literal-array lookup
    shows up as element_at/least in the filter above the scan."""
    p = plan(spark, "heavy_hitter_tokens")
    # node numbers increase bottom-up in the formatted plan: the candidate
    # filter (its Condition carries the least(element_at(...)) sketch
    # lookup) must have a LOWER number than every exact HashAggregate
    filt = re.search(
        r"\((\d+)\) Filter\n(?:[^\n]*\n){0,3}?Condition : [^\n]*least\(element_at", p
    )
    aggs = [int(n) for n in re.findall(r"\((\d+)\) HashAggregate", p)]
    assert filt and aggs, p[:2000]
    assert int(filt.group(1)) < min(aggs), p[:2000]
    assert "CartesianProduct" not in p


def test_gemm_knn_rescore_broadcasts_candidates(spark):
    """The rescore joins must broadcast the tiny candidate/query sides —
    a shuffle join here would move the corpus twice."""
    p = plan(spark, "knn_gemm_topk")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p


def test_pca_power_iteration_broadcasts_and_no_python(spark):
    p = plan(spark, "pca_power_iteration")
    # the intermediate eigenvector and the normalizers ride 1-row
    # broadcasts; nothing joins the exploded corpus by row key
    assert "Broadcast" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "SortMergeJoin" not in p, p
    # each iteration's vector sum partial-aggregates before its 64-key
    # shuffle: two iterations -> >=4 HashAggregates, and the only
    # corpus-wide exchanges are those two 64-key aggregations
    assert len(re.findall(r"HashAggregate", p)) >= 4, p


def test_doc_lm_crossentropy_partial_aggs_no_cartesian(spark):
    p = plan(spark, "doc_lm_crossentropy")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    # bigram counts partial-aggregate map-side before the key shuffles
    assert len(re.findall(r"HashAggregate", p)) >= 4, p
    # the 1-row vocab-size aggregate rides a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_token_budget_select_no_single_partition_window(spark):
    p = plan(spark, "corpus_token_budget_select")
    # the global running sum must come from the two-phase form: a range
    # repartition plus per-partition windows — never a partition-less
    # SUM OVER funneling the corpus through one task.  The range layout is
    # pinned with localCheckpoint (identity.py: baked offsets require a
    # stable cross-job partitioning), so the final plan shows the
    # checkpoint scan rather than the range exchange itself.
    assert "Exchange SinglePartition" not in p, p
    assert "rangepartitioning" in p.lower() or "ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_pagerank_broadcasts_node_tables_when_small(spark):
    # node tables scale with SF, so broadcast is a MEASURED decision: at
    # sf0.001 the sizing count sees a few hundred parts → broadcast path
    p = plan(spark, "pagerank_two_iterations")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    # the edge self-join equi-joins on l_orderkey (never a cartesian pair
    # blowup), and aggregation partial-aggregates map-side
    assert len(re.findall(r"HashAggregate", p)) >= 4, p


def test_pagerank_shuffle_fallback_same_answer(spark, monkeypatch):
    # force the over-budget branch: the per-iteration joins must fall back
    # to co-partitioned shuffle joins (the only correct plan when the node
    # table is billions of rows) and produce the identical ranking
    from arthur_redshift_etl_spark.workload import lm_quality

    def norm(rows):
        # driver float protocol: 10 significant digits (summation order
        # legitimately differs between broadcast and shuffle-join plans)
        return sorted(
            tuple(f"{v:.10g}" if isinstance(v, float) else v for v in r)
            for r in rows
        )

    base = REGISTRY["pagerank_two_iterations"].fn(spark, SF)
    want = norm(map(tuple, base.collect()))
    monkeypatch.setattr(lm_quality, "PAGERANK_NODE_BCAST_LIMIT_BYTES", 0)
    # also silence the planner's own stats-driven broadcast (at sf0.001 the
    # node tables really are tiny; at 100 TB neither the hint nor the stats
    # would pick broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["pagerank_two_iterations"].fn(spark, SF)
        p = plan_text(df)
        assert "CartesianProduct" not in p, p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
        got = norm(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want


def test_contrastive_mining_no_window_sort(spark):
    p = plan(spark, "contrastive_pair_mining")
    # the per-anchor argmax is a partial-agg struct max — not a global or
    # keyed window sort, and not a shuffled join against the anchor set
    assert "Window" not in p, p
    assert "Exchange SinglePartition" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "SortMergeJoin" not in p, p


def test_dsir_bucket_tables_broadcast(spark):
    p = plan(spark, "dsir_importance_weights")
    # the 512-row ratio table rides a broadcast back onto the
    # (doc_id,bucket) agg — the only fact-sized shuffle in the plan
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_theil_sen_no_single_partition_percentile(spark):
    p = plan(spark, "daily_revenue_theil_sen")
    # medians come from the pinned two-phase rank (checkpoint scan), never
    # a partition-less window or a single-group percentile buffer over the
    # 3M-row slope table
    assert "Exchange SinglePartition" not in p, p
    assert "percentile" not in p.lower(), p
    assert "BatchEvalPython" not in p, p


def test_triangle_edges_equi_join(spark):
    p = plan(spark, "triangle_count_parts")
    # wedge/closure joins are equi-joins on the thinned edge table — no
    # cartesian enumeration, no Python
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p, p


def test_mannwhitney_two_phase_rank_no_single_partition(spark):
    p = plan(spark, "mannwhitney_order_values")
    # midranks ride the pinned running sum: range layout (checkpoint scan)
    # + per-partition windows, never a partition-less SUM OVER
    assert "Exchange SinglePartition" not in p or "HashAggregate" in p, p
    assert "rangepartitioning" in p.lower() or "ExistingRDD" in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_rfm_exact_ntile_no_global_sort(spark):
    p = plan(spark, "rfm_customer_segments")
    # three ntile_exact passes: checkpointed range layouts, windows only
    # per partition — a global Window sort would show Sort+SinglePartition
    assert "Exchange SinglePartition" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    # the fact scan partial-aggregates to the customer table map-side
    assert "HashAggregate" in p, p


def test_chi_square_single_fact_shuffle(spark):
    p = plan(spark, "chi_square_priority_status")
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    # exactly one fact-sized exchange (the cell partial agg); the window
    # marginals run on the bounded cell table
    import re as _re

    assert len(_re.findall(r"\) Exchange", p)) <= 4, p


def test_stratified_entries_have_no_full_stratum_window(spark):
    """The per-stratum rank must be the two-phase grouped rank (windows
    partition by __pid), never row_number over the raw stratum key — a
    90%-mass domain would sort in one task (VERDICT r07 item 1)."""
    for name in ("stratified_sample_by_source", "corpus_temperature_mix"):
        p = plan(spark, name)
        for m in re.finditer(r"\(\d+\) Window", p):
            tail = p[m.start() : m.start() + 500]
            # the banned shape: row_number windowspec partitioned by the
            # raw stratum column (source) — one task per stratum.  The
            # two-phase rank's windows partition by __pid; the quota
            # table's whole-set rank runs over a |domains|-row aggregate
            # (partition-less spec, bounded input) and is fine.
            banned = re.search(
                r"row_number\(\) windowspecdefinition\(source#", tail
            )
            assert not banned, (name, tail)


def test_peak_concurrency_windows_are_pid_partitioned(spark):
    """The sweep-line's only window rides the two-phase running sum's
    spark_partition_id clustering; the lone SinglePartition exchange is the
    final 1-row aggregate, never the sweep itself."""
    p = plan(spark, "peak_concurrent_sessions")
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 200]
        assert "__pid" in tail, tail
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_pareto_frontier_broadcasts_and_pid_windows(spark):
    """The skyline joins frontier GROUPS (<= distinct n_chars rows) back to
    docs via broadcast; the exclusive running max windows per __pid only."""
    p = plan(spark, "pareto_frontier_docs")
    assert "BroadcastExchange" in p, p
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 200]
        assert "__pid" in tail, tail


def test_weighted_median_no_global_sort(spark):
    p = plan(spark, "weighted_median_price")
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 200]
        assert "__pid" in tail, tail
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_rolling_distinct_partial_aggregates(spark):
    """The 7x explode feeds a two-phase distinct count: partial aggregation
    below the exchange, no SinglePartition funnel, no window at all."""
    p = plan(spark, "rolling_7d_distinct_users")
    assert "Exchange SinglePartition" not in p, p
    assert "windowspecdefinition" not in p, p
    assert "partial_count(distinct" in p or "HashAggregate" in p, p


def test_cohort_ltv_window_is_cohort_partitioned(spark):
    """The cumulative window partitions by cohort_day over the calendar-
    bounded grid — bounded partitions, and never a global sort."""
    p = plan(spark, "cohort_ltv_curve")
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 260]
        assert "cohort_day" in tail, tail
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_twap_single_user_shuffle_then_partial_agg(spark):
    """TWAP's LEAD window partitions by (user_id, event_type) — bounded by
    one user's activity — and the final rollup partial-aggregates; nothing
    funnels through one task."""
    p = plan(spark, "time_weighted_avg_value")
    assert "Exchange SinglePartition" not in p, p
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 260]
        assert "user_id" in tail, tail


def test_pq_adc_is_map_only_plus_take_ordered(spark):
    """PQ encode + ADC score must be a pure map over the corpus: the
    codebook and LUT are literals, so the ONLY gather is the top-k's
    TakeOrderedAndProject — no hash/range exchange, no join, no window."""
    p = plan(spark, "pq_adc_topk")
    assert "TakeOrderedAndProject" in p, p
    assert "windowspecdefinition" not in p, p
    assert not re.search(r"Exchange (hash|range)partitioning", p), p
    assert "Join" not in p, p


def test_grouped_weighted_median_no_stratum_window(spark):
    """The grouped weighted median must ride the GLOBAL running sum (pid
    windows only) + broadcast offsets — never PARTITION BY flag over the
    value table (the banned stratum-window shape)."""
    p = plan(spark, "weighted_median_by_flag")
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 200]
        assert "__pid" in tail, tail
    assert "BroadcastExchange" in p, p
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_pq_adc_trained_keeps_map_only_search_plan(spark):
    """Training must not change the SEARCH plan shape: with the trained
    codebook baked as literals, encode + ADC score is still a pure map +
    TakeOrderedAndProject — identical pins to the init-only entry."""
    p = plan(spark, "pq_adc_topk_trained")
    assert "TakeOrderedAndProject" in p, p
    assert "windowspecdefinition" not in p, p
    assert not re.search(r"Exchange (hash|range)partitioning", p), p
    assert "Join" not in p, p


def test_ivfpq_multiprobe_prunes_before_adc(spark):
    """The multiprobe plan scores only probed-bucket candidates: the
    bucket filter is a literal IN (driver probe schedule), ADC is
    map-side, and the only gather is the top-k."""
    p = plan(spark, "ivfpq_multiprobe")
    assert "TakeOrderedAndProject" in p, p
    assert "windowspecdefinition" not in p, p


def test_ivfpq_recall_window_bounded_by_probe_set(spark):
    """The per-nprobe top-10 window partitions on np over probed
    candidates only — never an unpartitioned global window, never a
    global sort."""
    p = plan(spark, "ivfpq_recall_eval")
    for m in re.finditer(r"windowspecdefinition\(", p):
        tail = p[m.start() : m.start() + 200]
        assert "np" in tail, tail
    assert not re.search(r"Sort \[[^\]]*\], true", p), p


def test_silhouette_anchor_side_is_broadcast(spark):
    """The silhouette pairwise-distance join must broadcast the anchor
    exploded side (~anchors x dims rows, joined on 8-key dim0): AQE
    happens to pick a broadcast today, but a planner regression to a
    sort-merge on dim0 would be a skew cliff at corpus scale, so the
    entry pins it explicitly (VERDICT r10 #6).  Same pin for the trained
    variant, which shares the template."""
    for name in ("kmeans_silhouette_eval", "kmeans_trained_silhouette"):
        p = plan(spark, name)
        assert "BroadcastHashJoin" in p, (name, p)
        assert not re.search(r"SortMergeJoin.*dim0", p), (name, p)


def test_residual_search_is_pruned_map_take_ordered(spark):
    """Residual ADC scoring (per-bucket LUTs via when-chain) must stay a
    pure map over the probed candidates: the only gather is the bounded
    top-k, no window, no shuffle introduced by the LUT selection."""
    p = plan(spark, "ivfpq_residual_search")
    assert "TakeOrderedAndProject" in p, p
    assert "windowspecdefinition" not in p, p


def test_l2_trained_buckets_is_map_plus_single_agg(spark):
    """The trained-L2 assignment is pq_code with the codebook baked as
    literals — a pure map feeding one partial-combined count: no join,
    no window, exactly one hash-partitioning exchange."""
    p = plan(spark, "ivf_l2_trained_buckets")
    assert "Join" not in p, p
    assert "windowspecdefinition" not in p, p
    # exactly one hash shuffle (the aggregation); the loader's round-robin
    # repartition is the only other exchange
    assert len(re.findall(r"hashpartitioning", p)) == 1, p


def test_embedding_dim_stats_partial_agg(spark):
    """Per-dim stats must partial-aggregate below the exchange (map-side
    combine on dim0) — the one-shuffle shape that holds at any corpus."""
    p = plan(spark, "embedding_dim_stats")
    assert "partial" in p.lower(), p
    assert "Join" not in p, p


def test_pq_reconstruction_error_is_map_plus_single_agg(spark):
    """Per-subspace reconstruction error: codebooks are baked literals so
    the per-row argmin is a pure map (no join, no window); the only hash
    shuffle is the M-row aggregation — corpus-independent output, same
    discipline as the trained-PQ update step."""
    p = plan(spark, "pq_reconstruction_error")
    assert "Join" not in p, p
    assert "windowspecdefinition" not in p, p
    assert len(re.findall(r"hashpartitioning", p)) == 1, p


def test_token_pmi_top_set_is_broadcast(spark):
    """The PMI pair join must hit a bounded broadcast vocabulary (top-40),
    never a SortMergeJoin against the full token table; no window."""
    p = plan(spark, "token_pmi_collocations")
    assert "BroadcastHashJoin" in p, p
    assert "windowspecdefinition" not in p, p


def test_simhash64_near_pairs_no_window_no_cartesian(spark):
    """The 64-bit production point keeps the pigeonhole block-join shape:
    candidates come from block-key equality (hash join), never a nested-
    loop all-pairs (that shape lives only in the small-tier oracle)."""
    p = plan(spark, "dedup_simhash64_near_pairs")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "windowspecdefinition" not in p, p


def test_pq_reconstruction_single_scan_no_union(spark):
    """pq_reconstruction_error computes ALL M subspace argmins in one
    projection + posexplode (r13): the plan must contain no Union of
    per-subspace frames and at most 2 parquet scans (the corpus scan; the
    codebook collect happens at build time, outside this plan)."""
    p = plan(spark, "pq_reconstruction_error")
    assert "Union" not in p, p
    assert p.count("Scan parquet") <= 2, p
    assert "posexplode" in p.lower() or "Generate" in p, p
