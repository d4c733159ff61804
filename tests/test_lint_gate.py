"""Broadcast-hint lint gate (VERDICT r5 next-round #7).

``plans/lint.py`` now audits every EXPLICIT ``F.broadcast(...)`` hint in the
optimized plan: a hint whose subtree scans a fact table with no
aggregate/limit in between forces a broadcast that grows with the data
(``BCAST_RAW_FACT``), and a hinted subtree whose Catalyst size estimate
exceeds the driver-materialization budget warns ``BIG_BROADCAST``.
Planner-chosen broadcasts are exempt by design — they are size-based and
AQE re-decides them from runtime stats, so they self-correct at scale.

The per-entry sweep lives in test_catalog_hygiene.py (same plan build,
one pass); this file owns the allowlist and proves the lint is ARMED —
a gate that never fires on a known hazard is not a gate.
"""

import pytest
from pyspark.sql import functions as F

from arthur_redshift_etl_spark.plans.lint import broadcast_audit, lint_plan
from arthur_redshift_etl_spark.workload import t

SF = "/root/testdata/sf0.001"

# Entries allowed to carry a hinted broadcast over a fact-table subtree.
# Every one bounds the broadcast by a SELECTIVE KEY PREDICATE — a fixed
# number of rows at ANY scale factor — which the structural lint cannot
# see (a filter is not a reduction in general: most filters scale
# proportionally with the table).
ALLOWED_RAW_FACT_BCAST = {
    "knn_bruteforce": "query set = embeddings vec_id < 10 (10 rows at any SF)",
    "knn_gemm_topk": "query set = embeddings vec_id < 10 (10 rows at any SF)",
    "knn_incremental_merge": "query set = embeddings vec_id < 10, both batches",
    "ann_int8_search": "query set vec_id < 10 + 1-row scale aggregate",
    "ann_lsh_search": "query set vec_id < 10 against hyperplane buckets",
    "ann_ivf_buckets": "centroid seeds = embeddings vec_id % stride (k rows)",
    "ann_ivf_search": "centroid seeds (k rows) + query set vec_id < 10",
    "ann_ivf_multiprobe": "centroid seeds (k rows) + query set vec_id < 10",
    "ann_ivf_recall_eval": "centroid seeds + query set, recall harness",
    "ann_ivf_incremental_assign": "centroid seeds (k rows), old+new batches",
    "kmeans_embedding_clusters": "centroid seeds = vec_id-strided k rows",
    "kmeans_silhouette_eval": "centroid seeds vec_id < 8 (k rows) in the "
    "assignment + anchor exploded side (vec_id % (n//128), fixed ~128 "
    "anchors x dims rows at any SF) explicitly broadcast in the dist join",
    "cluster_purity_eval": "centroid seeds vec_id < 8 (k rows) in the assignment",
    "kmeans_trained_silhouette": "centroid seeds vec_id < 8 in both "
    "assignments + fixed-budget anchor side explicitly broadcast (the "
    "kmeans_silhouette_eval shape over the 1-Lloyd-trained assignment)",
    "kmeans_trained_purity": "centroid seeds vec_id < 8 (k rows) in the "
    "seed assignment and the trained re-assignment",
    "ivfpq_residual_search": "centroid seeds vec_id < 8 (k rows) in the "
    "coarse IVF assignment + 1-row query broadcast in the probe schedule "
    "(the ivfpq_* family bound)",
    "kmeans_single_iteration": "centroid seeds = vec_id-strided k rows",
    "semantic_dedup_clustered": "centroid seeds (k rows) for cluster assignment",
    "decontaminate_semantic_eval": "eval set = benchmark-sized fixed slice",
    "contrastive_pair_mining": "anchor set = vec_id % 97 (corpus/97 rows; "
    "documented scored-scan design, same shape as knn_bruteforce)",
    "bitext_margin_mining": "anchor set = vec_id % 53 even-label slice",
    "ivfpq_search": "centroid seeds = embeddings vec_id < 8 (K rows at any "
    "SF) broadcast inside the coarse IVF assignment — same bound as the "
    "ann_ivf_* family",
    "ivfpq_multiprobe": "centroid seeds vec_id < 8 + 1-row query "
    "(vec_id = PQ_QUERY_ID) broadcast in the probe-schedule ranking",
    "ivfpq_recall_eval": "centroid seeds vec_id < 8 + 1-row query "
    "(vec_id = PQ_QUERY_ID) broadcast in the probe-schedule ranking",
    "ivfpq_trained_multiprobe": "centroid seeds vec_id < 8 + 1-row query "
    "(vec_id = PQ_QUERY_ID) broadcast in the probe-schedule ranking",
    "ivfpq_rerank_search": "centroid seeds vec_id < 8 + 1-row query "
    "(vec_id = PQ_QUERY_ID) broadcast in the probe-schedule ranking",
    "knn_filtered_by_label": "query set = embeddings vec_id < 5 (5 rows "
    "at any SF) broadcast against the label-filtered corpus slice",
    "hybrid_rrf_retrieval": "1-row query vector (vec_id = RRF_QUERY_DOC) "
    "+ 1-doc distinct-token set broadcast into the two bounded rankings",
}

# The size check already skips subtrees containing a reducing node (their
# Catalyst byte estimate is the multiplicative worst case — 850 GB prints
# for k-bounded subtrees), so this list only carries reduction-free hinted
# subtrees whose estimate is inflated by join-stat propagation but whose
# true size is bounded by the entry's selective key predicate.
ALLOWED_BIG_BROADCAST = {
    "ann_ivf_multiprobe": "probe expansion of the vec_id<10 query set "
    "joined to k centroids — rows = |queries| x nprobe, stat is the "
    "join-product worst case",
    "kmeans_silhouette_eval": "anchor exploded side = exm join anch — "
    "true rows = ~128 fixed-budget anchors x dims at any SF (the modulus "
    "scales with n), stat is the join-product worst case",
    "kmeans_trained_silhouette": "anchor exploded side = exm join anch — "
    "true rows = ~128 fixed-budget anchors x dims at any SF, stat is the "
    "join-product worst case (same subtree as kmeans_silhouette_eval)",
    "knn_filtered_by_label": "query set = 5 rows (vec_id < 5) self-joined "
    "to attach labels — true size 5 rows at any SF, stat is the "
    "join-product worst case",
    "hybrid_rrf_retrieval": "distinct tokens of ONE document (explode + "
    "distinct of a 1-row slice) — bounded by a single doc's vocabulary, "
    "stat is the post-explode worst case",
}


def test_lint_fires_on_raw_fact_broadcast(spark):
    """A hinted broadcast of an un-aggregated fact scan must warn — this is
    the constructed hazard that proves the gate is armed."""
    li = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, SF, "orders")
    bad = o.join(F.broadcast(li), F.col("o_orderkey") == F.col("l_orderkey"))
    codes = {w.code for w in lint_plan(bad)}
    assert "BCAST_RAW_FACT" in codes
    recs = [r for r in broadcast_audit(bad) if r["scans"]]
    assert recs and recs[0]["scans"] == ["lineitem"]


def test_lint_silent_on_aggregate_bounded_broadcast(spark):
    """An aggregate between the hint and the fact scan bounds the broadcast
    (group count, not row count) — no warning."""
    li = t(spark, SF, "lineitem")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    o = t(spark, SF, "orders")
    ok = o.join(F.broadcast(agg), F.col("o_orderkey") == F.col("l_orderkey"))
    assert "BCAST_RAW_FACT" not in {w.code for w in lint_plan(ok)}


def test_lint_sees_through_persist_pin_aggregate(spark):
    """A persist() pin substitutes into the optimized plan as an
    InMemoryRelation LEAF; the audit must walk the cached physical plan so
    a pinned AGGREGATE keeps its reduction exemption (the r13 ivf_search
    assign pin false-fired BIG_BROADCAST through the join-product stat)."""
    li = t(spark, SF, "lineitem")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).persist()
    try:
        o = t(spark, SF, "orders")
        ok = o.join(F.broadcast(agg), F.col("o_orderkey") == F.col("l_orderkey"))
        codes = {w.code for w in lint_plan(ok)}
        assert "BCAST_RAW_FACT" not in codes
        assert "BIG_BROADCAST" not in codes
        assert "BIG_DECODED_BROADCAST" not in codes
        recs = broadcast_audit(ok)
        assert recs and not recs[0]["size_meaningful"]
    finally:
        agg.unpersist()


def test_lint_fires_through_persist_pin_raw_fact(spark):
    """The cached-plan walk keeps the gate ARMED: a pinned raw fact
    projection under a hint still warns BCAST_RAW_FACT."""
    li = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity").persist()
    try:
        o = t(spark, SF, "orders")
        bad = o.join(F.broadcast(li), F.col("o_orderkey") == F.col("l_orderkey"))
        codes = {w.code for w in lint_plan(bad)}
        assert "BCAST_RAW_FACT" in codes
        recs = [r for r in broadcast_audit(bad) if r["scans"]]
        assert recs and recs[0]["scans"] == ["lineitem"]
    finally:
        li.unpersist()


def test_lint_silent_on_dimension_broadcast(spark):
    """Hinted dimension broadcasts (the bread-and-butter pattern) pass."""
    li = t(spark, SF, "lineitem")
    s = t(spark, SF, "supplier")
    dim = li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    assert "BCAST_RAW_FACT" not in {w.code for w in lint_plan(dim)}


def test_lint_silent_on_planner_chosen_broadcast(spark):
    """A join with NO hint that the planner broadcasts by size is exempt —
    AQE re-decides it from runtime stats at scale."""
    li = t(spark, SF, "lineitem")
    o = t(spark, SF, "orders")
    unhinted = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    assert broadcast_audit(unhinted) == []


def test_lint_silent_on_local_relation_with_fact_column_name(spark):
    """ADVICE r6: a LocalRelation whose COLUMN LIST contains a fact-table
    name ('events') must not trip BCAST_RAW_FACT — non-file leaves carry no
    path identity and are skipped outright."""
    lookup = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["events", "lineitem_code"]
    )
    o = t(spark, SF, "orders")
    plan = o.join(F.broadcast(lookup), F.col("o_orderkey") == F.col("events"))
    assert "BCAST_RAW_FACT" not in {w.code for w in lint_plan(plan)}


def test_lint_silent_on_substring_path_match(spark, tmp_path):
    """ADVICE r6: a file source at .../reorders.parquet ('orders' as a
    substring) must not trip BCAST_RAW_FACT — the match anchors to the
    path basename."""
    src = t(spark, SF, "region").selectExpr(
        "r_regionkey AS k", "r_name AS v"
    )
    path = str(tmp_path / "reorders.parquet")
    src.write.parquet(path)
    lookup = spark.read.parquet(path)
    o = t(spark, SF, "orders")
    plan = o.join(F.broadcast(lookup), F.col("o_orderkey") == F.col("k"))
    assert "BCAST_RAW_FACT" not in {w.code for w in lint_plan(plan)}


def test_fact_scan_basename_anchoring():
    from arthur_redshift_etl_spark.plans.lint import _fact_scans_from_path

    assert _fact_scans_from_path("file:/x/sf0.1/lineitem.parquet") == ["lineitem"]
    assert _fact_scans_from_path("/data/orders/") == ["orders"]
    assert _fact_scans_from_path("/data/reorders/") == []
    assert _fact_scans_from_path("/data/reorders.parquet") == []
    assert _fact_scans_from_path("/data/events_archive.parquet") == []


def test_unwrap_cached_physical_raises_when_every_accessor_fails():
    """An AQE wrapper none of whose accessors answers must raise, so the
    audit counts the pin as opaque instead of walking a childless leaf."""
    from arthur_redshift_etl_spark.plans.lint import _unwrap_cached_physical

    class _Opaque:
        def nodeName(self):
            return "AdaptiveSparkPlan"

        def _gone(self):
            raise AttributeError("accessor removed")

        initialPlan = inputPlan = executedPlan = _gone

    class _Relation:
        def cachedPlan(self):
            return _Opaque()

    with pytest.raises(AttributeError, match="accessor removed"):
        _unwrap_cached_physical(_Relation())


def test_big_broadcast_threshold_fires(spark):
    """The size check is live: any hinted subtree trips it when the budget
    is set below its Catalyst estimate."""
    li = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, SF, "orders")
    bad = o.join(F.broadcast(li), F.col("o_orderkey") == F.col("l_orderkey"))
    codes = {w.code for w in lint_plan(bad, broadcast_bytes_hint=16)}
    assert "BIG_BROADCAST" in codes


def test_allowlists_reference_live_entries():
    from arthur_redshift_etl_spark.workload import REGISTRY

    stale = [
        n
        for n in (*ALLOWED_RAW_FACT_BCAST, *ALLOWED_BIG_BROADCAST)
        if n not in REGISTRY
    ]
    assert not stale, f"allowlist names not in REGISTRY: {stale}"


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))


def test_decoded_budget_lint_is_armed(spark):
    """A hinted broadcast whose DECODED estimate (rowCount x modeled row
    width) exceeds the budget must warn — rowCount comes from the Range
    relation's exact stats here, mirroring a CBO-analyzed table."""
    big = spark.range(10_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    probe = spark.range(100).select(F.col("id").alias("k"))
    df = probe.join(F.broadcast(big), "k")
    codes = {w.code for w in lint_plan(df)}
    assert "BIG_DECODED_BROADCAST" in codes, codes


def test_decoded_budget_lint_silent_under_budget(spark):
    small = spark.range(1_000).select(F.col("id").alias("k"))
    probe = spark.range(100).select(F.col("id").alias("k"))
    df = probe.join(F.broadcast(small), "k")
    assert "BIG_DECODED_BROADCAST" not in {w.code for w in lint_plan(df)}


def test_broadcast_within_budget_falls_back_to_shuffle(spark):
    """The shared gate: a >650k-row side must NOT be hinted (the measured
    crossover says shuffle wins), and results are identical either way."""
    from arthur_redshift_etl_spark.plans.broadcast import (
        broadcast_within_budget,
        decoded_row_width,
        fits_broadcast_budget,
    )
    from arthur_redshift_etl_spark.plans.lint import broadcast_audit, plan_text

    big = spark.range(700_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    small = spark.range(400_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    probe = spark.range(0, 700_000, 7).select(F.col("id").alias("k"))

    width = decoded_row_width(big.schema)  # 2 longs + overhead = 32 B
    assert not fits_broadcast_budget(700_000, row_width=width)
    assert fits_broadcast_budget(400_000, row_width=width)

    gated_big = probe.join(broadcast_within_budget(big, 700_000), "k")
    assert broadcast_audit(gated_big) == []  # no hint planted
    gated_small = probe.join(broadcast_within_budget(small, 400_000), "k")
    assert "BroadcastHashJoin" in plan_text(gated_small)

    # identical results on the fallback path vs the forced hint
    want = probe.join(F.broadcast(big), "k").agg(
        F.count(F.lit(1)), F.sum("v")
    ).first()
    got = gated_big.agg(F.count(F.lit(1)), F.sum("v")).first()
    assert tuple(got) == tuple(want)
