"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query on sf0.001;
``queries()``/``oracle_sql()`` expose the full operator catalog from
``arthur_redshift_etl_spark.workload`` (one entry per implemented operator
from SURVEY.md §2 plus the scale-pipeline operators).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)
# Executor Python workers inherit PYTHONPATH from the JVM's environment (set
# when the SparkSession starts), not the driver's sys.path — propagate the
# repo dir so worker-side package imports resolve when the driver imports
# this module by file path from another cwd.  (Belt-and-braces: modules whose
# code runs inside mapInPandas closures are also registered for by-value
# cloudpickle serialization, which covers sessions created before import.)
if _REPO_DIR not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_DIR + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _REPO_DIR
    )

from arthur_redshift_etl_spark import workload  # noqa: E402

_ORACLE_NAMES = frozenset(workload.oracles())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return workload.REGISTRY["revenue_by_nation"].fn(spark, "/root/testdata/sf0.001")


# The driver samples only the first 50 catalog entries per round, so each
# round orders the catalog with never-driver-sampled entries FIRST to rotate
# driver-grade verification across the whole catalog (VERDICT.md item 2).
#
# Verified entries are discovered from the CORRECTNESS_r*.json files the
# driver writes into the repo each round — self-maintaining: a new round's
# green rows automatically leave the front block, red rows (oracle bugs,
# mismatches) automatically stay in it for resampling.
def _driver_verified_from_artifacts() -> tuple:
    import glob
    import json
    import re

    verified = set()
    last_green_round: dict = {}

    def _round_no(path: str) -> int:
        m = re.search(r"_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    # rounds in NUMERIC order (lexicographic would put r100 before r99 and
    # let a stale verdict win); each entry's LATEST verdict wins, so a later
    # red row pulls a previously-green entry back into the resample block
    for path in sorted(
        glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")), key=_round_no
    ):
        try:
            with open(path) as fh:
                rows = json.load(fh)
            items = rows.items()
        except Exception:  # noqa: BLE001 - unreadable/misshapen artifact -> ignore
            continue
        for name, row in items:
            if not isinstance(row, dict):
                continue
            # a "no_oracle" row only counts while the entry still HAS no
            # oracle: once an oracle is added (e.g. approx_distinct /
            # 2-iteration kmeans in round 4), the weaker rows-only verdict
            # is stale and the entry must re-enter the sample block until a
            # hash-verified row exists
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name not in _ORACLE_NAMES
            )
            if green:
                verified.add(name)
                last_green_round[name] = _round_no(path)
            else:
                verified.discard(name)  # latest verdict is red -> resample
                last_green_round.pop(name, None)
    return frozenset(verified), last_green_round


# Fallback/documentation: the hardcoded r01/r02 sets (kept for transparency
# and as a safety net if the artifacts are ever absent).
_R01_VERIFIED = frozenset({
    "q01_pricing_summary", "revenue_by_nation", "q03_top_orders",
    "q04_order_priority", "q05_region_nation_revenue", "q06_forecast_revenue",
    "q10_returned_items", "q14_promo_revenue", "top_customers_window",
    "segment_nation_rollup", "customer_segment_stats",
    "orders_no_early_lineitems", "nation_setop_except",
    "nation_setop_intersect", "constraint_dup_orderkeys",
    "constraint_pk_lineitem", "dim_customer", "extract_orders_sample",
    "hourly_event_rollup", "event_sessions", "events_json_stats",
    "text_token_stats", "text_top_tokens", "text_quality",
    "text_lang_profile_classify", "dedup_exact_prefix", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "knn_bruteforce",
    "ann_ivf_buckets", "ann_ivf_search", "embedding_cosine_dedup",
    "q07_volume_shipping", "q11_important_stock", "q12_shipmode_priority",
    "q13_customer_distribution", "q17_small_quantity_revenue",
    "q18_large_orders", "q19_disjunctive_predicates",
    "q22_global_sales_opportunity", "five_min_rollup",
    "events_asof_last_purchase", "ann_lsh_search", "text_bpe_token_count",
    "median_quantity_by_flag", "approx_distinct_customers",
    "q15_top_suppliers", "cube_status_priority", "cumulative_customer_revenue",
})

# Round-2 driver sample (keys of CORRECTNESS_r02.json).
_R02_VERIFIED = frozenset({
    "ann_ivf_recall_eval", "cdc_latest_event", "corpus_prep_pipeline",
    "customer_order_flags", "daily_cohort_retention",
    "daily_event_anomaly_zscore", "date_dimension_spine",
    "dedup_connected_components", "dedup_keep_first",
    "dedup_levenshtein_blocked", "dialect_decode_status",
    "dialect_json_extract_props", "dialect_listagg_nations",
    "dialect_qualify_largest_order", "dialect_sha256_fingerprint",
    "dialect_to_char_monthly", "doc_rolling_hash", "embedding_label_centroids",
    "embedding_label_norms", "event_transition_matrix",
    "event_value_histogram", "first_touch_attribution",
    "funnel_view_click_purchase", "gapfilled_hourly_by_type",
    "grouping_sets_docs", "incremental_rollup_merge",
    "kmeans_embedding_clusters", "merge_upsert_latest_events",
    "multimodal_payload_stats", "nation_revenue_share",
    "ntile_chars_quartiles", "part_brand_cooccurrence",
    "pivot_event_type_daily", "profile_orders_columns",
    "q02_min_cost_supplier", "q08_market_share", "q09_product_type_profit",
    "q16_supplier_part_counts", "q20_potential_promotion",
    "q21_waiting_suppliers", "range_join_error_context",
    "salted_join_status_revenue", "scd2_user_event_intervals",
    "split_train_valid_test", "stratified_sample_by_source",
    "table_checksum_orders", "text_tfidf_top_terms", "top_tokens_per_lang",
    "user_event_window_suite", "user_value_rolling_7d",
})

# grouping_sets_docs / ann_ivf_recall_eval / corpus_prep_pipeline got red r2
# rows from oracle-SQL typing bugs (fixed this round: CAST(SUM AS BIGINT)).
# Keep them in the front block so round 3 records the now-green rows.
_NEEDS_RESAMPLE = frozenset({
    "grouping_sets_docs", "ann_ivf_recall_eval", "corpus_prep_pipeline",
})

# _NEEDS_RESAMPLE applies only to the hardcoded FALLBACK: on the artifact
# path the same entries are already red rows (not in the verified set), and
# once a later round records them green they must leave the front block —
# a permanent subtraction would waste 3 sample slots every future round.
_ARTIFACT_VERIFIED, _VERIFIED_ROUND = _driver_verified_from_artifacts()
_DRIVER_VERIFIED = (
    _ARTIFACT_VERIFIED
    if _ARTIFACT_VERIFIED
    else (_R01_VERIFIED | _R02_VERIFIED) - _NEEDS_RESAMPLE
)


# Entries whose IMPLEMENTATION changed since their last green driver row:
# force them into the first-50 sample until a post-change hash-verified
# row exists (round 6 used this for the q21 rewrite; round 8 for the
# stratum-window rewires; round 9 for the top_k_by_count consumers; rounds
# 9-13 for duckdb_source_orders_by_status, whose driver-side decimal-cast
# divergence was closed in r13 by the bit-exact integer-cents convention —
# green r13 row, pin retired per VERDICT r13 #7, slot returns to the
# rotation).  Empty now; re-add any entry whose semantics-adjacent code
# changes before a driver round re-verifies it.
_RESAMPLE_FIRST: tuple = ()


def _rotated(mapping: dict) -> dict:
    first = {k: mapping[k] for k in _RESAMPLE_FIRST if k in mapping}
    unverified = {
        k: v
        for k, v in mapping.items()
        if k not in _DRIVER_VERIFIED and k not in first
    }
    # verified entries ordered stalest-first (earliest last-green round):
    # with the whole catalog driver-green, each round's 50-sample then
    # refreshes the entries whose evidence is oldest instead of pinning
    # the same front block forever (stable sort keeps catalog order
    # within a round cohort)
    verified = {
        k: mapping[k]
        for k in sorted(
            (k for k in mapping if k in _DRIVER_VERIFIED and k not in first),
            key=lambda k: _VERIFIED_ROUND.get(k, 0),
        )
    }
    return {**first, **unverified, **verified}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated(workload.queries())


def oracle_sql() -> dict[str, str]:
    return _rotated(workload.oracles())
