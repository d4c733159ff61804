"""Regenerate CATALOG.md from the live workload registry.

Usage:  python scripts/gen_catalog.py
"""

from arthur_redshift_etl_spark.workload import REGISTRY

FAMILIES = [
    ("TPC-H relational family", lambda n: n.startswith("q") and n[1:3].isdigit()),
    ("Relational / window / set ops", lambda n: n in {
        "revenue_by_nation","top_customers_window","segment_nation_rollup","cube_status_priority",
        "grouping_sets_docs","nation_setop_except","nation_setop_intersect","pivot_event_type_daily",
        "median_quantity_by_flag","ntile_chars_quartiles","cumulative_customer_revenue",
        "customer_order_flags","customer_segment_stats","orders_no_early_lineitems",
        "top_tokens_per_lang","user_event_window_suite","date_dimension_spine","nation_revenue_share",
        "exact_quantiles_order_value","approx_distinct_customers"}),
    ("Extract / load / constraint / integrity (reference dataflow)", lambda n: n in {
        "extract_orders_sample","constraint_dup_orderkeys","constraint_pk_lineitem","dim_customer",
        "table_checksum_orders","reconcile_orders_drift","profile_orders_columns",
        "incremental_rollup_merge","merge_upsert_latest_events"}),
    ("Redshift-dialect compatibility shim", lambda n: n.startswith("dialect_")),
    ("Events / behavioral / time series", lambda n: n.startswith("event") or n in {
        "five_min_rollup","hourly_event_rollup","gapfilled_hourly_by_type","funnel_view_click_purchase",
        "first_touch_attribution","daily_cohort_retention","scd2_user_event_intervals",
        "cdc_latest_event","daily_event_anomaly_zscore","user_value_rolling_7d",
        "events_asof_last_purchase","events_json_stats","range_join_error_context"}),
    ("Deduplication", lambda n: n.startswith("dedup_")),
    ("Similarity / ANN / vectors", lambda n: n.startswith("ann_") or n.startswith("knn") or
        n.startswith("embedding_") or n == "kmeans_embedding_clusters"),
    ("Text analysis", lambda n: n.startswith("text_") or n == "doc_rolling_hash"),
    ("Corpus preparation", lambda n: n.startswith("corpus_") or n in {
        "decontaminate_ngram_overlap","split_train_valid_test","stratified_sample_by_source",
        "weighted_sample_orders"}),
    ("Skew / sampling / layout / multimodal", lambda n: True),
]


def render() -> str:
    """CATALOG.md's text for the live registry."""
    entries = dict(sorted(REGISTRY.items()))
    n_oracle = sum(1 for s in entries.values() if s.oracle)
    n_rest = len(entries) - n_oracle
    if n_rest:
        headline = (
            f"{len(entries)} entries; {n_oracle} with a full DuckDB value-hash"
            f" oracle; the remaining {n_rest} (sketch / iterative fixpoint)"
            " carry invariant tests and the driver's rows-only check."
        )
    else:
        headline = (
            f"{len(entries)} entries, every one with a full DuckDB"
            " value-hash oracle."
        )
    lines = [
        "# CATALOG — all workload entries (auto-generated from workload.REGISTRY)",
        "",
        headline,
        "Derived file — regenerate with",
        "`python scripts/gen_catalog.py`, do not hand-edit.",
        "",
    ]
    seen: set = set()
    for fam, pred in FAMILIES:
        rows = [(n, s) for n, s in entries.items() if n not in seen and pred(n)]
        if not rows:
            continue
        seen.update(n for n, _ in rows)
        lines += [f"## {fam} ({len(rows)})", "", "| entry | oracle | description |", "|---|---|---|"]
        for n, s in rows:
            d = " ".join((s.description or "").split())
            lines.append(f"| `{n}` | {'SQL' if s.oracle else 'invariants'} | {d} |")
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open("CATALOG.md", "w") as f:
        f.write(render())
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    print(f"CATALOG.md: {len(REGISTRY)} entries, {n_oracle} oracles")


if __name__ == "__main__":
    main()
