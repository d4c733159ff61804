"""Workload definitions and their oracle answers.

The query list is written out here rather than imported from ``bench.py``,
so an edit to the repo's own bench cannot silently change a workload.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

from perfbench import datagen, etl

# The 18 relational bench queries: TPC-H shapes plus the star rollups and
# event-stream windows.
STAR_SQL = [
    "q01_pricing_summary",
    "q03_top_orders",
    "q04_order_priority",
    "q05_region_nation_revenue",
    "q06_forecast_revenue",
    "q07_volume_shipping",
    "q08_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_predicates",
    "q21_waiting_suppliers",
    "revenue_by_nation",
    "top_customers_window",
    "segment_nation_rollup",
    "hourly_event_rollup",
    "event_sessions",
]

WORKLOADS = ("star_sql", "nightly_etl")


def normalize(value):
    """One cell as a comparable string, as the repo's oracle tests do it."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return f"{value:.10g}"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def canonical(columns, rows) -> dict:
    """Column names plus the order-insensitive normalized rows."""
    return {
        "columns": list(columns),
        "rows": sorted([normalize(v) for v in row] for row in rows),
    }


def duck_views(data_dir: str):
    con = duckdb.connect()
    for name in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
        )
    return con


def duck_answer(con, sql: str) -> dict:
    res = con.execute(sql)
    return canonical([d[0] for d in res.description], res.fetchall())


def star_oracles(data_dir: str) -> dict:
    """Expected answer of every star_sql query, computed by DuckDB."""
    from arthur_redshift_etl_spark import workload

    con = duck_views(data_dir)
    try:
        return {q: duck_answer(con, workload.REGISTRY[q].oracle) for q in STAR_SQL}
    finally:
        con.close()


def etl_oracles(data_dir: str) -> dict:
    """Expected published row counts and view contents for nightly_etl."""
    con = duck_views(data_dir)
    try:
        count = lambda t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]  # noqa: E731
        top = duck_answer(
            con,
            f"SELECT nation_name, revenue, CAST(ROW_NUMBER() OVER "
            f"(ORDER BY revenue DESC, nation_name) AS INTEGER) AS rnk "
            f"FROM ({etl.REVENUE_ORACLE}) QUALIFY rnk <= 5",
        )
        return {
            "source_rows": {name: count(name) for name in etl.SOURCES},
            "fact_rows": count("lineitem"),
            "dim_rows": count("customer") + 1,
            "views": {
                etl.REVENUE_VIEW: duck_answer(con, etl.REVENUE_ORACLE),
                etl.TOP_VIEW: top,
            },
        }
    finally:
        con.close()


def prepare(workload_name: str, work_dir: str, sf: float, seed: int) -> dict:
    """Generate the seeded inputs and write the oracle answers for one run.

    Returns the paths the session process needs.  None of this is timed: it
    is the benchmark's own preparation.
    """
    data_dir = os.path.join(work_dir, "data")
    datagen.write_tables(data_dir, sf, seed)
    spec = {
        "workload": workload_name,
        "data_dir": data_dir,
        "seed": seed,
        "expected_path": os.path.join(work_dir, "expected.json"),
    }
    if workload_name == "star_sql":
        expected = star_oracles(data_dir)
    else:
        spec["duck_path"] = os.path.join(work_dir, "upstream.duckdb")
        etl.build_upstream(spec["duck_path"], data_dir)
        spec["design_root"] = os.path.join(work_dir, "design")
        etl.write_designs(spec["design_root"])
        expected = etl_oracles(data_dir)
    with open(spec["expected_path"], "w") as fh:
        json.dump(expected, fh)
    return spec
