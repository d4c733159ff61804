"""The nightly_etl workload's fixture: a DuckDB upstream and a design repo.

The upstream is a DuckDB file holding the generated star tables; the design
repo is a file set in the shape of FIXTURES.md F2/F3: four source relations
that extract from the upstream (customer, nation, orders, lineitem), a
``dw.dim_customer`` dimension with an identity column and a missing-dimension
row, a ``dw.fact_order_line`` fact with a primary-key constraint, and two
views on top.
"""

from __future__ import annotations

import os

import duckdb

from arthur_redshift_etl_spark.repo import write_design

SOURCES = {
    "nation": [
        ("n_nationkey", "int", True),
        ("n_name", "string", False),
        ("n_regionkey", "int", False),
    ],
    "customer": [
        ("c_custkey", "long", True),
        ("c_name", "string", False),
        ("c_nationkey", "int", False),
        ("c_acctbal", "double", False),
        ("c_mktsegment", "string", False),
    ],
    "orders": [
        ("o_orderkey", "long", True),
        ("o_custkey", "long", False),
        ("o_orderstatus", "string", False),
        ("o_totalprice", "double", False),
        ("o_orderdate", "timestamp", True),
        ("o_orderpriority", "string", False),
    ],
    "lineitem": [
        ("l_orderkey", "long", True),
        ("l_linenumber", "int", True),
        ("l_quantity", "double", False),
        ("l_extendedprice", "double", False),
        ("l_discount", "double", False),
        ("l_shipdate", "timestamp", False),
    ],
}
SOURCE_KEYS = {
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
FACT = "dw.fact_order_line"
DIM = "dw.dim_customer"
REVENUE_VIEW = "dw.v_revenue_by_nation"
TOP_VIEW = "dw.v_top_nations"
VIEWS = (REVENUE_VIEW, TOP_VIEW)

DIM_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, c.c_mktsegment
FROM src.customer c
JOIN src.nation n ON c.c_nationkey = n.n_nationkey
"""
FACT_SQL = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderdate,
       CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
            AS DECIMAL(18,4)) AS gross
FROM src.lineitem l JOIN src.orders o ON l.l_orderkey = o.o_orderkey
"""
REVENUE_SQL = """
SELECT d.nation_name AS nation_name, CAST(SUM(f.gross) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM dw.fact_order_line f
JOIN dw.dim_customer d ON f.o_custkey = d.c_custkey
GROUP BY d.nation_name
"""
TOP_SQL = """
SELECT nation_name, revenue, rnk FROM (
  SELECT nation_name, revenue,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, nation_name) AS rnk
  FROM dw.v_revenue_by_nation
) WHERE rnk <= 5
"""
# The same answer computed by DuckDB straight from the generated parquet.
REVENUE_ORACLE = """
SELECT n.n_name AS nation_name,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
            * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
            AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def build_upstream(duck_path: str, data_dir: str) -> None:
    """Load the generated parquet tables the sources read into DuckDB."""
    if os.path.exists(duck_path):
        os.remove(duck_path)
    con = duckdb.connect(duck_path)
    try:
        for name in SOURCES:
            con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM '{data_dir}/{name}.parquet'"
            )
    finally:
        con.close()


def write_designs(root: str) -> None:
    """Write the design file set (YAML designs plus SQL) under ``root``."""
    for name, cols in SOURCES.items():
        design = {
            "name": f"src.{name}",
            "source_name": f"upstream.main.{name}",
            "columns": [
                {"name": c, "type": t, **({"not_null": True} if nn else {})}
                for c, t, nn in cols
            ],
            "constraints": [{"primary_key": SOURCE_KEYS[name]}],
        }
        if name == "lineitem":
            design["extract_settings"] = {"split_by": ["l_orderkey"]}
        write_design(root, design)
    write_design(
        root,
        {
            "name": DIM,
            "source_name": "CTAS",
            "columns": [
                {"name": "customer_key", "type": "long", "identity": True,
                 "not_null": True},
                {"name": "c_custkey", "type": "long", "not_null": True},
                {"name": "c_name", "type": "string"},
                {"name": "nation_name", "type": "string"},
                {"name": "c_mktsegment", "type": "string"},
            ],
            "constraints": [
                {"surrogate_key": ["customer_key"]},
                {"natural_key": ["c_custkey"]},
            ],
            "depends_on": ["src.customer", "src.nation"],
        },
        query=DIM_SQL,
    )
    write_design(
        root,
        {
            "name": FACT,
            "source_name": "CTAS",
            "columns": [
                {"name": "l_orderkey", "type": "long", "not_null": True},
                {"name": "l_linenumber", "type": "int", "not_null": True},
                {"name": "o_custkey", "type": "long"},
                {"name": "o_orderdate", "type": "timestamp"},
                {"name": "gross", "type": "decimal", "sql_type": "decimal(18,4)"},
            ],
            "attributes": {
                "distribution": ["o_custkey"],
                "compound_sort": ["o_orderdate"],
            },
            "constraints": [{"primary_key": ["l_orderkey", "l_linenumber"]}],
            "depends_on": ["src.orders", "src.lineitem"],
        },
        query=FACT_SQL,
    )
    write_design(
        root,
        {
            "name": REVENUE_VIEW,
            "source_name": "VIEW",
            "columns": [{"name": "nation_name"}, {"name": "revenue"},
                        {"name": "n_lines"}],
            "depends_on": [FACT, DIM],
        },
        query=REVENUE_SQL,
    )
    write_design(
        root,
        {
            "name": TOP_VIEW,
            "source_name": "VIEW",
            "columns": [{"name": "nation_name"}, {"name": "revenue"},
                        {"name": "rnk"}],
            "depends_on": [REVENUE_VIEW],
        },
        query=TOP_SQL,
    )
