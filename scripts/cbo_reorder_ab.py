"""CBO join-reorder A/B: what column statistics actually buy.

The loader ANALYZEs every published relation (table-level: size + row
count) and `attributes.stats_columns` opt-in computes per-column
ndv/min/max (`loader._analyze_relation`).  This script measures what each
tier buys on the canonical reorder victim: a star query WRITTEN in the
pessimal order —

    lineitem JOIN orders ON orderkey     -- two large tables first
             JOIN part   ON partkey WHERE p_brand = <one brand>

The selective dim is joined LAST in the text.  A cost-based reorderer
with column stats knows the brand filter keeps ~1/25 of part and should
join lineitem x filtered-part first; without selectivity inputs the
optimizer keeps the written order and pays the full large-x-large join.

Conditions (fresh catalog tables each, same data, same session conf —
CBO + joinReorder on, AQE on, engine defaults):
  A  no statistics at all
  B  table-level stats only (what plain ANALYZE gives)
  C  table stats + FOR COLUMNS on the join keys and the filter column
     (what stats_columns gives)

Reported per condition: the join order the optimizer actually chose
(leaf order in the optimized logical plan), median wall over N runs, and
result checksum (must be identical across conditions).

Run alone (box-noise sensitive):  python scripts/cbo_reorder_ab.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS (default: the
process's cores, session.default_cpus).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
REPS = int(os.environ.get("SPARK_GRAFT_CBO_REPS", "5"))

QUERY = """
SELECT l.l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,2)) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part   p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#23' AND o.o_orderstatus = 'F'
GROUP BY l.l_returnflag
"""

STATS_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_returnflag"],
    "orders": ["o_orderkey", "o_orderstatus"],
    "part": ["p_partkey", "p_brand"],
}


def leaf_order(df) -> list[str]:
    """Table names in the order they appear as join leaves in the
    optimized logical plan (textual leaf order tracks the join tree's
    left-deep build order)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    hits = []
    for m in re.finditer(r"spark_catalog\.default\.(\w+)", plan):
        if m.group(1) not in hits:
            hits.append(m.group(1))
    return hits


def run_condition(spark, label: str, analyze: str) -> dict:
    for tbl in ("lineitem", "orders", "part"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.catalog.clearCache()
        (
            spark.read.parquet(f"{SF_DIR}/{tbl}.parquet")
            .write.mode("overwrite")
            .saveAsTable(tbl)
        )
        if analyze in ("table", "columns"):
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        if analyze == "columns":
            cols = ", ".join(STATS_COLS[tbl])
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {cols}")

    df = spark.sql(QUERY)
    order = leaf_order(df)
    walls = []
    rows = None
    for _ in range(REPS):
        t0 = time.perf_counter()
        rows = spark.sql(QUERY).collect()
        walls.append(time.perf_counter() - t0)
    checksum = sorted((r[0], r[1], str(r[2])) for r in rows)
    out = {
        "condition": label,
        "join_leaf_order": order,
        "wall_median_s": round(statistics.median(walls), 4),
        "wall_all_s": [round(w, 4) for w in walls],
        "checksum": checksum,
    }
    print(
        f"# {label}: order={'>'.join(order)} median={out['wall_median_s']}s",
        file=sys.stderr,
    )
    return out


def main() -> int:
    from arthur_redshift_etl_spark.session import build_session

    spark = build_session(
        app_name="cbo-reorder-ab",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "reps": REPS,
        "conditions": [
            run_condition(spark, "A_no_stats", "none"),
            run_condition(spark, "B_table_stats", "table"),
            run_condition(spark, "C_column_stats", "columns"),
        ],
    }
    checks = {json.dumps(c["checksum"]) for c in report["conditions"]}
    report["checksums_identical"] = len(checks) == 1
    for c in report["conditions"]:
        del c["checksum"]
    spark.stop()
    print(json.dumps(report))
    return 0 if report["checksums_identical"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
