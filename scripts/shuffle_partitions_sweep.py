#!/usr/bin/env python3
"""Shuffle-partition sensitivity: is the engine tuned to a magic constant?

`spark.sql.shuffle.partitions` is the config most likely to be WRONG at a
new scale: too few -> giant spilling partitions, too many -> task-launch
overhead and tiny files.  The engine's position (SCALE.md sizing rules) is
that AQE partition coalescing makes OVER-provisioning nearly free, so the
setting can be sized for the largest stage and left alone.  This harness
measures that claim on the sf1.0 tier (6M-row lineitem): the 16 fact-driven
bench queries, one warm session, a pass per setting (the conf is runtime-
mutable SQLConf; AQE reads it as the initial partition count per stage).

If the claim holds, wall-clock is flat across 32 -> 512 with AQE on, and
degrades at 512 with AQE coalescing OFF (the counterfactual pass).

Run ALONE (32-core contention trap):  python scripts/shuffle_partitions_sweep.py
Env: SPARK_GRAFT_SF_DIR (default /tmp/spark_graft_sf1)
     SPARK_GRAFT_CPUS (default: the process's cores, session.default_cpus)
     SPARK_GRAFT_SWEEP_SETTINGS="32,128,512"
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/spark_graft_sf1")
CPUS = default_cpus()
SETTINGS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_SWEEP_SETTINGS", "32,128,512").split(",")
]
FACT_QUERIES = [
    "q01_pricing_summary", "revenue_by_nation", "q03_top_orders",
    "q04_order_priority", "q05_region_nation_revenue", "q06_forecast_revenue",
    "q07_volume_shipping", "q10_returned_items", "q13_customer_distribution",
    "q14_promo_revenue", "q08_market_share", "q18_large_orders",
    "q19_disjunctive_predicates", "q21_waiting_suppliers",
    "top_customers_window", "segment_nation_rollup",
]


def run_pass(spark, label: str) -> dict:
    timings = {}
    for name in FACT_QUERIES:
        t0 = time.perf_counter()
        workload.REGISTRY[name].fn(spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)
    total = round(sum(timings.values()), 2)
    print(f"# {label}: total {total}s", file=sys.stderr)
    return {"total": total, "queries": timings}


def main() -> int:
    if not os.path.exists(SF_DIR):
        print(f"missing {SF_DIR}; run bench_scale_tier.py first", file=sys.stderr)
        return 2
    spark = build_session(
        app_name="shuffle-sweep",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for tbl in "region nation customer supplier part orders lineitem".split():
        workload.t(spark, SF_DIR, tbl).count()
    run_pass(spark, "warmup")

    report = {"sf_dir": SF_DIR, "cores": CPUS, "passes": {}}
    for n in SETTINGS:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        report["passes"][f"aqe_{n}"] = run_pass(spark, f"aqe on, {n} partitions")
    # counterfactual: the largest setting with coalescing disabled — the
    # cost AQE is absorbing
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    n = SETTINGS[-1]
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    report["passes"][f"noaqe_{n}"] = run_pass(spark, f"coalescing off, {n}")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(CPUS))

    out_path = os.environ.get("SPARK_GRAFT_SWEEP_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(report, fh)
    spark.stop()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
