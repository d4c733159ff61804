"""Silhouette anchor-budget sensitivity (r11): is ~128 fixed anchors enough?

The fixed-budget anchor sample is what makes the silhouette linear
(O(anchors x n)) instead of quadratic; this study measures what the budget
buys — the corpus-level anchor-weighted mean silhouette and wall at
budgets 32 / 128 / 512, init and trained assignments, sf0.01 and sf0.1.
A metric that moves < the init-vs-trained delta across a 16x budget range
means the default budget is not the noise floor.

Run ALONE: PYTHONPATH=/root/repo python scripts/silhouette_anchor_budget_ab.py
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arthur_redshift_etl_spark.workload import cluster_eval, t  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402

BUDGETS = (32, 128, 512)
TIERS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _mean_sil(rows) -> float:
    w = sum(r["n_anchors"] for r in rows)
    return sum(r["mean_silhouette"] * r["n_anchors"] for r in rows) / w


def main() -> None:
    spark = build_session(
        app_name="sil-anchor-budget-ab",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    default = cluster_eval.SIL_ANCHOR_BUDGET
    out = {}
    try:
        for sf in TIERS:
            t(spark, sf, "embeddings").count()
            tier = {}
            for budget in BUDGETS:
                cluster_eval.SIL_ANCHOR_BUDGET = budget
                cell = {}
                for tag, fn in (
                    ("init", cluster_eval.kmeans_silhouette_eval),
                    ("trained", cluster_eval.kmeans_trained_silhouette),
                ):
                    fn(spark, sf).count()  # warm
                    t0 = time.time()
                    rows = [r.asDict() for r in fn(spark, sf).collect()]
                    cell[tag] = {
                        "mean_silhouette": round(_mean_sil(rows), 6),
                        "n_anchors": int(sum(r["n_anchors"] for r in rows)),
                        "wall_s": round(time.time() - t0, 3),
                    }
                tier[f"budget_{budget}"] = cell
            out[os.path.basename(sf)] = tier
    finally:
        cluster_eval.SIL_ANCHOR_BUDGET = default
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
