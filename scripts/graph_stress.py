#!/usr/bin/env python3
"""Scaling stress for the graph-family catalog entries.

Replicates sf0.1 lineitem K-fold with BOTH l_orderkey and l_partkey
offset per replica, producing K disjoint copies of the co-purchase
graph: edge count and triangle count scale K-fold while the degree
distribution stays constant — the "more data, same distribution" axis.
Offsetting only the orderkey would instead densify the graph (same
parts, K x more co-orders), which changes the support>=2 thinning
regime rather than testing throughput; the disjoint axis isolates the
shuffle scaling of the edge self-join, the wedge join, and the
per-iteration rank aggregates.

Runs the EXACT catalog entries (pagerank_two_iterations,
triangle_count_parts) against each tier so the measured plan is the
shipped plan.  Prints one JSON line per (entry, factor); paste rows
into SCALE.md.

Usage: python scripts/graph_stress.py [--tiers 1,3,10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.workload import REGISTRY  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OFFSET = 100_000_000


def replicate_lineitem(
    spark, src: str, dst: str, factor: int, hub_frac: float = 0.0,
    hub_id: int = 10000,
) -> int:
    base = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    out = (
        base.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("__r") * OFFSET)
        .withColumn("l_partkey", F.col("l_partkey") + F.col("__r") * OFFSET)
        .drop("__r")
    )
    if hub_frac > 0:
        # hub-skew axis: inject ONE part into hub_frac of all orders.  The
        # hub id must sit mid-id-range: the id-canonical wedge join blows
        # up at a node with large in-degree x out-degree (wedge CENTER),
        # and a minimal or maximal id has one of the two at zero.  A
        # mid-range hub gets ~d/2 in x ~d/2 out => O(d^2/4) wedge pairs in
        # one task group; degree orientation is immune to id placement.
        mod = max(1, round(1.0 / hub_frac))
        hub_rows = (
            out.filter(F.col("l_orderkey") % mod == 0)
            .dropDuplicates(["l_orderkey"])
            .withColumn("l_partkey", F.lit(hub_id).cast("long"))
        )
        out = out.unionByName(hub_rows)
    out.write.mode("overwrite").parquet(os.path.join(dst, "lineitem.parquet"))
    return out.count()


def naive_triangle_count(spark, sf_dir):
    """The pre-round-5 id-canonical wedge join (src<dst, no degree
    orientation) — kept here ONLY as the hub-skew comparator for
    SCALE.md; the shipped entry uses degree orientation."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    bq = li.alias("b")
    e = (
        a.join(
            bq,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("src", "dst")
    )
    ex = e.select(F.col("src").alias("xa"), F.col("dst").alias("xb"))
    ey = e.select(F.col("src").alias("yb"), F.col("dst").alias("yc"))
    ez = e.select(F.col("src").alias("za"), F.col("dst").alias("zc"))
    tri = (
        ex.join(ey, F.col("xb") == F.col("yb"))
        .join(ez, (F.col("za") == F.col("xa")) & (F.col("zc") == F.col("yc")))
        .select(
            F.col("xa").alias("a"),
            F.col("xb").alias("b"),
            F.col("yc").alias("c"),
        )
    )
    return (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="1,3,10")
    ap.add_argument(
        "--entries", default="pagerank_two_iterations,triangle_count_parts"
    )
    ap.add_argument(
        "--hub-frac",
        type=float,
        default=0.0,
        help="inject a hub part into this fraction of orders; also runs "
        "the naive id-canonical comparator (entry=triangle_naive)",
    )
    ap.add_argument(
        "--hub-id",
        type=int,
        default=10000,
        help="hub part id; mid-id-range is the adversarial placement for "
        "the id-canonical orientation",
    )
    args = ap.parse_args()

    spark = build_session(
        "graph-stress",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    for entry in [e.strip() for e in args.entries.split(",") if e.strip()]:
        for factor in [int(x) for x in args.tiers.split(",") if x]:
            tmp = tempfile.mkdtemp(prefix=f"{entry}_x{factor}_")
            try:
                rows_in = replicate_lineitem(
                    spark, SF_DIR, tmp, factor,
                    hub_frac=args.hub_frac, hub_id=args.hub_id,
                )
                spark._jvm.System.gc()
                t0 = time.monotonic()
                if entry == "triangle_naive":
                    n = naive_triangle_count(spark, tmp).count()
                elif entry == "pagerank_shuffle":
                    # force the measured auto-broadcast fallback: node
                    # tables join shuffle-side co-partitioned on src —
                    # the plan a 100-TB node table would get
                    from arthur_redshift_etl_spark.workload import lm_quality as wl

                    saved = wl.PAGERANK_NODE_BCAST_LIMIT_BYTES
                    wl.PAGERANK_NODE_BCAST_LIMIT_BYTES = 0
                    try:
                        n = REGISTRY["pagerank_two_iterations"].fn(
                            spark, tmp
                        ).count()
                    finally:
                        wl.PAGERANK_NODE_BCAST_LIMIT_BYTES = saved
                else:
                    n = REGISTRY[entry].fn(spark, tmp).count()
                wall = time.monotonic() - t0
                print(
                    json.dumps(
                        {
                            "entry": entry,
                            "factor": factor,
                            "rows_in": rows_in,
                            "rows_out": n,
                            "wall_s": round(wall, 2),
                        }
                    ),
                    flush=True,
                )
            finally:
                # drop the entries' persisted frames (edges/degree/oriented)
                # between runs — in an entries x tiers sweep the cached
                # blocks otherwise accumulate across runs, pressuring
                # storage memory and skewing later-tier timings
                spark.catalog.clearCache()
                shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
