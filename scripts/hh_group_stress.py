#!/usr/bin/env python3
"""Measure per-group heavy-hitter prefilter pruning power vs group count.

The adversarial regime (VERDICT r3 item 3): "cold" keys whose GLOBAL count
clears the threshold but whose per-group count does not — they are spread
evenly over G groups.  A handful of "hot" keys are concentrated in group 0
and genuinely heavy there.  As G grows:

- the GLOBAL-key sketch bound (per-group count <= global count) stays at the
  global count, so every cold row survives the prefilter — pruning power
  decays to zero and the exact recount shuffles the full input;
- the COMPOSITE (group,key) sketch estimates each pair separately, so cold
  pairs' estimates fall as 1/G and pruning power *increases* with spread.

Output: one line per (G, mode) with survivor-row fraction after the
prefilter and wall time of the full exact operator.  Numbers go into
SCALE.md's "groups axis" table.

Run ALONE (32-core contention trap documented in memory/SCALE.md):
    python scripts/hh_group_stress.py

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.operators import sketch as sk  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

N_HOT = 10  # keys concentrated in group 0 (true heavy pairs)
HOT_COUNT = 100_000
N_COLD = 90  # keys spread evenly over G groups (globally heavy, locally light)
COLD_COUNT = 50_000
# BETWEEN the cold keys' per-group count (50k/G, G>=2) and their GLOBAL
# count (50k) — the regime where the global bound cannot prune them but the
# composite bound can.  (Collision noise is lumpy here: ~190 composites over
# 256 columns means most estimates are exact, min-over-4-rows kills the rest.)
THRESHOLD = 45_000


def build_df(spark, groups: int):
    hot = spark.range(N_HOT * HOT_COUNT).select(
        (F.col("id") % N_HOT).alias("k"), F.lit(0).alias("g")
    )
    # key from id mod, group from id DIV — decorrelated, so every cold key
    # spreads evenly over all G groups (id%N and (id div N)%G are independent)
    cold = spark.range(N_COLD * COLD_COUNT).select(
        (F.col("id") % N_COLD + N_HOT).alias("k"),
        ((F.col("id") / N_COLD).cast("long") % groups).alias("g"),
    )
    return hot.unionAll(cold)


def main() -> None:
    spark = build_session(
        app_name="hh-group-stress",
        master=f"local[{default_cpus()}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_total = N_HOT * HOT_COUNT + N_COLD * COLD_COUNT
    print(
        f"# rows={n_total} hot={N_HOT}x{HOT_COUNT} cold={N_COLD}x{COLD_COUNT} "
        f"threshold={THRESHOLD} noise_floor~{n_total // sk.CMS_WIDTH}"
    )
    for groups in (1, 2, 8, 64, 512, 4096):
        df = build_df(spark, groups).localCheckpoint()
        for mode in ("global", "composite"):
            if mode == "composite":
                sk_col = F.concat_ws(
                    "\x1f", F.col("g").cast("string"), F.col("k").cast("string")
                )
            else:
                sk_col = F.col("k")
            est = sk.cms_estimate_col(
                sk.collect_cms(sk.cms_table(df, sk_col)), sk_col
            )
            survivors = df.filter(est >= THRESHOLD).count()
            start = time.perf_counter()
            out = sk.heavy_hitters_per_group_exact(
                df, "k", "g", THRESHOLD, prefilter=mode
            ).count()
            wall = time.perf_counter() - start
            print(
                f"G={groups:5d} mode={mode:9s} survivors={survivors / n_total:7.1%} "
                f"heavy_pairs={out:3d} wall={wall:6.2f}s"
            )
    spark.stop()


if __name__ == "__main__":
    main()
