#!/usr/bin/env python3
"""A/B: AllPairs prefix selection — window row_number vs row-local sort.

The prefix stage of containment/jaccard joins ranks each document's
shingles by (global doc_freq, hash) and keeps the first
|A| − ⌈t·|A|⌉ + 1.  The shipped form is a row_number window: one hash
exchange by doc + a full partition SORT of every (doc, h, freq) row.  The
candidate replacement groups by doc, sorts each ~50-element struct array
ROW-LOCALLY (sort_array), and explodes the per-doc slice — same single
exchange, no partition-wide sort, bounded per-row work.

Candidate-set equivalence: both produce exactly the first prefix_len
elements of the same per-doc total order, so outputs are identical (not
just equivalent) — asserted below.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.operators import dedup as dd  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="prefix-rank-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = workload.t(spark, sf_dir, "documents")
    docs.count()
    sh = (
        dd.doc_shingles(docs, "doc_id", "text", 3)
        .withColumn("h", dd.hash64(F.col("shingle")))
        .persist()
    )
    sh.count()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("doc_freq"))
    thr_micro = 800_000
    prefix_len = (
        F.col("set_size")
        - F.expr(f"({thr_micro} * set_size + 999999) div 1000000")
        + 1
    )

    def window_form():
        order = Window.partitionBy("doc_id").orderBy("doc_freq", "h")
        return (
            sh.select("doc_id", "h")
            .join(freq, "h")
            .withColumn("rn", F.row_number().over(order))
            .join(sizes, "doc_id")
            .filter((F.col("rn") <= prefix_len) & (F.col("set_size") >= 5))
            .select("doc_id", "h", "set_size")
        )

    def rowlocal_form():
        g = (
            sh.select("doc_id", "h")
            .join(freq, "h")
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_freq", "h"))
                ).alias("o"),
                F.count(F.lit(1)).alias("set_size"),
            )
            .filter(F.col("set_size") >= 5)
        )
        return g.select(
            "doc_id",
            F.explode(F.slice(F.col("o"), F.lit(1), prefix_len)).alias("e"),
            "set_size",
        ).select("doc_id", F.col("e.h").alias("h"), "set_size")

    ra = sorted(map(tuple, window_form().collect()))
    rb = sorted(map(tuple, rowlocal_form().collect()))
    print("parity:", "EXACT" if ra == rb else f"DIFFERS {len(ra)} vs {len(rb)}")
    if ra != rb:
        return
    for name, fn in (("window", window_form), ("rowlocal", rowlocal_form)):
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(7):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        print(f"prefix[{name}]: min {min(ts):.3f}s median {sorted(ts)[3]:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
