#!/usr/bin/env python3
"""A/B: pq_reconstruction_error — M-scan union vs single-scan posexplode.

The shipped entry computes the per-subspace nearest-codeword error with one
DataFrame per subspace m and a unionAll: PQ_M parquet scans, each paying the
64-element micro_components transform before its own 8-codeword distance
block.  The candidate form evaluates ALL M subspace argmins in one
projection (array of M errs) and posexplodes to (m, err) rows: one scan,
micro_components evaluated once per row, the identical int64 expressions
per (m, cid) otherwise.

Equivalence: per (row, m) the err expression is literally the same
expression tree; posexplode's pos column enumerates 0..M-1 exactly as the
lit(m) labels did; groupBy("m") then aggregates the same multiset of
(m, err) values, so the 4 output rows are bit-identical.  Asserted below.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.operators import quantization as qz  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="pq-recon-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    PQ_M, PQ_SUB, PQ_K = workload.PQ_M, workload.PQ_SUB, workload.PQ_K

    def shipped():
        return workload.pq_reconstruction_error(spark, sf_dir)

    def single_scan():
        emb = workload.t(spark, sf_dir, "embeddings")
        codebooks = {
            r["vec_id"]: qz.micro_list(r["embedding"])
            for r in emb.filter(F.col("vec_id") < PQ_K).collect()
        }
        xm = emb.select(qz.micro_components(F.col("embedding")).alias("xm"))
        errs = F.array(
            *[
                F.array_min(
                    F.array(
                        *[
                            qz.pq_subspace_distance(
                                F.col("xm"), codebooks[cid], m, PQ_SUB
                            )
                            for cid in sorted(codebooks)
                        ]
                    )
                )
                for m in range(PQ_M)
            ]
        )
        ex = xm.select(F.posexplode(errs).alias("m", "err")).select(
            F.col("m").cast("long").alias("m"), "err"
        )
        return ex.groupBy("m").agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("err").cast("long").alias("total_sq_err"),
            F.expr("sum(err) div count(1)").cast("long").alias("mean_sq_err"),
        )

    ra = sorted(map(tuple, shipped().collect()))
    rb = sorted(map(tuple, single_scan().collect()))
    print("parity:", "EXACT" if ra == rb else f"DIFFERS\n{ra}\nvs\n{rb}")
    if ra != rb:
        return
    for name, fn in (("shipped_4scan", shipped), ("single_scan", single_scan)):
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(7):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        print(f"pq_recon[{name}]: min {min(ts):.3f}s median {sorted(ts)[3]:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
