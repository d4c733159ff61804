#!/usr/bin/env python3
"""A/B: interpreted HOF dot (aggregate∘zip_with) vs unrolled element_at chain.

The similarity family's inner loop is `aggregate(zip_with(a,b,*), 0.0, +)` —
higher-order-function lambdas are evaluated INTERPRETED per element inside an
otherwise codegen'd stage (guide §4.1/§1.2 "per-task work").  An unrolled
left-associated chain  (((0.0 + a[1]*b[1]) + a[2]*b[2]) + ...)  is the same
float operation sequence (bit-identical doubles) but whole-stage-codegen'd.

Measures the knn_bruteforce scoring shape (collection × broadcast queries)
with a noop sink, and verifies exact value equality of every sim.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402
from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.operators import similarity as sim  # noqa: E402


def dot_fold(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def dot_unrolled(a, b, dim):
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    spark = build_session(
        app_name="dot-ab", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = workload.t(spark, sf_dir, "embeddings")

    def scored(dot_impl):
        q = sim.normalized(emb.filter(F.col("vec_id") < 10), "vec_id", "query_id",
                           "embedding", "qv")
        c = sim.normalized(emb, "vec_id", "neighbor_id", "embedding", "cv")
        return (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    dot_impl(F.col("qv"), F.col("cv")).alias("sim"))
        )

    variants = {
        "fold": lambda a, b: dot_fold(a, b),
        "unroll64": lambda a, b: dot_unrolled(a, b, 64),
        "guarded64": lambda a, b: F.when(
            F.size(a) == 64, dot_unrolled(a, b, 64)
        ).otherwise(dot_fold(a, b)),
    }

    # value parity first (exact doubles)
    base = {(r[0], r[1]): r[2] for r in scored(variants["fold"]).collect()}
    for name in ("unroll64", "guarded64"):
        other = {(r[0], r[1]): r[2] for r in scored(variants[name]).collect()}
        diff = {k for k in base if base[k] != other.get(k)}
        print(f"parity {name}: {'EXACT' if not diff else f'DIFFERS on {len(diff)}'}")

    for name, impl in variants.items():
        df = scored(impl)
        df.write.format("noop").mode("overwrite").save()  # warm codegen
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{name}: min {min(times):.3f}s median {sorted(times)[2]:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
