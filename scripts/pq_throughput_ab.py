"""PQ/ADC vs exact-scan throughput: does the map-only PQ claim pay?

Scales the 500-vector embeddings table by SPARK_GRAFT_PQ_COPIES (default
320 -> 160 k vectors) by unioning id-shifted copies, materializes it as
parquet (so both scans read the same layout), then measures:

- exact scan: integer micro-unit L2 against a literal query over the raw
  float vectors + TakeOrdered top-10 (the brute-force baseline);
- encode: one pass assigning each vector its 4 PQ codes (the one-time
  index build), materialized as parquet;
- ADC scan: top-10 over the CODES table — 4 map-literal LUT lookups per
  row, never touching the float vectors.

Prints walls, rows/s, and the storage ratio of codes vs raw vectors —
the two numbers that justify PQ at billion-vector scale (the scan does
arithmetic on 4 small ints instead of 64 floats, and the index it scans
is a fraction of the raw bytes).  Encode amortizes after
encode_wall / (exact_wall - adc_wall) queries.

Run ALONE:
    PYTHONPATH=/root/repo python scripts/pq_throughput_ab.py
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.workload import pq  # noqa: E402
from arthur_redshift_etl_spark.operators import quantization as qz  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402

COPIES = int(os.environ.get("SPARK_GRAFT_PQ_COPIES", "320"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
M, SUB, K, QUERY_ID = (
    pq.PQ_M,
    pq.PQ_SUB,
    pq.PQ_K,
    pq.PQ_QUERY_ID,
)


def dir_bytes(d):
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    spark = build_session(
        app_name="pq-ab",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="pq_ab_")

    emb = workload.t(spark, SF_DIR, "embeddings")
    base_n = emb.count()
    copies = spark.range(COPIES).select(F.col("id").alias("copy"))
    big = emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * base_n).alias("vec_id"), "embedding"
    )
    raw_dir = os.path.join(work, "vectors")
    big.write.mode("overwrite").parquet(raw_dir)
    vectors = spark.read.parquet(raw_dir)
    n = vectors.count()

    first = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < K).collect()
    }
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == QUERY_ID).collect()[0]["embedding"]
    )
    xm = qz.micro_components()

    # -- exact scan --------------------------------------------------------
    qlits = F.array(*[F.lit(c).cast("long") for c in query])
    exact_d = F.aggregate(
        F.zip_with(xm, qlits, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_expr = vectors.select("vec_id", exact_d.alias("d")).orderBy(
        "d", "vec_id"
    ).limit(10)
    exact_expr.collect()  # codegen warm
    t0 = time.perf_counter()
    exact_top = [r["vec_id"] for r in exact_expr.collect()]
    exact_wall = time.perf_counter() - t0

    # -- encode (one-time) -------------------------------------------------
    codes_dir = os.path.join(work, "codes")
    t1 = time.perf_counter()
    qz.pq_encode(vectors, first, M, SUB).select(
        "vec_id", *[F.col(f"code{m}").cast("byte").alias(f"code{m}") for m in range(M)]
    ).write.mode("overwrite").parquet(codes_dir)
    encode_wall = time.perf_counter() - t1
    codes = spark.read.parquet(codes_dir)

    # -- ADC scan over codes ----------------------------------------------
    lut = qz.pq_adc_lut(query, first, M, SUB)
    adc_expr = codes.select(
        "vec_id", qz.pq_adc_score(lut, M).alias("d")
    ).orderBy("d", "vec_id").limit(10)
    adc_expr.collect()  # codegen warm
    t2 = time.perf_counter()
    adc_top = [r["vec_id"] for r in adc_expr.collect()]
    adc_wall = time.perf_counter() - t2

    raw_b, code_b = dir_bytes(raw_dir), dir_bytes(codes_dir)
    recall = len(set(adc_top) & set(exact_top)) / 10.0
    out = {
        "n_vectors": n,
        "exact_scan_s": round(exact_wall, 3),
        "exact_rows_per_s": int(n / exact_wall),
        "encode_s": round(encode_wall, 3),
        "adc_scan_s": round(adc_wall, 3),
        "adc_rows_per_s": int(n / adc_wall),
        "adc_speedup": round(exact_wall / adc_wall, 2),
        "raw_bytes": raw_b,
        "code_bytes": code_b,
        "storage_ratio": round(raw_b / code_b, 1),
        "amortize_after_queries": (
            int(encode_wall / (exact_wall - adc_wall)) + 1
            if exact_wall > adc_wall
            else None
        ),
        "recall_at_10_vs_exact": recall,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
