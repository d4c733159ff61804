#!/usr/bin/env python3
"""Write-path throughput: codec and partitioned-layout cost, measured.

The write path is half of an ETL: every CTAS/load materializes parquet
(loader.py), and at 100 TB the codec and layout decisions dominate both
write wall-clock and downstream scan cost.  This harness measures, on the
sf1.0-equivalent lineitem (6M rows, scripts/bench_scale_tier.py tier):

- codec A/B: zstd (engine default, session.py) vs snappy vs lz4 vs none —
  wall, output bytes, effective MB/s and rows/s;
- layout A/B: plain write vs naive `partitionBy(month)` (every task holds
  a file per month -> files = tasks x months, the small-files trap) vs
  the loader's repartition-on-partition-key-then-partitionBy (one file
  per partition, shuffle paid once);
- file-count evidence for each layout (the 100 TB metadata concern: a
  naive partitioned write of a 32k-task job x 84 months is 2.7M files).

Run ALONE (32-core contention trap):  python scripts/write_throughput.py
Env: SPARK_GRAFT_WRITE_SRC (default /tmp/spark_graft_sf1/lineitem.parquet;
     generate with SPARK_GRAFT_SCALE_COPIES=10 scripts/bench_scale_tier.py)
     SPARK_GRAFT_CPUS (default: the process's cores, session.default_cpus)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark.session import default_cpus  # noqa: E402

SRC = os.environ.get(
    "SPARK_GRAFT_WRITE_SRC", "/tmp/spark_graft_sf1/lineitem.parquet"
)
CPUS = default_cpus()
OUT = "/tmp/write_tp"


def dir_stats(path: str) -> tuple[int, int]:
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def measure(df, writer_fn, label: str, n_rows: int, results: dict) -> None:
    dst = os.path.join(OUT, label)
    shutil.rmtree(dst, ignore_errors=True)
    t0 = time.perf_counter()
    writer_fn(df, dst)
    wall = time.perf_counter() - t0
    n_files, n_bytes = dir_stats(dst)
    results[label] = {
        "wall_s": round(wall, 2),
        "files": n_files,
        "mb": round(n_bytes / 1e6, 1),
        "mb_per_s": round(n_bytes / 1e6 / wall, 1),
        "krows_per_s": round(n_rows / 1e3 / wall, 1),
    }
    print(f"# {label}: {results[label]}", file=sys.stderr)


def main() -> int:
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.session import build_session

    if not os.path.exists(SRC):
        print(f"missing {SRC}; run bench_scale_tier.py first", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    spark = build_session(
        app_name="write-throughput",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(SRC)
    # decouple from source-file parallelism and keep the input in memory so
    # every config measures the WRITE, not the read
    df = base.repartition(CPUS).persist()
    n_rows = df.count()

    results: dict[str, dict] = {}
    for codec in ("zstd", "snappy", "lz4", "uncompressed"):
        measure(
            df,
            lambda d, p, c=codec: d.write.option("compression", c).parquet(p),
            f"codec_{codec}",
            n_rows,
            results,
        )

    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    dfp = df.withColumn("ship_month", month).persist()
    dfp.count()
    measure(
        dfp,
        lambda d, p: d.write.partitionBy("ship_month").parquet(p),
        "partitioned_naive",
        n_rows,
        results,
    )
    measure(
        dfp,
        lambda d, p: d.repartition("ship_month")
        .write.partitionBy("ship_month")
        .parquet(p),
        "partitioned_repartitioned",
        n_rows,
        results,
    )

    # the low-cardinality cliff partition_write_buckets exists for:
    # 3 partition values (l_returnflag) x 6M rows — co-location alone
    # collapses the write to 3 tasks; an 8-way distkey salt restores
    # parallelism at 8 co-located files per value.  AQE coalescing is
    # disabled for this pair: at sf1.0 the salted partitions (~8 MB) sit
    # under the advisory target and would re-merge, which production-size
    # partitions never do — the A/B must show the parallelism effect.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    measure(
        dfp,
        lambda d, p: d.repartition("l_returnflag")
        .write.partitionBy("l_returnflag")
        .parquet(p),
        "lowcard_colocated_3tasks",
        n_rows,
        results,
    )
    measure(
        dfp,
        lambda d, p: d.repartition(
            F.col("l_returnflag"), F.pmod(F.xxhash64("l_orderkey"), F.lit(8))
        )
        .write.partitionBy("l_returnflag")
        .parquet(p),
        "lowcard_bucketed_8x",
        n_rows,
        results,
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    report = {"src": SRC, "rows": n_rows, "cores": CPUS, "configs": results}
    out_path = os.environ.get("SPARK_GRAFT_WRITE_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(report, fh)
    spark.stop()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
