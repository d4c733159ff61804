"""Parquet bloom-filter point-lookup A/B: plain vs bloom vs sorted layouts.

The 100 TB question this answers: a point predicate on a high-cardinality
column the table is NOT sorted on (RTBF reverse lookup by user key, incident
forensics by request id, CDC existence probes) prunes NOTHING via row-group
min/max stats — every row group spans the full value range — so the scan
decodes the whole table.  A per-row-group bloom filter
(``parquet.bloom.filter.enabled#col``, wired into the loader via
``attributes.bloom_filter_columns``) answers "is this value in this row
group" from the footer, so the scan decodes ~1 row group for a hit and ZERO
for a miss, at a few-percent file-size cost.  Sorting the table on the probe
column is the stats-only alternative — cheapest reads, but a table has one
sort order and the probe column usually isn't it.

Three layouts of the same shuffled (k, payload, pad) table:
  plain   — no bloom, k scattered (min/max useless)
  bloom   — same layout + bloom filter on k (ndv sized to rows/row-group)
  sorted  — sortWithinPartitions(k) (min/max prunes; the upper bound)

Probes: HIT (one existing k) and MISS (absent k) equality filters, warmed,
averaged over repeats.  MISS is the RTBF-audit shape: proving a key is gone.

Run ALONE (timings): python scripts/parquet_bloom_ab.py [--rows N]

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""
import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402


def file_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def row_groups(spark, path: str) -> int:
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for dp, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                ft = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                    hconf, jvm.org.apache.hadoop.fs.Path(os.path.join(dp, f))
                )
                total += ft.getBlocks().size()
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=30_000_000)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--block-mb", type=int, default=8,
                    help="parquet.block.size MiB (small -> many row groups, "
                    "emulating a 100 TB table's row-group count)")
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--base", default="/tmp/spark_graft_bloom_ab")
    args = ap.parse_args()

    spark = build_session(
        master=f"local[{default_cpus()}]",
        extra_conf={"spark.driver.memory": "8g"},
    )
    n = args.rows
    df = spark.range(n).select(
        (F.xxhash64("id") % n).alias("k"),      # high-cardinality, scattered
        F.col("id").alias("payload"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    block = args.block_mb << 20

    layouts = {}
    t0 = time.time()
    df.repartition(args.files).write.mode("overwrite").option(
        "parquet.block.size", block
    ).parquet(args.base + "/plain")
    layouts["plain"] = time.time() - t0

    # Size the filter from the MEASURED layout: expected-ndv is per ROW
    # GROUP, and an undersized bloom saturates to all-maybes (measured:
    # ndv at 1/5 of actual -> zero skipping, pure footer-read overhead).
    rows_per_rg = max(1, n // max(1, row_groups(spark, args.base + "/plain")))
    print(f"# bloom ndv sized to measured rows/row-group: {rows_per_rg}", flush=True)

    t0 = time.time()
    (
        df.repartition(args.files)
        .write.mode("overwrite")
        .option("parquet.block.size", block)
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", str(rows_per_rg))
        .parquet(args.base + "/bloom")
    )
    layouts["bloom"] = time.time() - t0

    t0 = time.time()
    (
        df.repartition(args.files)
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .option("parquet.block.size", block)
        .parquet(args.base + "/sorted")
    )
    layouts["sorted"] = time.time() - t0

    for name, wall in layouts.items():
        p = args.base + f"/{name}"
        print(
            f"# write {name}: {wall:.1f}s  {file_bytes(p)/1e6:.1f} MB  "
            f"{row_groups(spark, p)} row groups",
            flush=True,
        )

    hit = spark.read.parquet(args.base + "/plain").limit(1).collect()[0]["k"]
    miss = -(1 << 60) - 12345
    results = {}
    for name in ("plain", "bloom", "sorted"):
        t = spark.read.parquet(args.base + f"/{name}")
        t.filter(F.col("k") == F.lit(hit)).count()  # warm
        for label, v in (("hit", hit), ("miss", miss)):
            t0 = time.time()
            for _ in range(args.repeats):
                c = t.filter(F.col("k") == F.lit(v)).count()
            ms = (time.time() - t0) / args.repeats * 1000
            results[(name, label)] = ms
            print(f"# probe {name} {label}: {ms:.0f} ms  rows={c}", flush=True)

    for label in ("hit", "miss"):
        p, b, s = (results[(x, label)] for x in ("plain", "bloom", "sorted"))
        print(
            f"# summary {label}: plain {p:.0f} ms, bloom {b:.0f} ms "
            f"({p/b:.1f}x), sorted-stats bound {s:.0f} ms",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
