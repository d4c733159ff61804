#!/usr/bin/env python3
"""Mixed workload: does a live ingest stream starve batch builds (or vice versa)?

The realistic deployment runs both: a streaming rollup ingesting events
continuously while the nightly/hourly batch DAG builds relations on the
same cluster.  This harness measures the interference both ways on one
local[32] session (FAIR scheduler, stream and batch in separate pools),
under TWO pool configurations:

  equal    — FAIR with default (unconfigured) pools: both pools weight 1,
             so a saturating stream takes ~half the cores whenever it has
             queued tasks.  This is what you get if you only set
             spark.scheduler.mode=FAIR and nothing else.
  weighted — an allocation file giving batch weight 4 and the stream
             weight 1 + minShare 8 (25% of the box, matching the stream's
             solo-capacity need at the offered rate).
  sized    — weighted, plus the stream's state shuffle sized to its need
             (spark.sql.shuffle.partitions=8 while the streaming query is
             planned; it is baked into the checkpoint at first start) so
             each micro-batch queues 8-task waves instead of 32-task
             full-box waves.  The ops recommendation: the stream keeps
             its latency SLO via minShare, batch keeps ~4/5 of contended
             capacity via weight, and the stream stops flooding the
             scheduler with tasks it doesn't need.

Per config it records:
1. baseline: warm batch pass of the 16 fact queries, no stream;
2. mixed: the same pass while a windowed rollup ingests rate-source rows
   at SPARK_GRAFT_MIX_RATE (default 400k rows/s, ~25% of the measured
   1.66M/s solo ceiling);
3. batch total + worst per-query inflation vs baseline, and whether the
   stream kept up during the batch pass (cumulative input rows /
   elapsed >= 95% of offered).

Run ALONE (32-core contention trap):  python scripts/mixed_workload_interference.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
     SPARK_GRAFT_CPUS (default: the process's cores, session.default_cpus)
     SPARK_GRAFT_MIX_RATE (default 400000)
     SPARK_GRAFT_MIX_CONFIGS (default "equal,weighted,sized")
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark import workload  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
RATE = int(os.environ.get("SPARK_GRAFT_MIX_RATE", "400000"))
CONFIGS = os.environ.get("SPARK_GRAFT_MIX_CONFIGS", "equal,weighted,sized").split(",")
FACT_QUERIES = [
    "q01_pricing_summary", "revenue_by_nation", "q03_top_orders",
    "q04_order_priority", "q05_region_nation_revenue", "q06_forecast_revenue",
    "q07_volume_shipping", "q10_returned_items", "q13_customer_distribution",
    "q14_promo_revenue", "q08_market_share", "q18_large_orders",
    "q19_disjunctive_predicates", "q21_waiting_suppliers",
    "top_customers_window", "segment_nation_rollup",
]

ALLOC_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="batch">
    <schedulingMode>FIFO</schedulingMode>
    <weight>4</weight>
    <minShare>0</minShare>
  </pool>
  <pool name="stream">
    <schedulingMode>FIFO</schedulingMode>
    <weight>1</weight>
    <minShare>8</minShare>
  </pool>
</allocations>
"""


def batch_pass(spark, on_query_done=None) -> dict:
    timings = {}
    for name in FACT_QUERIES:
        t0 = time.perf_counter()
        workload.REGISTRY[name].fn(spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        if on_query_done is not None:
            on_query_done()  # keep the stream-row counter's window fresh
    return timings


class StreamRowCounter:
    """Cumulative input rows across the query's whole life.

    ``recentProgress`` is a sliding window of the last ~100 micro-batches;
    a rate-source stream under contention can run >100 batches during a
    long batch pass, so summing the window at two points undercounts the
    delta.  Accumulate per unique batchId instead (drain() must be called
    at least once per ~100 batches; this harness drains after every
    batch query, far more often than that)."""

    def __init__(self, q):
        self.q = q
        self.seen: set = set()
        self.total = 0

    def drain(self) -> int:
        for p in self.q.recentProgress:
            if p.batchId not in self.seen:
                self.seen.add(p.batchId)
                self.total += p.numInputRows
        return self.total


def measure(config: str) -> dict:
    """Build a session under the given pool config and run baseline + mixed."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.streaming.events import (
        hourly_rollup_stream,
        sized_stream_start,
    )

    ckpt = f"/tmp/mix_ckpt_{config}"
    shutil.rmtree(ckpt, ignore_errors=True)
    extra = {"spark.ui.enabled": "false", "spark.driver.memory": "16g"}
    if config in ("weighted", "sized"):
        alloc = os.path.join(tempfile.gettempdir(), "mix_fairscheduler.xml")
        with open(alloc, "w") as fh:
            fh.write(ALLOC_XML)
        extra["spark.scheduler.allocation.file"] = alloc
    spark = build_session(
        app_name=f"mixed-workload-{config}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for tbl in "region nation customer supplier part orders lineitem".split():
            workload.t(spark, SF_DIR, tbl).count()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "batch")
        batch_pass(spark)  # warm plans/codegen

        base = batch_pass(spark)
        base_total = round(sum(base.values()), 2)

        ev = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", RATE)
            .option("numPartitions", 8)
            .load()
            .select(
                F.col("value").alias("event_id"),
                F.col("timestamp").alias("ts"),
                (F.col("value") % 100_000).alias("user_id"),
                F.concat(F.lit("t"), (F.col("value") % 8).cast("string")).alias(
                    "event_type"
                ),
                (F.col("value") % 1000).cast("double").alias("value"),
                F.lit("{}").alias("props"),
            )
        )
        def start_stream():
            return (
                hourly_rollup_stream(ev, watermark="30 seconds", window="10 seconds")
                .writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ckpt)
                .start()
            )

        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "stream")
        if config == "sized":
            # the engine helper this measurement justifies: the stream's
            # state shuffle is baked 8-wide into the fresh checkpoint for
            # the query's whole life, session conf restored after
            with sized_stream_start(spark, 8):
                q = start_stream()
        else:
            q = start_stream()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "batch")
        time.sleep(10)  # let the stream settle

        counter = StreamRowCounter(q)
        rows0, t0 = counter.drain(), time.time()
        mixed = batch_pass(spark, on_query_done=counter.drain)
        # one more progress cycle so the final batches are visible; the
        # stream keeps ingesting during the sleep, so elapsed is measured
        # at the same instant as the final row count
        time.sleep(3)
        rows1, elapsed = counter.drain(), time.time() - t0
        stream_rps = (rows1 - rows0) / elapsed
        q.stop()

        mixed_total = round(sum(mixed.values()), 2)
        inflation = {
            n: round(mixed[n] / base[n], 2) for n in FACT_QUERIES if base[n] > 0.05
        }
        worst = max(inflation, key=inflation.get)
        return {
            "config": config,
            "batch_total_baseline": base_total,
            "batch_total_with_stream": mixed_total,
            "batch_inflation": round(mixed_total / base_total, 2),
            "worst_query_inflation": {worst: inflation[worst]},
            "stream_sustained_rps_during_batch": round(stream_rps),
            "stream_kept_up": stream_rps >= 0.95 * RATE,
        }
    finally:
        spark.stop()


def main() -> int:
    report = {"cores": CPUS, "stream_rate_offered": RATE, "configs": {}}
    for config in CONFIGS:
        r = measure(config)
        report["configs"][config] = r
        print(
            f"# [{config}] batch {r['batch_total_baseline']}s -> "
            f"{r['batch_total_with_stream']}s ({r['batch_inflation']}x), "
            f"stream {r['stream_sustained_rps_during_batch']:,}/s "
            f"kept_up={r['stream_kept_up']}",
            file=sys.stderr,
        )
    out_path = os.environ.get("SPARK_GRAFT_MIX_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(report, fh)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
