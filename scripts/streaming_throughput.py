#!/usr/bin/env python3
"""Streaming throughput + state-boundedness measurement.

The streaming family (SCALE.md, SURVEY §2.10 capability upgrade) has
correctness pins but until now no measured performance evidence.  This
harness drives the two stateful shapes — watermarked windowed rollup and
native session windows — from Spark's rate source at escalating input
rates and records, per rate step:

- sustained processedRowsPerSecond (avg over the settled second half);
- whether the query kept up (sustained >= 95% of the offered rate with a
  stable batch duration);
- stateOperators numRowsTotal over time — the watermark-cleanup proof:
  with seconds-scale windows and a 30 s watermark, bounded keys mean the
  state row count must PLATEAU, not grow with total input.

The max sustained rate per core is the number that transfers to a real
cluster: rows/s/core x executor cores x executors, state sharded by key
across the state store (one HDFS-backed store per partition).

Two further shapes stress the parts the windowed pair doesn't:

- stream_dedup (dropDuplicatesWithinWatermark on unique event_id): state
  is one row PER KEY within the horizon — at rate R with a W-second
  watermark that's ~R*W live state rows, the state-store capacity shape.
  This is where the backend choice matters: the default HDFS-backed store
  keeps every row on-heap (OOM at 100 TB-scale key cardinality); RocksDB
  keeps them off-heap/on-disk with bounded memory.
- custom_state_totals (applyInPandasWithState running totals): the
  Python-side arbitrary-state path — Arrow batch transfer per group per
  batch bounds its throughput well below the JVM shapes; the measured gap
  is the documented cost of dropping out of the built-in operators.

Run ALONE (32-core contention trap): python scripts/streaming_throughput.py
Env: SPARK_GRAFT_STREAM_RATES="100000,400000,1600000" (rows/s steps)
     SPARK_GRAFT_STREAM_SECS=60 (per step)
     SPARK_GRAFT_STREAM_STATE=hdfs|rocksdb (state store backend)
     SPARK_GRAFT_STREAM_SHAPES=windowed_rollup,session_windows,... (subset)

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arthur_redshift_etl_spark.session import default_cpus  # noqa: E402

RATES = [
    int(r)
    for r in os.environ.get(
        "SPARK_GRAFT_STREAM_RATES", "100000,400000,1600000"
    ).split(",")
]
STEP_SECS = int(os.environ.get("SPARK_GRAFT_STREAM_SECS", "60"))
CORES = default_cpus()
STATE_BACKEND = os.environ.get("SPARK_GRAFT_STREAM_STATE", "hdfs").lower()
SHAPE_FILTER = {
    s
    for s in os.environ.get("SPARK_GRAFT_STREAM_SHAPES", "").split(",")
    if s
}
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rate_events(spark, rows_per_sec: int):
    from pyspark.sql import functions as F

    # rate source -> the event shape the streaming module consumes.
    # 100k users / 8 event types: realistic key cardinality for the
    # session/rollup state without making every row a distinct key.
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .option("numPartitions", CORES)
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


def drive(spark, name: str, build, rows_per_sec: int, mode: str = "update") -> dict:
    out = build(rate_events(spark, rows_per_sec))
    q = (
        out.writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", f"/tmp/stream_tp_{name}_{rows_per_sec}")
        .start()
    )
    # Spark interleaves zero-row no-data batches (watermark advancement), so a
    # point sample of lastProgress randomly reads 0.  Accumulate numInputRows
    # over every observed batch instead and derive throughput from cumulative
    # counts between samples.
    samples = []
    seen_batches = set()
    cum_rows = 0
    t_end = time.time() + STEP_SECS
    try:
        while time.time() < t_end:
            time.sleep(5)
            state_rows = None
            batch_ms = None
            for p in q.recentProgress:
                if p.batchId not in seen_batches:
                    seen_batches.add(p.batchId)
                    cum_rows += p.numInputRows
                so = p.stateOperators
                if so:
                    state_rows = so[0].numRowsTotal
                dur = dict(p.durationMs) if p.durationMs else {}
                batch_ms = dur.get("triggerExecution", batch_ms)
            samples.append(
                {
                    "t": time.time(),
                    "cum_rows": cum_rows,
                    "batch_ms": batch_ms,
                    "state_rows": state_rows,
                }
            )
    finally:
        q.stop()
    state_series = [s["state_rows"] for s in samples if s["state_rows"] is not None]
    sustained = 0.0
    if len(samples) >= 2:
        mid = samples[len(samples) // 2]
        last = samples[-1]
        span = last["t"] - mid["t"]
        if span > 0:
            sustained = (last["cum_rows"] - mid["cum_rows"]) / span
    # plateau: the last quarter's max state is within 30% of the max seen
    # in the preceding half — growth with total input would blow past it
    plateaued = None
    if len(state_series) >= 6:
        q4 = state_series[-max(2, len(state_series) // 4) :]
        mid = state_series[len(state_series) // 4 : -len(q4)]
        plateaued = bool(mid) and max(q4) <= max(mid) * 1.3
    return {
        "offered_rps": rows_per_sec,
        "sustained_rps": round(sustained),
        "kept_up": sustained >= 0.95 * rows_per_sec,
        "state_rows_series": state_series,
        "state_plateaued": plateaued,
        "batch_ms_last": samples[-1]["batch_ms"] if samples else None,
    }


def main() -> int:
    import shutil

    from arthur_redshift_etl_spark.session import build_session
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.streaming.events import (
        dedup_stream,
        hourly_rollup_stream,
        running_user_totals_stream,
        session_stream,
    )
    from arthur_redshift_etl_spark.streaming.joins import attribution_join_stream

    for d in os.listdir("/tmp"):
        if d.startswith("stream_tp_"):
            shutil.rmtree(f"/tmp/{d}", ignore_errors=True)

    extra_conf = {
        "spark.ui.enabled": "false",
        # pinned heap makes the backend A/B meaningful: per-key state that
        # exceeds this either OOMs (HDFS on-heap store) or spills (RocksDB)
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_STREAM_HEAP", "4g"),
    }
    if STATE_BACKEND == "rocksdb":
        extra_conf["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
    spark = build_session(
        app_name="streaming-throughput",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    shapes = {
        # seconds-scale buckets so state turnover happens inside the run.
        # session windows only support append (finalized-on-watermark) output.
        "windowed_rollup": (
            "update",
            lambda ev: hourly_rollup_stream(
                ev, watermark="30 seconds", window="10 seconds"
            ),
        ),
        "session_windows": (
            "append",
            lambda ev: session_stream(ev, gap="10 seconds", watermark="30 seconds"),
        ),
        # one state row per distinct event_id inside the horizon: the
        # state-store capacity stressor (~rate x 30s live rows)
        "stream_dedup": (
            "append",
            lambda ev: dedup_stream(ev, keys=("event_id",), watermark="30 seconds"),
        ),
        # Python arbitrary-state path (Arrow per-group transfer each batch)
        "custom_state_totals": (
            "update",
            running_user_totals_stream,
        ),
        # stream-stream interval join: BOTH sides buffered in state for
        # watermark+horizon (~40s x rate rows per side here).  2M users
        # bounds the match fan-out to ~1 per touch so the measurement is
        # join/state cost, not output amplification.  user_id derives from
        # event_id // 2 so the adjacent view/purchase pair shares a user —
        # a plain modulo of the even/odd-split id would give the two event
        # types disjoint user sets and the join would never emit a row.
        "interval_join": (
            "append",
            lambda ev: attribution_join_stream(
                ev.withColumn(
                    "user_id", (F.col("event_id") / 2).cast("long") % 2_000_000
                ).withColumn(
                    "event_type",
                    F.when(F.col("event_id") % 2 == 0, F.lit("view")).otherwise(
                        F.lit("purchase")
                    ),
                ),
                horizon="10 seconds",
                watermark="30 seconds",
                how="inner",
            ),
        ),
    }
    if SHAPE_FILTER:
        shapes = {k: v for k, v in shapes.items() if k in SHAPE_FILTER}
    report = {
        "cores": CORES,
        "step_secs": STEP_SECS,
        "state_backend": STATE_BACKEND,
        "shapes": {},
    }
    for name, (mode, build) in shapes.items():
        steps = []
        for r in RATES:
            try:
                res = drive(spark, name, build, r, mode=mode)
            except Exception as exc:  # noqa: BLE001 - record the failure mode
                # e.g. HDFS_STORE_PROVIDER_OUT_OF_MEMORY: on-heap state store
                # dying under per-key state is itself a measurement
                steps.append(
                    {"offered_rps": r, "failed": type(exc).__name__,
                     "detail": str(exc)[:300], "kept_up": False}
                )
                break
            steps.append(res)
            print(
                f"# {name} @ {r:,}/s -> sustained {res['sustained_rps']:,}/s "
                f"kept_up={res['kept_up']} state_plateaued={res['state_plateaued']}",
                file=sys.stderr,
            )
            if not res["kept_up"]:
                break
        best = max(
            (s["sustained_rps"] for s in steps if s["kept_up"]), default=0
        )
        report["shapes"][name] = {
            "steps": steps,
            "max_sustained_rps": best,
            "max_sustained_rps_per_core": round(best / CORES),
        }
    spark.stop()
    # the local JVM logs gc warnings to the shared stdout — a file target
    # keeps the report parseable regardless
    out_path = os.environ.get("SPARK_GRAFT_STREAM_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(report, fh)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
