"""Change-feed (simple stream reader) throughput: quantify the driver tax.

The DuckDB change feed (`sources/duckdb_source.DuckDBChangeFeedReader`)
is a SimpleDataSourceStreamReader: `read()` runs on the DRIVER and ships
rows through it (the API re-serializes them to the cluster per batch).
The docstring says it's for control-plane-sized feeds — this measures
where that boundary actually is, so the advice carries a number:

    python scripts/changefeed_throughput.py
    env: SPARK_GRAFT_FEED_ROWS (default 2_000_000), SPARK_GRAFT_CPUS (default:
    the process's cores, session.default_cpus)

Output: one JSON line with rows/s for the initial sync (one big batch)
and for a steady append→drain loop, vs the partitioned BATCH extract of
the same table (read_plan) as the firehose alternative.
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

from arthur_redshift_etl_spark.session import default_cpus  # noqa: E402

ROWS = int(os.environ.get("SPARK_GRAFT_FEED_ROWS", "2000000"))
CPUS = default_cpus()


def main() -> int:
    import duckdb

    from arthur_redshift_etl_spark.session import build_session
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        register_duckdb_source,
    )
    from arthur_redshift_etl_spark.sources.jdbc import JdbcExtractPlan
    from arthur_redshift_etl_spark.sources.duckdb_source import read_plan

    work = tempfile.mkdtemp(prefix="changefeed_tp_")
    db = os.path.join(work, "feed.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE changes AS SELECT range AS seq, "
        "'payload-' || (range % 1000)::VARCHAR AS msg, "
        "(range % 97)::DOUBLE AS val FROM range(0, ?)",
        [ROWS],
    )
    con.close()

    spark = build_session(
        app_name="changefeed-throughput",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_duckdb_source(spark)

    def run_feed(target, ckpt):
        stream = (
            spark.readStream.format("duckdb")
            .option("path", db)
            .option("table", "changes")
            .option("cursor_column", "seq")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # initial sync: all ROWS through the driver in one availableNow run
    t0 = time.perf_counter()
    run_feed(os.path.join(work, "out"), os.path.join(work, "ckpt"))
    feed_initial = time.perf_counter() - t0

    # steady incremental: 5 x (append ROWS/20, drain)
    delta = ROWS // 20
    drains = []
    for i in range(5):
        con = duckdb.connect(db)
        con.execute(
            "INSERT INTO changes SELECT range, 'p', 0.0 FROM range(?, ?)",
            [ROWS + i * delta, ROWS + (i + 1) * delta],
        )
        con.close()
        t0 = time.perf_counter()
        run_feed(os.path.join(work, "out"), os.path.join(work, "ckpt"))
        drains.append(time.perf_counter() - t0)

    # firehose alternative: partitioned batch extract of the same table
    plan = JdbcExtractPlan(
        query="SELECT seq, msg, val FROM changes",
        partition_column="seq",
        num_partitions=CPUS,
        boundary_query=None,
    )
    t0 = time.perf_counter()
    n_batch = read_plan(spark, db, plan).write.mode("overwrite").parquet(
        os.path.join(work, "batch_out")
    )
    batch_wall = time.perf_counter() - t0
    total = ROWS + 5 * delta

    # firehose CHANGE FEED: batch_change_feed — the partitioned drain with
    # the stream path's exactly-once cursor protocol.  Initial sync, then
    # the same append→drain loop as the stream measurement.
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        batch_change_feed,
    )

    fh_target = os.path.join(work, "fh_out")
    t0 = time.perf_counter()
    r = batch_change_feed(spark, db, "changes", "seq", fh_target,
                          num_partitions=CPUS)
    fh_initial = time.perf_counter() - t0
    assert r["rows"] == total, r
    fh_drains = []
    for i in range(5, 10):
        con = duckdb.connect(db)
        con.execute(
            "INSERT INTO changes SELECT range, 'p', 0.0 FROM range(?, ?)",
            [ROWS + i * delta, ROWS + (i + 1) * delta],
        )
        con.close()
        t0 = time.perf_counter()
        r = batch_change_feed(spark, db, "changes", "seq", fh_target,
                              num_partitions=CPUS)
        assert r["rows"] == delta, r
        fh_drains.append(time.perf_counter() - t0)

    report = {
        "rows_initial": ROWS,
        "feed_initial_rps": round(ROWS / feed_initial),
        "feed_drain_rps": round(delta / (sum(drains) / len(drains))),
        "drain_walls_s": [round(w, 2) for w in drains],
        "batch_extract_rps": round(total / batch_wall),
        "driver_tax": round((total / batch_wall) / (ROWS / feed_initial), 1),
        "firehose_initial_rps": round(total / fh_initial),
        "firehose_drain_rps": round(delta / (sum(fh_drains) / len(fh_drains))),
        "firehose_drain_walls_s": [round(w, 2) for w in fh_drains],
        "cpus": CPUS,
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
