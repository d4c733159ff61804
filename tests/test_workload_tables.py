"""``workload.t()``, the table resolver every catalog entry reads through.

It infers each parquet file's schema once (Spark runs one job per inference,
even for one file) and supplies it on every later read of the same file, and
it sets the session conf oracle parity needs on its first call per session.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from arthur_redshift_etl_spark import workload

from tests.conftest import SF_DIR


def _jobs(spark, group, call):
    """Spark job ids ``call()`` submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_a_file_runs_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), tmp_path / "orders.parquet")
    first = _jobs(spark, "t-first", lambda: workload.t(spark, str(tmp_path), "orders"))
    second = _jobs(spark, "t-second", lambda: workload.t(spark, str(tmp_path), "orders"))
    assert first, "the first read infers the schema, which runs a job"
    assert second == []
    df = workload.t(spark, str(tmp_path), "orders")
    assert df.count() == pq.read_metadata(tmp_path / "orders.parquet").num_rows


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = tmp_path / "things.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert workload.t(spark, str(tmp_path), "things").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [1.5], "d": [True], "e": ["z"]}), path)
    df = workload.t(spark, str(tmp_path), "things")
    assert df.columns == ["c", "d", "e"]
    assert df.collect()[0].asDict() == {"c": 1.5, "d": True, "e": "z"}


def test_first_call_enforces_the_session_conf(spark):
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    session.conf.set("spark.sql.ansi.enabled", "true")
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    workload.t(session, SF_DIR, "nation")
    assert session.conf.get("spark.sql.session.timeZone") == "UTC"
    assert session.conf.get("spark.sql.ansi.enabled") == "false"
    assert session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_events_ts_is_timestamp_ntz_on_every_read(spark):
    for _ in range(2):
        df = workload.t(spark, SF_DIR, "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert df.count() == pq.read_metadata(os.path.join(SF_DIR, "events.parquet")).num_rows
