"""DuckDB extract source via the Spark 4 Python DataSource API.

The reference's extract framework pulls from upstream databases with
Sqoop-over-JDBC (python/etl/extract/sqoop.py: split column, boundary
query, N parallel mappers).  ``sources/jdbc.py`` replicates that for
JDBC-reachable upstreams; this module covers the upstream kind JDBC
can't reach from this engine — an embedded analytical store — and in
doing so demonstrates the engine's source EXTENSIBILITY path: any
Python-readable system becomes a first-class, partition-parallel,
filter-pushing Spark source by subclassing ``DataSource``.

The Sqoop-analog planning (boundary query, key ranges, bind-parameter
pushdown, per-range SQL) lives in ``sources/keyrange.py``.  DuckDB adds:

- ``schema()`` from ``DESCRIBE``, mapped through ``_TYPE_MAP``;
- string-prefix pushdown: ``StringStartsWith`` becomes ``starts_with``;
- ``read()`` streams Arrow record batches straight out of DuckDB (zero
  row-at-a-time Python conversion; Spark ingests the batches directly);
- a cursor-offset change feed (``readStream``), its partitioned batch
  twin ``batch_change_feed``, and a two-phase-commit writer.

Usage::

    register_duckdb_source(spark)
    df = (spark.read.format("duckdb")
          .option("path", "/data/upstream.duckdb")
          .option("table", "orders")             # or .option("query", "SELECT ...")
          .option("partition_column", "o_orderkey")
          .option("num_partitions", "8")
          .load())
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .keyrange import BATCH_ROWS, KeyRangeDataSource, KeyRangeReader

# DuckDB -> Spark DDL type map (the subset the synthetic + TPC-H tables
# use, plus the common scalars; unsupported types raise at schema time
# rather than corrupting silently).
_TYPE_MAP = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "HUGEINT": "decimal(38,0)",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    # duckdb TIMESTAMP is tz-naive -> NTZ (matches how Spark reads the
    # same values from parquet; the engine's timestamps are naive UTC)
    "TIMESTAMP": "timestamp_ntz",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
}

def _duck_type_to_ddl(t: str) -> str:
    t = t.strip().upper()
    if t.startswith("DECIMAL"):
        return t.lower()
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    raise ValueError(f"duckdb type not mapped: {t}")


def _connect(path: str):
    import duckdb

    return duckdb.connect(path, read_only=True)


class DuckDBReader(KeyRangeReader):
    # starts_with() is a case-sensitive byte-prefix test in DuckDB,
    # matching Spark's semantics — and sidesteps LIKE wildcard escaping
    # since the prefix binds as a parameter
    PUSH_PREFIX = True
    connect = staticmethod(_connect)

    def _batches(self, con, sql, params):
        yield from con.execute(sql, params).fetch_record_batch(BATCH_ROWS)


class DuckDBDataSource(KeyRangeDataSource):
    """``format("duckdb")`` — see module docstring."""

    reader_class = DuckDBReader

    @classmethod
    def name(cls) -> str:
        return "duckdb"

    def schema(self) -> str:
        con = _connect(self._path())
        try:
            rows = con.execute(
                f"DESCRIBE SELECT * FROM {self._relation_sql()}"
            ).fetchall()
        finally:
            con.close()
        cols = ", ".join(
            f"{name} {_duck_type_to_ddl(dtype)}" for name, dtype, *_ in rows
        )
        return cols

    def simpleStreamReader(self, schema: StructType) -> "DuckDBChangeFeedReader":
        return DuckDBChangeFeedReader(dict(self.options), self._relation_sql(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> "DuckDBWriter":
        return DuckDBWriter(dict(self.options), schema, overwrite)


register_duckdb_source = DuckDBDataSource.register
read_plan = DuckDBDataSource.read_plan
extract_design = DuckDBDataSource.extract_design


class DuckDBChangeFeedReader(SimpleDataSourceStreamReader):
    """Watermark-incremental change feed over a DuckDB table.

    ``spark.readStream.format("duckdb")`` with ``cursor_column=`` (a
    strictly-increasing id or event-time column, the streaming analog of
    the batch watermark extract in ``sources/jdbc.plan_incremental_extract``):
    each micro-batch reads ``cursor > last AND cursor <= snapshot_max``,
    the checkpoint stores the cursor as the offset, and
    ``readBetweenOffsets`` replays any batch deterministically from its
    bounds — so a restarted query is exactly-once without the upstream
    cooperating.

    The *simple* stream reader runs on the driver and ships rows through
    it; that is the right shape for control-plane-sized feeds (ops
    tables, dimension deltas, audit logs).  Measured
    (scripts/changefeed_throughput.py, local[8]): ~109k rows/s initial
    sync, ~40k rows/s steady drain, vs ~942k rows/s for the partitioned
    batch extract of the same table — an 8.6x driver tax.  A firehose
    belongs on the batch path (partitioned ranges per micro-batch via
    foreachBatch + ``extract_design``) — same advice as the reference
    giving Sqoop, not a tail, to bulk tables.

    Rows with a cursor ≤ the first observed snapshot are emitted in the
    first batch (initial offset = empty feed start, option
    ``start_cursor=`` overrides to skip history).
    """

    def __init__(self, options: dict, relation_sql: str, schema: StructType):
        self.path = options["path"]
        self.relation = relation_sql
        self.schema = schema
        self.cursor = options.get("cursor_column")
        if not self.cursor:
            raise ValueError("streaming duckdb reads require cursor_column=")
        if self.cursor not in schema.fieldNames():
            raise ValueError(f"cursor_column {self.cursor!r} not in schema")
        self.start_cursor = options.get("start_cursor")  # None = full history
        ddl = schema[self.cursor].dataType.simpleString()
        self._numeric = ddl in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ) or ddl.startswith("decimal")
        self._cast = "" if self._numeric else f"::{'TIMESTAMP' if 'timestamp' in ddl else 'VARCHAR'}"

    # offsets are {"cursor": str}; "" means nothing consumed yet
    def initialOffset(self) -> dict:
        return {"cursor": "" if self.start_cursor is None else str(self.start_cursor)}

    def _cols(self) -> str:
        return ", ".join(f'"{c}"' for c in self.schema.fieldNames())

    def _fetch(self, lo: str, hi: str):
        where, params = [], []
        if lo:
            where.append(f'"{self.cursor}" > ?{self._cast}')
            params.append(lo)
        where.append(f'"{self.cursor}" <= ?{self._cast}')
        params.append(hi)
        con = _connect(self.path)
        try:
            return con.execute(
                f"SELECT {self._cols()} FROM {self.relation} WHERE "
                + " AND ".join(where),
                params,
            ).fetchall()
        finally:
            con.close()

    def read(self, start: dict):
        lo = start["cursor"]
        con = _connect(self.path)
        try:
            # typed comparison in SQL (not str() compare in Python): when
            # the table's MAX is at or below the consumed cursor — e.g. a
            # start_cursor set past current data — the offset must NOT
            # move backwards, or "skipped history" arriving later leaks out
            if lo:
                (hi,) = con.execute(
                    f'SELECT MAX("{self.cursor}") FROM {self.relation} '
                    f'WHERE "{self.cursor}" > ?{self._cast}',
                    [lo],
                ).fetchone()
            else:
                (hi,) = con.execute(
                    f'SELECT MAX("{self.cursor}") FROM {self.relation}'
                ).fetchone()
        finally:
            con.close()
        if hi is None:
            return iter(()), start
        rows = self._fetch(lo, str(hi))
        return iter(rows), {"cursor": str(hi)}

    def readBetweenOffsets(self, start: dict, end: dict):
        if start["cursor"] == end["cursor"]:
            return iter(())
        return iter(self._fetch(start["cursor"], end["cursor"]))

    def commit(self, end: dict) -> None:
        pass  # nothing retained reader-side; the upstream keeps its rows


@dataclass
class _StagedFile(WriterCommitMessage):
    path: str = ""
    rows: int = 0


class DuckDBWriter(DataSourceArrowWriter):
    """Two-phase-commit write INTO a DuckDB table (the mart-load analog
    of the reference's UNLOAD-then-COPY round trip, collapsed to one verb:
    ``df.write.format("duckdb").mode(...).save()``).

    DuckDB is single-writer, so executors never touch the database:

    - ``write()`` (per task) streams its Arrow batches to ONE staged
      parquet file named by (task, attempt) — retried/speculative
      attempts stage distinct files and only the attempt Spark reports
      as successful contributes its commit message;
    - ``commit()`` (driver, once, only if every task succeeded) loads
      exactly the staged files named in the commit messages inside a
      single DuckDB transaction — append or atomic replace;
    - ``abort()`` removes the staging directory, leaving the table
      untouched.

    That makes the write exactly-once end to end: a half-failed job
    changes nothing, a retried task cannot double-load.
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.db_path = options["path"]
        self.schema = schema
        self.table = options.get("table")
        if not self.table:
            raise ValueError("writing requires table= (query= is read-only)")
        self.overwrite = overwrite
        base = options.get("staging_dir") or (self.db_path + ".staging")
        import uuid

        self.staging = os.path.join(base, uuid.uuid4().hex)

    def write(self, iterator) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        os.makedirs(self.staging, exist_ok=True)
        path = os.path.join(
            self.staging, f"part-{tc.partitionId()}-attempt-{tc.taskAttemptId()}.parquet"
        )
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
            if writer is None:
                # empty partition: stage a zero-row file carrying the
                # schema, so an overwrite of an empty DataFrame still
                # CREATEs an empty table (Spark overwrite semantics)
                # instead of dropping the target and loading nothing
                from pyspark.sql.pandas.types import to_arrow_schema

                arrow_schema = to_arrow_schema(self.schema)
                pq.write_table(arrow_schema.empty_table(), path)
                return _StagedFile(path=path, rows=0)
        finally:
            if writer is not None:
                writer.close()
        return _StagedFile(path=path, rows=rows)

    def commit(self, messages) -> None:
        import duckdb

        files = [m.path for m in messages if m is not None and m.path]
        con = duckdb.connect(self.db_path)
        try:
            con.execute("BEGIN")
            if self.overwrite:
                con.execute(f'DROP TABLE IF EXISTS "{self.table}"')
            if files:
                src = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
                # scope to the schema unqualified names resolve in — a
                # same-named table in another schema must not divert the
                # append into an INSERT against a non-existent main.<table>
                exists = con.execute(
                    "SELECT COUNT(*) FROM information_schema.tables "
                    "WHERE table_name = ? AND table_schema = current_schema()",
                    [self.table],
                ).fetchone()[0]
                if exists:
                    con.execute(f'INSERT INTO "{self.table}" SELECT * FROM {src}')
                else:
                    con.execute(f'CREATE TABLE "{self.table}" AS SELECT * FROM {src}')
            con.execute("COMMIT")
        except Exception:
            con.execute("ROLLBACK")
            raise
        finally:
            con.close()
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        # in-flight sibling tasks may land a staged file AFTER the first
        # rmtree (Spark calls abort while zombie tasks can still be
        # draining) — poll until the directory stays gone for one grace
        # interval so the abandoned write leaves no litter behind
        import time

        deadline = time.time() + 10
        while True:
            shutil.rmtree(self.staging, ignore_errors=True)
            time.sleep(0.2)
            gone = not os.path.isdir(self.staging) or not os.listdir(self.staging)
            if gone or time.time() > deadline:
                break
        shutil.rmtree(self.staging, ignore_errors=True)


# ---------------------------------------------------------------------------
# Firehose change feed: partitioned batch drain with the change feed's
# exactly-once cursor guarantees, none of the simple stream reader's driver
# tax (measured 8.6x, scripts/changefeed_throughput.py).
# ---------------------------------------------------------------------------

def _sql_literal(v) -> str:
    """Render a cursor bound as a DuckDB literal (numeric raw, timestamps
    typed, strings quote-doubled)."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def batch_change_feed(
    spark,
    path: str,
    table: str,
    cursor_column: str,
    target_dir: str,
    num_partitions: int = 4,
    state_dir: str | None = None,
) -> dict:
    """One exactly-once, partition-parallel drain of a cursor change feed.

    The firehose counterpart of :class:`DuckDBChangeFeedReader`: identical
    cursor-offset semantics (rows with ``cursor > last AND cursor <=
    snapshot_max``, offset never rewinds), but the rows flow through the
    partitioned batch extract — N executor tasks each streaming Arrow
    batches from their key range — instead of the driver.  Call it per
    schedule (cron) or from ``foreachBatch``; each call appends exactly
    the new rows to ``target_dir`` and returns a summary dict.

    Exactly-once protocol (no upstream cooperation needed):

    1. ``state_dir/cursor.json`` holds the committed cursor (atomic
       tmp+rename updates).
    2. Each drain writes to a batch subdirectory of ``target_dir`` whose
       ``_bounds.json`` records its (lo, hi]; Spark's ``_SUCCESS`` marks
       the parquet write complete.
    3. Commit order: parquet write -> ``_bounds.json`` -> state update.
       A crash between 3's steps leaves a committed-but-unrecorded batch;
       the next drain ADOPTS it (advances the cursor from its bounds
       without re-reading) — rows are never written twice.  A batch dir
       without ``_SUCCESS``/``_bounds.json`` is an incomplete write and
       is deleted and redone; its rows were never adopted.

    Read the target with ``spark.read.option("recursiveFileLookup",
    "true").parquet(target_dir)`` (batch dirs are not partition-style
    key=value names, by design — the feed's schema is the table's).

    One scheduler at a time: like any cursor consumer, concurrent drains
    against the same state_dir race the state file.  Cron/Airflow-style
    non-overlapping scheduling is assumed (the stream-reader path gets
    the same guarantee from Spark's checkpoint lock).

    At 100 TB feed scale the shape holds: the only driver traffic is two
    scalar boundary queries and the state file; row bytes go Arrow-batch
    from the upstream into executor tasks, ``num_partitions`` ranges of
    the DELTA (the boundary query runs over the filtered relation, so
    ranges split the new rows, not the whole keyspace).
    """
    import json

    state_dir = state_dir or target_dir.rstrip("/") + "_state"
    os.makedirs(state_dir, exist_ok=True)
    os.makedirs(target_dir, exist_ok=True)
    state_path = os.path.join(state_dir, "cursor.json")
    last = None
    if os.path.exists(state_path):
        with open(state_path) as fh:
            last = json.load(fh)["cursor"]

    def _commit_state(cursor_val) -> None:
        import tempfile as _tmp

        fd, tmp = _tmp.mkstemp(dir=state_dir, suffix=".json")
        with os.fdopen(fd, "w") as fh:
            json.dump({"cursor": cursor_val}, fh)
        os.replace(tmp, state_path)

    # -- crash recovery: adopt committed-but-unrecorded batches, clear
    #    incomplete ones ------------------------------------------------
    adopted = 0
    for name in sorted(os.listdir(target_dir)):
        d = os.path.join(target_dir, name)
        if not (name.startswith("batch-") and os.path.isdir(d)):
            continue
        bounds_path = os.path.join(d, "_bounds.json")
        complete = os.path.exists(bounds_path) and os.path.exists(
            os.path.join(d, "_SUCCESS")
        )
        if not complete:
            shutil.rmtree(d)  # incomplete write: never adopted, redo
            continue
        with open(bounds_path) as fh:
            bounds = json.load(fh)
        if bounds["lo"] == ("" if last is None else str(last)):
            # previous run crashed after commit, before the state update
            last = bounds["hi"]
            _commit_state(last)
            adopted += 1

    # -- snapshot the upstream high-water mark (typed SQL comparison,
    #    same never-rewind rule as DuckDBChangeFeedReader.read) ---------
    con = _connect(path)
    try:
        if last is not None:
            row = con.execute(
                f'SELECT MAX("{cursor_column}"), COUNT(*) FROM {table} '
                f'WHERE "{cursor_column}" > {_sql_literal(last)}'
            ).fetchone()
        else:
            row = con.execute(
                f'SELECT MAX("{cursor_column}"), COUNT(*) FROM {table}'
            ).fetchone()
        hi, n_new = row
    finally:
        con.close()
    if hi is None or n_new == 0:
        return {"rows": 0, "cursor": last, "adopted_batches": adopted}

    where = f'"{cursor_column}" <= {_sql_literal(hi)}'
    if last is not None:
        where = f'"{cursor_column}" > {_sql_literal(last)} AND ' + where
    delta_sql = f"SELECT * FROM {table} WHERE {where}"

    import hashlib

    batch_key = hashlib.md5(
        f"{'' if last is None else last}|{hi}".encode()
    ).hexdigest()[:16]
    dest = os.path.join(target_dir, f"batch-{batch_key}")
    if os.path.isdir(dest):
        shutil.rmtree(dest)  # recovery loop above proved it incomplete

    from .jdbc import JdbcExtractPlan

    delta = JdbcExtractPlan(
        query=delta_sql,
        partition_column=cursor_column,
        num_partitions=num_partitions,
        boundary_query=None,
    )
    read_plan(spark, path, delta).write.mode("overwrite").parquet(dest)
    with open(os.path.join(dest, "_bounds.json"), "w") as fh:
        json.dump(
            {"lo": "" if last is None else str(last), "hi": str(hi)}, fh
        )
    _commit_state(str(hi))
    return {
        "rows": int(n_new),
        "cursor": str(hi),
        "adopted_batches": adopted,
        "batch_dir": dest,
        "num_partitions": num_partitions if num_partitions > 1 else 1,
    }
