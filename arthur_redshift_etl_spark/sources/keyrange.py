"""Key-range extract template shared by the Python DataSource upstreams.

The reference extracts through Sqoop: one database-agnostic splitter that
runs a boundary query, cuts N key ranges and runs one mapper per range
(python/etl/extract/sqoop.py: split column, boundary query, N parallel
mappers).  This module is that splitter, written once, in the DataSource
hooks where Spark expects it:

- ``partitions()``  — boundary query (the design's ``boundary_query`` when
  set, else MIN/MAX of the split column) then N half-open key ranges, one
  Spark task each (sqoop's ``--split-by`` / ``--num-mappers``).  N comes
  from the design, else from ``KeyRangeDataSource.size_bytes``: the
  extract query's row count times the Arrow bytes per row of a sample,
  fed to the reference's multiple-of-4 heuristic (its ``pg_table_size``
  probe), so a small table is one range and one Spark task;
- ``pushFilters()`` — comparisons, null checks and IN lists translate to
  parameterized SQL in the per-partition query, so the upstream prunes
  before a byte crosses into Spark (the reference pushes WHERE into
  sqoop's ``--query``); unsupported shapes are yielded back and Spark
  re-applies them above the scan;
- ``read()``        — each task opens its own read-only connection and
  streams Arrow record batches of ``BATCH_ROWS`` rows into Spark.

``KeyRangeDataSource.read_plan`` is the one entry point for a planned
extract.  A single-range plan whose probed size is under the heuristic's
10 MiB per-partition floor (``jdbc.MIN_PARTITION_BYTES``) skips the Python
DataSource: the driver runs the same ``reader(schema).read(_Range())`` a
task would and hands the Arrow table to ``createDataFrame`` as one
partition.  That read runs when ``read_plan`` is called, not at the first
action; every caller in this package writes the result at once.  It
spares a cold JVM the four Python daemons the first DataSource read
starts, one after another (5.7 s for the 25-row ``nation`` table on 4
cores).  Multi-range plans, plans without a probed size and larger
single-range plans keep the lazy Python DataSource read.

Each engine (``duckdb_source``, ``sqlite_source``) supplies only what
really differs: how to connect, ``schema()``, how to fetch batches, and
whether a string-prefix predicate can be pushed.

Column pruning is NOT available in the Python DataSource API (the reader
receives the full schema), so narrow extracts should use ``query=`` with
an explicit projection — same advice as the reference's extract
``columns`` setting.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)
from pyspark.sql.types import StructType

# Rows per Arrow batch.  Swept at 8k/64k/512k on both engines (SCALE.md
# "batch_rows sweep"): duckdb is flat, sqlite peaks here.
BATCH_ROWS = 65536

# Rows fetched by the size probe to measure Arrow bytes per row.
PROBE_ROWS = 1024


@dataclass
class _Range(InputPartition):
    lo: object = None  # None = unbounded (single-partition or edge range)
    hi: object = None


def _key_ranges(lo, hi, n_parts: int):
    """[lo, hi] -> n contiguous half-open ranges; first lo / last hi are
    unbounded so boundary rows and concurrent tail growth are never lost.
    Integer keys dedupe collapsed bounds (narrow spans yield fewer ranges,
    never an empty one). Property-tested in tests/test_duckdb_source.py."""
    if lo is None or hi is None or lo == hi or n_parts <= 1:
        return [_Range()]
    span = (hi - lo) / n_parts
    bounds = [lo + span * i for i in range(1, n_parts)]
    if isinstance(lo, int):
        bounds = sorted({int(b) for b in bounds})
    bounds = [b for b in bounds if lo < b <= hi]
    ranges = []
    prev = None
    for b in bounds:
        ranges.append(_Range(lo=prev, hi=b))
        prev = b
    ranges.append(_Range(lo=prev, hi=None))
    return ranges


class KeyRangeReader(DataSourceReader):
    """Filter pushdown, range planning and per-range SQL for one engine.

    Subclasses set ``connect`` and ``PUSH_PREFIX`` and implement
    ``_batches``."""

    PUSH_PREFIX = False  # push StringStartsWith as starts_with(col, ?)

    def __init__(self, options: dict, relation_sql: str, schema: StructType):
        self.path = options["path"]
        self.relation = relation_sql
        self.schema = schema
        self.split_by = options.get("partition_column")
        self.n_parts = int(options.get("num_partitions") or 1)
        self.boundary_query = options.get("boundary_query")
        self.where: List[str] = []
        self.params: List[object] = []
        if self.n_parts > 1 and not self.split_by:
            raise ValueError("num_partitions > 1 requires partition_column=")

    @staticmethod
    def connect(path: str):
        raise NotImplementedError

    def _batches(self, con, sql: str, params: list) -> Iterator:
        """Arrow record batches of ``sql`` run with bind ``params``."""
        raise NotImplementedError

    # -- filter pushdown ----------------------------------------------
    _OPS = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        # NOTE: planning runs in a separate Python worker process, so
        # acceptance is observable only through the plan (no Filter node
        # survives above the scan) — pinned in tests/test_duckdb_source.py
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            known = col is not None and col in self.schema.fieldNames()
            if known and type(f) in self._OPS:
                # parameterized, never interpolated: the value crosses as
                # a bind parameter so quoting/injection is a non-issue
                self.where.append(f'"{col}" {self._OPS[type(f)]} ?')
                self.params.append(f.value)
            elif known and isinstance(f, IsNull):
                self.where.append(f'"{col}" IS NULL')
            elif known and isinstance(f, IsNotNull):
                self.where.append(f'"{col}" IS NOT NULL')
            elif known and isinstance(f, In) and len(f.value) > 0:
                # point-lookup list: one bind slot per element (an empty
                # IN () is invalid SQL — yielded back, Spark keeps it)
                slots = ", ".join("?" for _ in f.value)
                self.where.append(f'"{col}" IN ({slots})')
                self.params.extend(f.value)
            elif known and self.PUSH_PREFIX and isinstance(f, StringStartsWith):
                self.where.append(f'starts_with("{col}", ?)')
                self.params.append(f.value)
            else:
                yield f  # Spark re-applies what the source can't handle

    # -- partition planning (sqoop boundary-query analog) --------------
    def partitions(self) -> Sequence[_Range]:
        if self.n_parts <= 1:
            return [_Range()]
        # a boundary query returns one (lo, hi) row; the edge ranges stay
        # unbounded, so one narrower than the data moves the split points
        # but loses no row
        sql = self.boundary_query or (
            f'SELECT MIN("{self.split_by}"), MAX("{self.split_by}") '
            f"FROM {self.relation}"
        )
        con = self.connect(self.path)
        try:
            lo, hi = con.execute(sql).fetchone()
        finally:
            con.close()
        return _key_ranges(lo, hi, self.n_parts)

    # -- per-task read ---------------------------------------------------
    def read(self, partition: _Range):
        where = list(self.where)
        params = list(self.params)
        if partition.lo is not None:
            where.append(f'"{self.split_by}" >= ?')
            params.append(partition.lo)
        if partition.hi is not None:
            where.append(f'"{self.split_by}" < ?')
            params.append(partition.hi)
        cols = ", ".join(f'"{c}"' for c in self.schema.fieldNames())
        sql = f"SELECT {cols} FROM {self.relation}"
        if where:
            sql += " WHERE " + " AND ".join(where)
        con = self.connect(self.path)
        try:
            yield from self._batches(con, sql, params)
        finally:
            con.close()


class KeyRangeDataSource(DataSource):
    """Options: path=, table= (or query=), partition_column=,
    num_partitions=, boundary_query=.  Subclasses set ``name()`` and
    ``reader_class`` and implement ``schema()``."""

    reader_class: type  # the engine's KeyRangeReader subclass

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError(f"path= ({self.name()} database file) is required")
        return path

    def _relation_sql(self) -> str:
        table = self.options.get("table")
        query = self.options.get("query")
        if bool(table) == bool(query):
            raise ValueError("exactly one of table= / query= is required")
        return f"({query}) AS q" if query else table

    def reader(self, schema: StructType) -> KeyRangeReader:
        return self.reader_class(dict(self.options), self._relation_sql(), schema)

    @classmethod
    def register(cls, spark) -> None:
        """Register this format on the session (idempotent)."""
        # runtime conf (engine sessions set it at build; cover foreign sessions)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(cls)

    @classmethod
    def read_plan(cls, spark, path: str, plan):
        """Execute a ``JdbcExtractPlan`` through this format.

        The single plan→reader translation used by :meth:`extract_design`,
        the CLI's ``extract --duckdb-path`` / ``--sqlite-path`` and the
        firehose change feed.  Expression split keys (the temporal-PK case:
        ``find_partition_key`` wraps date/timestamp keys in a Spark-only
        ``CAST(unix_timestamp(...))``) can't be quoted as an upstream
        column, so those plans fall back to a single-range read — the same
        ``"(" not in key`` guard the sampling planner applies.

        A single-range plan whose probed ``size_bytes`` is under the
        heuristic's own per-partition floor (``MIN_PARTITION_BYTES``) is
        read on the driver (:meth:`_read_on_driver`), at call time: the
        upstream query runs here, not at the caller's first action.  Every
        other plan — multi-range, unprobed (``size_bytes`` None, as in the
        change feed) or large — is a lazy read through the Python
        DataSource.
        """
        from .jdbc import MIN_PARTITION_BYTES

        cls.register(spark)
        key = plan.partition_column
        ranged = bool(key) and "(" not in key and plan.num_partitions > 1
        size = plan.size_bytes
        if not ranged and size is not None and size < MIN_PARTITION_BYTES:
            return cls._read_on_driver(spark, path, plan.query)
        r = spark.read.format(cls.name()).option("path", path).option("query", plan.query)
        if ranged:
            r = (
                r.option("partition_column", key)
                .option("num_partitions", str(plan.num_partitions))
            )
            if plan.boundary_query:
                r = r.option("boundary_query", plan.boundary_query)
        return r.load()

    @classmethod
    def _read_on_driver(cls, spark, path: str, query: str):
        """One-range read of ``query`` in this process: the same per-range
        SQL and ``_batches`` a Spark task runs, landed as one partition
        with no Python daemon (see the module docstring)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        source = cls({"path": path, "query": query})
        schema = StructType.fromDDL(source.schema())
        batches = list(source.reader(schema).read(_Range()))
        # an empty relation stays on the Arrow path too: createDataFrame of
        # a Python list is a Python RDD, which needs a worker to run
        table = (
            pa.Table.from_batches(batches)
            if batches
            else to_arrow_schema(schema).empty_table()
        )
        # createDataFrame makes one partition per Arrow batch
        return spark.createDataFrame(table, schema).coalesce(1)

    @classmethod
    def size_bytes(cls, path: str, query: str) -> int:
        """Bytes ``query`` moves: its ``COUNT(*)`` times the Arrow bytes
        per row of its first ``PROBE_ROWS`` rows, fetched through the
        engine's own ``_batches``.  The reference sizes each extract from
        ``pg_table_size`` (database_extractor.py:156-190).  A query the
        upstream cannot run raises here, as the read would; an empty
        relation is 0 bytes.  Needs an active session, which parses the
        schema DDL for the engine's reader."""
        source = cls({"path": path, "query": query})
        relation = source._relation_sql()
        con = cls.reader_class.connect(path)
        try:
            (rows,) = con.execute(f"SELECT COUNT(*) FROM {relation}").fetchone()
            if not rows:
                return 0
            reader = source.reader(StructType.fromDDL(source.schema()))
            sample = list(
                reader._batches(
                    con, f"SELECT * FROM {relation} LIMIT {PROBE_ROWS}", []
                )
            )
        finally:
            con.close()
        sampled = sum(b.num_rows for b in sample)
        return rows * sum(b.nbytes for b in sample) // sampled

    @classmethod
    def extract_design(cls, spark, design, path: str):
        """Design-driven extract through this format.

        The same planning the JDBC path applies to a table design
        (``sources/jdbc.plan_extract``: projection + per-column cast
        expressions, WHERE condition, split-by column, boundary query and
        the multiple-of-4 partition-count heuristic, sized by
        :meth:`size_bytes`) executed against this upstream — one designs
        file drives every transport, the reference's Sqoop promise of a
        database-agnostic splitter.
        """
        from .jdbc import plan_extract, select_statement

        size = cls.size_bytes(path, select_statement(design))
        return cls.read_plan(spark, path, plan_extract(design, size))
