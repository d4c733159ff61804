"""Materialization engine: build relations into the catalog, blue-green style.

Reference parity (``python/etl/load.py``, ``data_warehouse.py``):
- build_one_relation (:703-744): create + fill + verify constraints + count;
- CTAS identity/na-row path (:506-551) → ``operators.identity``;
- staging-name rewrite of dependency references (:221-245);
- failure propagation / skip_copy (:202-219);
- parallel source loading (:994-1053) and the sequential transformation
  build (:1056-1106) → one ThreadPoolExecutor over the dependency DAG: a
  relation starts as soon as its dependencies have finished, sources and
  transformations alike (the reference's execution levels, relation.py:
  568-646, without the barrier between levels);
- one scan per relation after its write: ANALYZE's row count is the
  build's audit count, and publish carries the staged statistics over;
- load / upgrade / update drivers (:1131-1367);
- blue-green swap (``data_warehouse.py:105-204``): here a metadata-only
  re-registration of external tables at versioned locations — each build
  writes parquet under ``data_root/<etl_id>/<schema>/<table>``, staging
  tables point there, publish re-points the production database to the same
  files (no data copy), backup keeps the previous locations.

Scale notes: every data move is a distributed ``df.write.parquet`` (ZSTD);
the publish step touches only catalog metadata, so the swap cost is O(tables)
regardless of data size — same property as Redshift's schema rename.
"""

from __future__ import annotations

import heapq
import logging
import re
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .design import TableDesign
from .errors import ETLRuntimeError, RequiredRelationLoadError
from .functions.compat import rewrite_redshift_sql
from .monitor import STEP_LOAD, STEP_MAINTAIN, EventStore, Monitor
from .names import TableName, TableSelector, as_backup, as_staging
from .operators.constraints import check_all_constraints
from .operators.identity import build_dimension
from .plans.heap import ensure_heap_headroom
from .relations import (
    Relation,
    mark_failure,
    order_by_dependencies,
    propagate_required,
    sanitize_dependencies,
    select_in_execution_order,
)
from .retry import call_with_retry
from .sources.files import apply_design_schema, read_source

logger = logging.getLogger(__name__)


@dataclass
class LoadContext:
    spark: SparkSession
    data_root: str
    store: EventStore = field(default_factory=EventStore)
    etl_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    max_concurrency: int = 4
    skip_copy: bool = False  # structural smoke mode (--skip-copy)
    # post-publish threshold-gated compaction (reference vacuum-after-update,
    # load.py:1360-1367).  OPT-IN like the reference's run_vacuum flag: the
    # probe is metadata-only but still costs a DESCRIBE + storage listing per
    # non-rebuilt relation on every update — at warehouse scale that sweep
    # belongs on a schedule (the `maintain` verb), not in every verb run.
    auto_maintain: bool = False

    def table_location(self, table_name: TableName) -> str:
        return f"{self.data_root}/{self.etl_id}/{table_name.schema}/{table_name.table}"


def _quote(name: str) -> str:
    return f"`{name}`"


def create_schema(spark: SparkSession, schema: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_quote(schema)}")


def drop_schema(spark: SparkSession, schema: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {_quote(schema)} CASCADE")


def rewrite_query_for_staging(query: str, identifiers: Iterable[str]) -> str:
    """Point fully-qualified dependency names at their staging schemas.

    Reference: load.py:221-245 + names.py:158-171 — word-boundary regex
    substitution over the query text.
    """
    out = query
    for ident in sorted(identifiers, key=len, reverse=True):
        schema, table = ident.split(".", 1)
        pattern = re.compile(
            rf"(?<![\w.`]){re.escape(schema)}\.{re.escape(table)}(?![\w])", re.IGNORECASE
        )
        out = pattern.sub(f"{as_staging(schema)}.{table}", out)
    return out


def _table_type(spark: SparkSession, full: str) -> Optional[str]:
    """Catalog type of a relation ("VIEW", "EXTERNAL", "MANAGED"), None if absent."""
    if not spark.catalog.tableExists(full):
        return None
    return spark.catalog.getTable(full).tableType


def _detailed_info(spark: SparkSession, full: str, key: str) -> Optional[str]:
    """The ``key`` row of a relation's DESCRIBE FORMATTED, None if absent.

    Only the detailed-information section counts: a column named like the
    key (``Location``, ``Statistics``) is listed above it.  The rows are
    filtered in Python, as a DataFrame filter over the DESCRIBE output
    would run a Spark job.
    """
    detailed = False
    for row in spark.sql(f"DESCRIBE FORMATTED {full}").collect():
        detailed = detailed or row["col_name"] == "# Detailed Table Information"
        if detailed and row["col_name"] == key:
            return row["data_type"]
    return None


def table_location(spark: SparkSession, full: str) -> Optional[str]:
    """Storage path a table is registered at, without the ``file:`` scheme;
    None for a view."""
    location = _detailed_info(spark, full, "Location")
    return None if location is None else location.replace("file:", "")


def _drop_relation(ctx: LoadContext, db: str, table: str) -> None:
    """Drop ``db.table`` whatever its kind: Spark refuses DROP TABLE on a
    view and DROP VIEW on a table, so the catalog decides which one."""
    full = f"{_quote(db)}.{_quote(table)}"
    kind = _table_type(ctx.spark, full)
    if kind is not None:
        ctx.spark.sql(f"DROP {'VIEW' if kind == 'VIEW' else 'TABLE'} {full}")


def _bucket_spec(design: TableDesign):
    """Optional bucket_by attribute: {"columns": [...], "buckets": N}."""
    spec = design.attributes.get("bucket_by")
    if not spec:
        return None
    return list(spec["columns"]), int(spec["buckets"])


def _has_layout(design: TableDesign) -> bool:
    """Bucketed or partitioned: the registration declares the layout."""
    return bool(_bucket_spec(design) or design.attributes.get("partition_by"))


def _columns_ddl(spark: SparkSession, schema: StructType) -> str:
    """``(`name` TYPE, ...) `` declaring ``schema`` as parquet reads it back:
    every column nullable.  Field metadata has no DDL form and is dropped."""
    jschema = spark._jsparkSession.parseDataType(schema.json()).asNullable()
    return "(" + ", ".join(
        f"{_quote(f.name())} {f.dataType().sql()}" for f in jschema.fields()
    ) + ") "


def _register(
    ctx: LoadContext,
    db: str,
    table: str,
    location: str,
    design: Optional[TableDesign] = None,
    schema: Optional[StructType] = None,
) -> None:
    """(Re)register ``db.table`` as an external parquet table at ``location``.

    The columns are ``schema`` when the caller wrote the files and so knows
    it (no schema-inference job), else the design's for a design layout,
    else whatever the files hold.  A bucketed design declares
    ``CLUSTERED BY ... INTO N BUCKETS`` so co-located joins stay
    shuffle-free; a partitioned one declares ``PARTITIONED BY`` and
    recovers the partitions, so filters on the partition column prune at
    the directory level (PartitionFilters).
    """
    full = f"{_quote(db)}.{_quote(table)}"
    columns = layout = ""
    part_cols: List[str] = []
    if schema is not None:
        columns = _columns_ddl(ctx.spark, schema)
    elif design is not None and _has_layout(design):
        columns = "(" + ", ".join(
            f"{_quote(c.name)} {c.spark_type().simpleString()}"
            for c in design.unskipped_columns
        ) + ") "
    if design is not None and _has_layout(design):
        bucket = _bucket_spec(design)
        if bucket:
            keys = ", ".join(_quote(c) for c in bucket[0])
            layout = (
                f"CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {bucket[1]} BUCKETS "
            )
        else:
            part_cols = list(design.attributes["partition_by"])
            layout = f"PARTITIONED BY ({', '.join(_quote(c) for c in part_cols)}) "
    _drop_relation(ctx, db, table)
    ctx.spark.sql(
        f"CREATE TABLE {full} {columns}USING parquet {layout}LOCATION '{location}'"
    )
    if part_cols:
        ctx.spark.sql(f"ALTER TABLE {full} RECOVER PARTITIONS")


def _clone_registration(ctx: LoadContext, src: str, db: str, table: str) -> None:
    """Register ``db.table`` with the DDL the table ``src`` was created with.

    The catalog analog of the reference's schema rename: ``SHOW CREATE
    TABLE`` carries location, columns, bucket spec and partitioning over
    exactly as registered, whatever the design says now (re-deriving the
    layout from a design changed since could declare 16 buckets over
    8-bucket files).  Every check runs before ``db.table`` is dropped; a
    source that cannot be introspected raises ETLRuntimeError.
    """
    try:
        ddl = ctx.spark.sql(f"SHOW CREATE TABLE {src}").collect()[0][0]
        # partitioned-ness from catalog metadata, not a substring scan of
        # the DDL (which a column COMMENT could fake); DESCRIBE rather than
        # catalog.listColumns, which runs Spark jobs
        partitioned = any(
            r["col_name"] == "# Partition Information"
            for r in ctx.spark.sql(f"DESCRIBE TABLE {src}").collect()
        )
    except Exception as exc:
        raise ETLRuntimeError(f"{src} is not introspectable: {exc}") from exc
    name_match = re.match(r"CREATE TABLE\s+(\S+)", ddl)
    if not name_match:
        raise ETLRuntimeError(f"{src}: DDL not recognized")
    full = f"{_quote(db)}.{_quote(table)}"
    _drop_relation(ctx, db, table)
    ctx.spark.sql(ddl.replace(name_match.group(1), full, 1))
    if partitioned:
        ctx.spark.sql(f"ALTER TABLE {full} RECOVER PARTITIONS")


def _create_view(ctx: LoadContext, db: str, table: str, query: str) -> None:
    """``CREATE OR REPLACE VIEW db.table``.  Only a table of the same name
    is dropped first, so a view whose query fails keeps its previous
    version."""
    full = f"{_quote(db)}.{_quote(table)}"
    if _table_type(ctx.spark, full) not in (None, "VIEW"):
        _drop_relation(ctx, db, table)
    ctx.spark.sql(f"CREATE OR REPLACE VIEW {full} AS {query}")


def _bloom_options(design) -> dict:
    """Parquet bloom-filter writer options from the table design.

    ``attributes.bloom_filter_columns: [col, ...]`` writes a per-row-group
    bloom filter for each listed column (``parquet.bloom.filter.enabled#col``
    — the point-lookup analog of the reference's per-column encoding choice,
    design.py attributes).  Use it for high-cardinality columns that point
    predicates hit WITHOUT the table being sorted on them: min/max row-group
    stats can't prune when every row group spans the full value range (an
    unsorted unique id), but a bloom filter answers "is this value in this
    row group" directly, so an equality scan touches ~1 row group instead of
    all of them.  The 100 TB cases: RTBF/scrub reverse lookups by user key,
    incident forensics by request id, CDC key probes.

    ``attributes.bloom_filter_ndv: {col: n}`` sizes each filter (expected
    distinct values per ROW GROUP — the default 1M costs ~1.2 MB per row
    group per column, so set it to ~row-group rows for unique ids).
    """
    cols = design.attributes.get("bloom_filter_columns") or []
    ndv = design.attributes.get("bloom_filter_ndv") or {}
    opts = {}
    for c in cols:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        if c in ndv:
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(int(ndv[c]))
    return opts


def _analyze_relation(ctx: "LoadContext", schema: str, table: str, design) -> int:
    """Feed the CBO after a (re)registration; returns the row count the
    statistics now hold, read back from DESCRIBE (no job).

    Table-level ``COMPUTE STATISTICS`` (size + row count) is one scan and
    always runs: it's what broadcast decisions and AQE thresholds consume,
    and its row count doubles as the build's post-load COUNT(*) audit.
    ``attributes.stats_columns: [col, ...]`` additionally computes
    per-column ndv/min/max/null-count — the inputs join REORDERING
    actually needs (``spark.sql.cbo.joinReorder`` can't estimate join
    selectivity from row counts alone, so without column stats it keeps
    the written order).  Column stats cost one real scan of the listed
    columns per build, so they're opt-in and belong on
    join/filter keys only — at 100 TB "FOR ALL COLUMNS" on a wide fact
    is a full-table read per refresh for stats mostly nothing consumes.
    Measured effect: scripts/cbo_reorder_ab.py (SCALE.md round 9).
    """
    full = f"{_quote(schema)}.{_quote(table)}"
    ctx.spark.sql(f"ANALYZE TABLE {full} COMPUTE STATISTICS")
    cols = design.attributes.get("stats_columns") or []
    if cols:
        col_list = ", ".join(_quote(c) for c in cols)
        ctx.spark.sql(
            f"ANALYZE TABLE {full} COMPUTE STATISTICS FOR COLUMNS {col_list}"
        )
    stats = _detailed_info(ctx.spark, full, "Statistics") or ""  # "<b> bytes, <n> rows"
    rows = re.search(r"(\d+) rows", stats)
    if rows is None:
        raise ETLRuntimeError(f"{full}: no row count after ANALYZE ({stats!r})")
    return int(rows.group(1))


def _copy_stats(ctx: "LoadContext", src: str, dst: str) -> None:
    """Give table ``dst`` the catalog statistics of ``src`` (size, row count,
    column stats), for a registration of the same files.

    The statistics travel as the JVM ``Option[CatalogStatistics]`` itself:
    py4j turns a Scala ``BigInt`` into a Python int, so they cannot be
    rebuilt on this side.
    """
    state = ctx.spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier
    stats = state.catalog().getTableMetadata(ident(src)).stats()
    state.catalog().alterTableStats(ident(dst), stats)


def _empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty DataFrame of ``schema`` from an empty Arrow table: a local
    scan, where ``createDataFrame([], schema)`` is a Python RDD whose run
    starts a Python worker."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def materialize_dataframe(ctx: LoadContext, rel: Relation, df: DataFrame, db: str) -> int:
    """Write the relation's data (versioned location) and register the table.

    Returns the row count (the reference's post-build COUNT(*) audit), as
    the ANALYZE that follows the write stored it: one scan, not two.
    """
    location = ctx.table_location(rel.table_name)
    sort_keys = rel.design.attributes.get("compound_sort") or []
    dist = rel.design.attributes.get("distribution")
    bucket = _bucket_spec(rel.design)
    if bucket:
        # bucketed DISTKEY analog: hash-bucketed files + bucket metadata in
        # the catalog ⇒ joins/aggregations on the bucket columns skip their
        # shuffle entirely (verified: 0 Exchanges in the joined plan).
        cols, buckets = bucket
        _drop_relation(ctx, db, rel.table_name.table)
        (
            df.write.mode("overwrite")
            .option("path", location)  # external: staging drop keeps files
            .options(**_bloom_options(rel.design))
            .format("parquet")
            .bucketBy(buckets, *cols)
            .sortBy(*cols)
            .saveAsTable(f"{_quote(db)}.{_quote(rel.table_name.table)}")
        )
        return _analyze_relation(ctx, db, rel.table_name.table, rel.design)
    writer_df = df
    part_cols = list(rel.design.attributes.get("partition_by") or [])
    if part_cols:
        # A partitioned write without co-location opens a file per
        # (task, partition-value) pair — tasks x partitions files (measured:
        # 2,656 vs 83 on the sf1.0 lineitem-by-month write, 2.4x the wall;
        # scripts/write_throughput.py).  Repartition on the partition
        # columns ONLY: hashing a distkey in as well would scatter each
        # partition value across tasks again (files per value ≈
        # min(tasks, distkey cardinality)) — the distkey belongs in the
        # within-partition SORT, which gives the same downstream row
        # clustering without breaking one-file-per-value.  Escape hatch
        # for the low-cardinality cliff (few partition values x huge data
        # -> write parallelism collapses to |values| and multi-GB single
        # files): ``partition_write_buckets: k`` in the design attributes
        # adds a deterministic k-way salt (hash of the distkey when set,
        # else all columns) so each value writes k co-located files.
        buckets = int(rel.design.attributes.get("partition_write_buckets") or 0)
        if buckets > 1:
            salt_cols = (
                [F.col(c) for c in dist]
                if isinstance(dist, list) and dist
                else [F.col(c) for c in writer_df.columns]
            )
            writer_df = writer_df.repartition(
                *part_cols, F.pmod(F.xxhash64(*salt_cols), F.lit(buckets))
            )
        else:
            writer_df = writer_df.repartition(*part_cols)
        extra = [
            c for c in (dist if isinstance(dist, list) else []) if c not in part_cols
        ]
        within = extra + [k for k in (sort_keys or []) if k not in extra]
        if within:
            # FileFormatWriter's required ordering for a dynamic-partition
            # write is (partition columns first); a sort that omits them
            # makes Spark insert its OWN sort by part_cols on top, a
            # redundant per-task re-sort that also only preserves the
            # distkey/sort-key clustering if it happens to be stable.
            # Leading with part_cols satisfies the writer's requirement
            # outright (one sort, no insert) and is a no-op cost-wise:
            # each task holds few partition values post-repartition.
            writer_df = writer_df.sortWithinPartitions(*part_cols, *within)
    else:
        if isinstance(dist, list) and dist:
            # DISTKEY analog: co-locate rows by the distribution column so
            # downstream joins on it shuffle less (AQE handles the rest).
            writer_df = writer_df.repartition(*dist)
        else:
            # no layout contract: REBALANCE so AQE sizes output partitions
            # to the advisory size — without it the file layout is
            # whatever the read splits were (a 20-tiny-file extract writes
            # 20 tiny files), which made every rebuild of a plain table
            # re-trip the post-publish compaction forever.  One write-time
            # shuffle buys target-size files by construction.
            writer_df = writer_df.hint("rebalance")
        if sort_keys:
            writer_df = writer_df.sortWithinPartitions(*sort_keys)
    writer = writer_df.write.mode("overwrite").options(**_bloom_options(rel.design))
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(location)
    _register(ctx, db, rel.table_name.table, location, rel.design, df.schema)
    # stats feed Catalyst's CBO (broadcast decisions, join reordering)
    return _analyze_relation(ctx, db, rel.table_name.table, rel.design)


def build_source_relation(ctx: LoadContext, rel: Relation, db: str) -> int:
    """TABLE path: read extracted/static files, apply design schema, load."""
    if ctx.skip_copy or rel.skip_copy:
        df = _empty_frame(ctx.spark, rel.design.to_spark_schema())
        return materialize_dataframe(ctx, rel, df, db)
    if not rel.data_location:
        raise ETLRuntimeError(f"{rel.identifier} has no data location")
    raw = read_source(ctx.spark, rel.data_location, rel.data_format)
    df = apply_design_schema(raw, rel.design)
    return materialize_dataframe(ctx, rel, df, db)


def build_external_relation(ctx: LoadContext, rel: Relation, db: str) -> int:
    """EXTERNAL path (Spectrum analog, reference config/dw.py:85): register
    the table AT its declared location — metadata only, zero data movement.

    Validated like other sources: the location must exist and its actual
    file schema must cover every design column with a compatible type (the
    in-place analog of apply_design_schema's cast-and-prune — we cannot
    rewrite files we do not own, so a mismatch is an error, not a cast).
    Staging and production registrations point at the SAME location, so the
    blue-green publish re-point is a no-op move, and restore keeps working.
    """
    location = str(rel.design.attributes["location"])
    try:
        actual = {f.name: f for f in ctx.spark.read.parquet(location).schema.fields}
    except Exception as exc:
        raise ETLRuntimeError(
            f"{rel.identifier}: external location {location!r} is not readable: {exc}"
        ) from exc
    design_fields = {
        f.name: f.dataType for f in rel.design.to_spark_schema().fields
    }
    # partition columns are exempt from the type check: spark.read.parquet
    # VALUE-infers their types from the directory names (ds=2024-01-01 ->
    # DATE, id=1 -> INT), while registration uses the design's declared
    # types — comparing inference against declaration would reject valid
    # partitioned externals
    part_cols = set(rel.design.attributes.get("partition_by") or [])
    for col in rel.design.unskipped_columns:
        if col.name not in actual:
            raise ETLRuntimeError(
                f"{rel.identifier}: external data at {location!r} lacks design "
                f"column {col.name!r} (has {sorted(actual)})"
            )
        declared = design_fields.get(col.name)
        if col.name in part_cols:
            continue
        if declared is not None and actual[col.name].dataType != declared:
            raise ETLRuntimeError(
                f"{rel.identifier}: external column {col.name!r} at "
                f"{location!r} is {actual[col.name].dataType.simpleString()} "
                f"but the design declares {declared.simpleString()} — "
                "external data is registered in place, so a type mismatch "
                "is an error, not a cast"
            )
    _register(ctx, db, rel.table_name.table, location, rel.design)
    _analyze_relation(ctx, db, rel.table_name.table, rel.design)
    return ctx.spark.table(f"{_quote(db)}.{_quote(rel.table_name.table)}").count()


def attach_external_schema(
    ctx: LoadContext, schema: str, location: str
) -> List[str]:
    """Attach an existing directory-of-parquet DATABASE in one call.

    Reference parity: an external (Spectrum) schema is declared once in the
    warehouse config and all its tables appear (config/dw.py:85; bootstrap
    scrape design/bootstrap.py:208-278).  Here every immediate subdirectory
    of ``location`` that contains parquet becomes ``schema.<subdir>``,
    registered in place — metadata only.  Returns the attached identifiers;
    an empty directory is an error (an operator attaching the wrong path
    should hear about it, not get a silently empty schema).
    """
    import os as _os

    if not _os.path.isdir(location):
        raise ETLRuntimeError(f"external schema location {location!r} is not a directory")
    # validate BEFORE creating the schema: failing after create_schema would
    # leave behind exactly the silently-empty schema the error exists to
    # prevent
    readable: List[tuple] = []  # (table_name, path)
    for entry in sorted(_os.listdir(location)):
        path = _os.path.join(location, entry)
        if _os.path.isdir(path):
            name = entry
        elif entry.endswith(".parquet"):
            # single-file parquet tables (a perfectly good lake layout for
            # small dims / test fixtures): table name = file stem
            name = entry[: -len(".parquet")]
        else:
            continue
        try:
            ctx.spark.read.parquet(path).schema
        except Exception:
            logger.warning("skipping %s: not readable as parquet", path)
            continue
        readable.append((name, path))
    if not readable:
        raise ETLRuntimeError(
            f"external schema location {location!r} contains no parquet tables"
        )
    create_schema(ctx.spark, schema)
    attached: List[str] = []
    for name, path in readable:
        _register(ctx, schema, name, path)
        attached.append(f"{schema}.{name}")
    return attached


def build_transformation(
    ctx: LoadContext, rel: Relation, db: str, staging_identifiers: Iterable[str]
) -> int:
    """CTAS/VIEW path: run the (rewritten) query and materialize."""
    query = rewrite_redshift_sql(rel.sql())
    staged_query = rewrite_query_for_staging(query, staging_identifiers)
    if rel.is_view_relation:
        _create_view(ctx, db, rel.table_name.table, staged_query)
        return ctx.spark.table(f"{_quote(db)}.{_quote(rel.table_name.table)}").count()
    df = ctx.spark.sql(staged_query)
    if rel.skip_copy or ctx.skip_copy:
        df = df.limit(0)
    if rel.design.identity_column is not None:
        df = build_dimension(
            df.drop(rel.design.identity_column.name),
            rel.design,
            add_na_row=rel.table_name.table.startswith("dim_"),
        )
    actual = [f.name for f in df.schema.fields]
    declared = rel.design.column_names
    if rel.design.identity_column is None and actual != declared:
        raise ETLRuntimeError(
            f"{rel.identifier}: query columns {actual} != design columns {declared}"
        )
    return materialize_dataframe(ctx, rel, df, db)


def build_one_relation(
    ctx: LoadContext,
    rel: Relation,
    use_staging: bool = True,
    staging_identifiers: Iterable[str] = (),
) -> int:
    """Drop/create + fill + verify constraints + count (load.py:703-744)."""
    db = as_staging(rel.table_name.schema) if use_staging else rel.table_name.schema
    create_schema(ctx.spark, db)
    with Monitor(ctx.store, rel.identifier, STEP_LOAD, etl_id=ctx.etl_id) as mon:
        def attempt() -> int:
            if rel.is_external_relation:
                return build_external_relation(ctx, rel, db)
            if rel.is_source_relation:
                return build_source_relation(ctx, rel, db)
            return build_transformation(ctx, rel, db, staging_identifiers)

        n = call_with_retry(2, attempt, sleep_seconds=0.2)
        # constraints are enforced on data the engine MOVED; external
        # relations are queried in place (the reference's Spectrum schemas
        # likewise cannot be constraint-enforced at load time)
        if (
            not (rel.skip_copy or ctx.skip_copy)
            and not rel.is_view_relation
            and not rel.is_external_relation
        ):
            check_all_constraints(
                ctx.spark.table(f"{_quote(db)}.{_quote(rel.table_name.table)}"),
                rel.design,
            )
        mon.rowcount = n
        return n


def _build_in_pool(
    ctx: LoadContext, rel: Relation, use_staging: bool, staging_ids: Sequence[str]
) -> int:
    """One build on a pool thread (the DAG pool of :func:`_build_all`, the
    percolator): builds share one driver heap and its broadcast debris, so
    heap hygiene runs first — single-flight, so the pool's threads never
    stack stop-the-world GCs for the same debris."""
    ensure_heap_headroom(ctx.spark, single_flight=True)
    return build_one_relation(ctx, rel, use_staging, staging_ids)


def _build_all(
    ctx: LoadContext, relations: Sequence[Relation], use_staging: bool
) -> List[Relation]:
    """Build ``relations`` (in execution order) on their dependency DAG, in
    one pool of ``ctx.max_concurrency`` threads.  Returns the failed
    relations, in execution order.

    A relation is submitted once each of its dependencies in the selection
    has finished, so a transformation starts while unrelated sources are
    still loading; among ready relations, execution order goes first.  A
    catalog-sentinel relation depends on every other one
    (``sanitize_dependencies``) and so builds last.  A failed build marks
    its dependents skip_copy and leaves an empty table before they are
    released, so they still build, empty (load.py:202-219).  Every build
    inherits the caller's job group, so ``terminate_builds`` reaches it.
    """
    relations = list(relations)
    staging_ids = [r.identifier for r in relations] if use_staging else []
    position = {r.identifier: i for i, r in enumerate(relations)}
    blockers = {
        r.identifier: {d for d in r.dependencies if d in position} for r in relations
    }
    dependents: Dict[str, List[str]] = {ident: [] for ident in position}
    for ident, deps in blockers.items():
        for dep in deps:
            dependents[dep].append(ident)
    ready = [position[ident] for ident, deps in blockers.items() if not deps]
    heapq.heapify(ready)
    failed: List[Relation] = []

    def build_empty_fallback(rel: Relation) -> None:
        """The reference creates DDL before filling, so a failed fill leaves
        an empty table dependents can still resolve (load.py:202-219)."""
        if rel.is_view_relation:
            return
        db = as_staging(rel.table_name.schema) if use_staging else rel.table_name.schema
        try:
            df = _empty_frame(ctx.spark, rel.design.to_spark_schema())
            materialize_dataframe(ctx, rel, df, db)
        except Exception:
            logger.warning("could not create empty fallback for %s", rel.identifier)

    def build(rel: Relation) -> bool:
        """Build one relation; True when it failed."""
        try:
            _build_in_pool(ctx, rel, use_staging, staging_ids)
            return False
        except Exception as exc:
            logger.error("%s %s failed: %s", rel.kind, rel.identifier, exc)
            rel.failure_exc = exc  # type: ignore[attr-defined]
            # dependents are marked skip_copy, and still get built (empty)
            mark_failure(relations, rel)
            build_empty_fallback(rel)
            return True

    def release(rel: Relation) -> None:
        for child in dependents[rel.identifier]:
            blockers[child].discard(rel.identifier)
            if not blockers[child]:
                heapq.heappush(ready, position[child])

    running: Dict[Future, Relation] = {}
    with ThreadPoolExecutor(max_workers=ctx.max_concurrency) as pool:
        while ready or running:
            # submit only into a free thread, so the heap check below runs
            # right before the build it guards
            while ready and len(running) < ctx.max_concurrency:
                rel = relations[heapq.heappop(ready)]
                if rel.is_transformation:
                    if rel.failed:
                        release(rel)
                        continue
                    # long rebuilds accumulate broadcast/shuffle blocks that
                    # only a driver GC lets the ContextCleaner release; on a
                    # tight heap the debris kills later broadcast builds
                    # (measured: plans/heap.py)
                    ensure_heap_headroom(ctx.spark)
                # wrapped per submission: each build gets its own copy of
                # this thread's local properties (job group, scheduler pool)
                # and the session's job tags
                target = inheritable_thread_target(ctx.spark)(build)
                running[pool.submit(target, rel)] = rel
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                rel = running.pop(fut)
                if fut.result():
                    failed.append(rel)
                release(rel)
    return sorted(failed, key=lambda r: position[r.identifier])


def publish(ctx: LoadContext, relations: Sequence[Relation]) -> None:
    """Blue-green publish: back up current tables, promote the staged ones.

    Metadata-only, like the reference's schema renames: each production
    table's registration is cloned into the backup database, then each
    staged registration into production, so location, bucket spec and
    partitions carry over as registered, and so do the staged statistics
    (the build's ANALYZE).  Views are recreated last.
    """
    schemas = sorted({r.table_name.schema for r in relations})
    for schema in schemas:
        create_schema(ctx.spark, schema)
        create_schema(ctx.spark, as_backup(schema))
    # back up current production tables (a view has no data to keep)
    for rel in relations:
        tn = rel.table_name
        prod = f"{_quote(tn.schema)}.{_quote(tn.table)}"
        if _table_type(ctx.spark, prod) not in (None, "VIEW"):
            _clone_registration(ctx, prod, as_backup(tn.schema), tn.table)
    # re-point production at staging; views are recreated last so their
    # queries resolve against the already-published production tables
    tables = [r for r in relations if not r.is_view_relation]
    views = [r for r in relations if r.is_view_relation]
    for rel in tables:
        tn = rel.table_name
        staged = f"{_quote(as_staging(tn.schema))}.{_quote(tn.table)}"
        if not ctx.spark.catalog.tableExists(staged):
            logger.warning("%s missing from staging (failed build); keeping previous", rel.identifier)
            continue
        _clone_registration(ctx, staged, tn.schema, tn.table)
        # re-registration discards the statistics; the staged table's
        # describe the same files, so the CBO keeps them without a rescan
        _copy_stats(ctx, staged, f"{_quote(tn.schema)}.{_quote(tn.table)}")
    for rel in views:
        tn = rel.table_name
        try:
            _create_view(ctx, tn.schema, tn.table, rewrite_redshift_sql(rel.sql()))
        except Exception as exc:
            logger.warning("view %s not published: %s", rel.identifier, exc)
    # drop staging
    for schema in schemas:
        drop_schema(ctx.spark, as_staging(schema))


def load_warehouse(
    ctx: LoadContext,
    relations: Sequence[Relation],
    selector: Optional[TableSelector] = None,
    required_selector: Optional[TableSelector] = None,
) -> Dict[str, int]:
    """Full blue-green rebuild (reference load.py:1131-1214).

    Build everything into staging; a required-relation failure aborts before
    publish (production untouched); optional failures leave empty dependents.
    """
    selector = selector or TableSelector([])
    rels = select_in_execution_order(relations, selector, include_dependents=True)
    sanitize_dependencies(rels)
    rels = order_by_dependencies(rels)
    propagate_required(rels, required_selector or TableSelector(["__none__.__none__"]))

    failed = _build_all(ctx, rels, use_staging=True)
    required_failures = [r.identifier for r in failed if r.is_required]
    if required_failures:
        for schema in sorted({r.table_name.schema for r in rels}):
            drop_schema(ctx.spark, as_staging(schema))
        raise RequiredRelationLoadError(required_failures)
    publish(ctx, rels)
    return {
        r.identifier: 0 if r.failed else 1
        for r in rels
    }


def upgrade_warehouse(
    ctx: LoadContext,
    relations: Sequence[Relation],
    selector: TableSelector,
    include_dependents: bool = True,
    continue_from: Optional[str] = None,
) -> List[Relation]:
    """In-place selective rebuild (reference load.py:1217-1305): no staging,
    no publish — selected relations and their dependents rebuilt directly."""
    rels = select_in_execution_order(
        relations,
        selector,
        include_dependents=include_dependents,
        continue_from=continue_from,
    )
    sanitize_dependencies(list(relations))
    for rel in rels:
        create_schema(ctx.spark, rel.table_name.schema)
    failed = _build_all(ctx, rels, use_staging=False)
    return failed


def update_warehouse(
    ctx: LoadContext,
    relations: Sequence[Relation],
    selector: TableSelector,
) -> None:
    """Transactional refresh (reference load.py:1308-1367).

    Spark has no cross-table transactions (SURVEY §7.1): build the selection
    into staging, verify every constraint, and only then swap — all-or-
    nothing at the metadata level.
    """
    rels = select_in_execution_order(relations, selector, include_dependents=True)
    sanitize_dependencies(rels)
    rels = order_by_dependencies(rels)
    failed = _build_all(ctx, rels, use_staging=True)
    if failed:
        for schema in sorted({r.table_name.schema for r in rels}):
            drop_schema(ctx.spark, as_staging(schema))
        raise RequiredRelationLoadError([r.identifier for r in failed])
    publish(ctx, rels)
    # post-publish maintenance, mirroring the reference's vacuum-after-
    # update (load.py:1360-1367): probe is metadata-only; a rewrite fires
    # only past the measured fragmentation threshold, checksum-gated, and
    # contained per table (a failed compaction never poisons the publish
    # that already succeeded).  The sweep covers ALL known relations, not
    # just the rebuilt selection — rebuilt tables land compact by
    # construction (write-time rebalance); the debris this pass exists for
    # accretes on the tables NOT in this update (streaming targets,
    # merge-upserted tables).  A fresh-etl_id context keeps any compaction
    # rewrite from colliding with the locations this update published.
    if ctx.auto_maintain:
        import dataclasses
        import uuid as _uuid

        mctx = dataclasses.replace(ctx, etl_id=_uuid.uuid4().hex[:12])
        # skip the tables this update just rebuilt: they are compact by
        # construction (write-time rebalance / one-file-per-value), so the
        # sweep pays the per-table DESCRIBE + listing only for the tables
        # where debris can actually live.  Cost is still O(other tables)
        # driver listing per update — for enormous warehouses set
        # auto_maintain=False and schedule the `maintain` verb instead.
        rebuilt = {r.identifier for r in rels}
        maintain_warehouse(
            mctx, [r for r in relations if r.identifier not in rebuilt]
        )


def merge_update_table(
    ctx: LoadContext,
    rel: Relation,
    updates: DataFrame,
    keys: Sequence[str],
    db: str | None = None,
) -> int:
    """MERGE refresh: upsert a delta into a production table in place of a
    full rebuild.

    The reference's ``update`` verb delete-then-reloads entire tables inside
    a Redshift transaction (load.py:1308-1367); at 100 TB a key-scoped delta
    should not rescan sources.  This reads the CURRENT table, merges the
    delta with the join-based upsert (operators/merge.py), writes to a NEW
    versioned location under this context's etl_id, and re-registers the
    table — readers see the old or the new version, never a partial write
    (same atomicity story as publish).  Constraints are verified on the
    merged result before registration counts as done.
    """
    from .operators.merge import upsert

    db = db or rel.table_name.schema
    fq = f"{_quote(db)}.{_quote(rel.table_name.table)}"
    current = ctx.spark.table(fq)
    merged = upsert(current, updates.select(*current.columns), keys)
    # constraints gate BEFORE the table is re-pointed: a bad delta must leave
    # production untouched (costs one extra pass over the merged result —
    # the price of atomicity without a transactional table format)
    check_all_constraints(merged, rel.design)
    return materialize_dataframe(ctx, rel, merged, db)


def _predicate_columns(filtered_df: DataFrame, predicate: str) -> set:
    """Column names a filter predicate references, from the ANALYZED plan.

    ``filtered_df`` must be ``base.filter(predicate)``: its analyzed plan's
    top node is the Filter whose resolved condition carries exact attribute
    references — no string parsing, so a column name inside a string
    literal does not count.  Falls back to a conservative token scan of the
    predicate text against the frame's columns if the JVM plan walk fails
    (over-matching there can only reject, never silently allow).
    """
    try:
        cond = filtered_df._jdf.queryExecution().analyzed().condition()
        refs = cond.references().toSeq()
        return {refs.apply(i).name() for i in range(refs.size())}
    except Exception:  # plan-shape drift across Spark versions
        import re

        tokens = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", predicate))
        return {c for c in filtered_df.columns if c in tokens}


def refresh_partitions(
    ctx: LoadContext,
    rel: Relation,
    predicate: str,
    db: str | None = None,
) -> dict:
    """Partition-scoped incremental refresh — the Spark-native answer to
    "one late day arrived, don't rebuild the table".

    Re-runs the relation's transformation restricted by ``predicate`` (a
    SQL filter, normally over the partition columns) and dynamically
    overwrites ONLY the partitions the recomputed slice lands in
    (``spark.sql.sources.partitionOverwriteMode=dynamic``).  At 100 TB
    this is THE incremental pattern: a single partition directory is
    re-materialized while every other file is untouched; the reference's
    ``update`` (load.py:1308-1367) delete-then-reloads the whole table.

    Requires ``partition_by`` in the design (a slice of an unpartitioned
    layout cannot be swapped in isolation — that path is
    :func:`merge_update_table`).  Constraints are checked on the
    recomputed slice BEFORE the write.  Returns an audit dict with the
    refreshed partition values and row count.
    """
    part_cols = list(rel.design.attributes.get("partition_by") or [])
    if not part_cols:
        raise ETLRuntimeError(
            f"{rel.identifier} is not partitioned (partition_by) — "
            "use merge_update_table / update for unpartitioned tables"
        )
    if not rel.is_transformation:
        raise ETLRuntimeError(
            f"{rel.identifier} is a source relation — partition refresh "
            "re-runs the transformation query; re-extract the slice and "
            "run update for sources"
        )
    db = db or rel.table_name.schema
    fq = f"{_quote(db)}.{_quote(rel.table_name.table)}"
    base_df = ctx.spark.sql(rewrite_redshift_sql(rel.sql()))
    # GATE: the predicate may reference ONLY partition columns.  With
    # dynamic partitionOverwriteMode, a predicate on a data column (e.g.
    # o_totalprice > 100) computes a partial slice and then replaces every
    # touched partition wholesale with only the matching rows — silently
    # deleting all non-matching rows in those partitions.
    slice_df = base_df.filter(predicate)
    pred_cols = _predicate_columns(slice_df, predicate)
    extra = sorted(c for c in pred_cols if c not in part_cols)
    if extra:
        raise ETLRuntimeError(
            f"refresh_partitions predicate for {rel.identifier} references "
            f"non-partition column(s) {extra}; only partition columns "
            f"{part_cols} are allowed — a data-column predicate under "
            "dynamic partition overwrite would drop the non-matching rows "
            "of every touched partition"
        )
    check_all_constraints(slice_df, rel.design)
    # partition columns must come LAST for insertInto's positional contract
    data_cols = [c for c in slice_df.columns if c not in part_cols]
    ordered = slice_df.select(*data_cols, *part_cols)
    touched = [
        tuple(str(r[c]) for c in part_cols)
        for r in slice_df.select(*part_cols).distinct().collect()
    ]  # bounded: one row per refreshed partition
    spark = ctx.spark
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        ordered.write.mode("overwrite").insertInto(fq)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    n_rows = spark.table(fq).filter(predicate).count()
    return {
        "relation": rel.identifier,
        "partitions": sorted(touched),
        "n_partitions": len(touched),
        "n_rows": int(n_rows),
    }


def scrub_table(
    ctx: LoadContext,
    rel: Relation,
    requests: DataFrame,
    key: str,
    db: str | None = None,
) -> dict:
    """Right-to-be-forgotten applied to a production table, atomically.

    The loader half of ``operators/pii.forget_rows``: scrub the current
    table against the request list, GATE on the evidence-based audit
    (residual_matches must be 0 — counted from the actual scrubbed
    output), then write to a new versioned location and re-register
    (same old-or-new atomicity as publish/merge).  Returns the audit
    dict; production is untouched if the gate fails.
    """
    from .operators.pii import forget_rows

    db = db or rel.table_name.schema
    fq = f"{_quote(db)}.{_quote(rel.table_name.table)}"
    current = ctx.spark.table(fq)
    scrubbed, audit_df = forget_rows(current, requests, key)
    audit = audit_df.collect()[0].asDict()
    if audit["residual_matches"] != 0:
        raise RuntimeError(
            f"scrub gate failed for {rel.identifier}: "
            f"{audit['residual_matches']} requested rows survive"
        )
    materialize_dataframe(ctx, rel, scrubbed, db)
    return audit


def content_checksum(df: DataFrame) -> tuple[int, int]:
    """Order-independent whole-table content checksum: (n_rows, checksum).

    Per-row md5 over every column (null-tagged so NULL vs 'None' differ),
    folded to a 60-bit int and summed commutatively — partial-aggregatable,
    one number per partition crosses the wire, no row data shuffles.  Two
    tables with equal checksums + counts hold the same multiset of rows
    regardless of file layout, partitioning, or row order — the cheap
    content-equality gate for compaction / publish / reload verification.
    """
    from pyspark.sql import functions as F

    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in df.columns
    ]
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10).cast(
        "decimal(20,0)"
    )
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def _parquet_listing(location: str) -> tuple:
    """Driver-side (location's parquet files, total bytes) — the listing
    both the fragmentation probe and compaction need; computed once and
    shared when maintenance drives the rewrite."""
    import os

    files = [
        os.path.join(dirpath, f)
        for dirpath, _, names in os.walk(location)
        for f in names
        if f.endswith(".parquet")
    ]
    return files, sum(os.path.getsize(f) for f in files)


def compact_table(
    ctx: LoadContext,
    rel: Relation,
    db: str | None = None,
    target_file_bytes: int = 128 << 20,
    precomputed_listing: "tuple | None" = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a table's storage into ~target-size
    files without changing its content.  Returns (files_before, files_after).

    Incremental merges (``merge_update_table``), streaming micro-batches
    (``rollup_to_table_stream``), and per-batch loads each leave their own
    part files; after enough cycles a 100 TB lake table degenerates into
    millions of KB-sized files and every scan pays listing + open overhead
    per file (the classic small-file problem — Redshift hides this behind
    VACUUM; a parquet lake must own it).

    Mechanics: current on-disk bytes come from the driver's file listing
    (metadata only, no data read); the table is rewritten with
    ``coalesce(ceil(bytes / target))`` — coalesce, not repartition, so the
    rewrite adds NO shuffle (it only merges read-splits) — preserving the
    design's sort layout via ``sortWithinPartitions``.  The rewrite lands
    in a NEW versioned location and the table is re-registered only after
    the order-independent ``content_checksum`` of the rewrite matches the
    original — readers see the old or the new layout, never partial output,
    and a buggy rewrite can never replace good data.  Old versions are
    reclaimed by ``vacuum_lake``.

    Bucketed tables are returned untouched: their file count IS the bucket
    spec (layout carries join semantics), so compaction there means
    re-bucketing, a different operation.  Partitioned tables too: a flat
    coalesce-rewrite of the discovery-read root would erase the directory
    layout (and the r7 write path already keeps them compact — one
    co-located file per partition value, ``materialize_dataframe``); a
    fragmented single partition is ``refresh_partitions``' job.
    """
    import math
    import os

    db = db or rel.table_name.schema
    fq = f"{_quote(db)}.{_quote(rel.table_name.table)}"
    if _has_layout(rel.design):
        return (0, 0)
    if precomputed_listing is not None:
        # maintenance already listed the table for its threshold probe —
        # on the lakes this targets (millions of files) a second driver
        # walk is the single most expensive step, so reuse it
        location, files, total_bytes = precomputed_listing
    else:
        location = table_location(ctx.spark, fq)
        files, total_bytes = _parquet_listing(location)
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))
    if len(files) <= n_target:
        return (len(files), len(files))  # already compact — no rewrite
    current = ctx.spark.read.parquet(location)
    before = content_checksum(current)
    compacted = current.coalesce(n_target)
    sort_keys = rel.design.attributes.get("compound_sort") or []
    if sort_keys:
        compacted = compacted.sortWithinPartitions(*sort_keys)
    new_location = ctx.table_location(rel.table_name)
    if os.path.realpath(new_location) == os.path.realpath(location):
        raise ETLRuntimeError(
            f"compact_table would overwrite {location} in place; use a "
            "LoadContext with a fresh etl_id"
        )
    compacted.write.mode("overwrite").options(**_bloom_options(rel.design)).parquet(
        new_location
    )
    after = content_checksum(ctx.spark.read.parquet(new_location))
    if after != before:
        raise ETLRuntimeError(
            f"compaction checksum mismatch for {rel.identifier}: "
            f"{before} -> {after}; original left registered"
        )
    _register(ctx, db, rel.table_name.table, new_location)
    return (len(files), len(_parquet_listing(new_location)[0]))


# --- lake maintenance policy (round 8) -------------------------------------
# Thresholds from the measured fragmentation tax (SCALE.md r7,
# scripts/small_files_compaction_ab.py): scans pay 3.3-5x once the layout
# fragments to ~32x the compact file count; the tax clears measurement noise
# from roughly 4x on.  A table is "fragmented" when its file count exceeds
# FILE_COUNT_MULTIPLE x the compact target AND an absolute floor (tiny
# tables with a handful of small files are not worth a rewrite pass).
MAINTAIN_FILE_COUNT_MULTIPLE = 4
MAINTAIN_MIN_FILES = 16


def fragmentation_report(
    ctx: LoadContext,
    rel: Relation,
    db: str | None = None,
    target_file_bytes: int = 128 << 20,
    include_listing: bool = False,
) -> dict:
    """Metadata-only fragmentation probe: file count, bytes, compact target.

    Driver-side listing, no data read — cheap enough to run after every
    update.  Bucketed/partitioned tables report ``exempt`` (their layout
    carries semantics / is compact by construction, see
    :func:`compact_table`).  ``include_listing`` additionally returns the
    probe's (location, files, bytes) under ``_listing`` so a compaction
    driven by this probe never lists the table twice.
    """
    import math

    db = db or rel.table_name.schema
    fq = f"{_quote(db)}.{_quote(rel.table_name.table)}"
    if _has_layout(rel.design):
        return {"files": 0, "bytes": 0, "target_files": 0,
                "fragmented": False, "exempt": True}
    location = table_location(ctx.spark, fq)
    files, total = _parquet_listing(location)
    target = max(1, math.ceil(total / target_file_bytes))
    rep = {
        "files": len(files),
        "bytes": total,
        "target_files": target,
        "fragmented": (
            len(files) >= MAINTAIN_MIN_FILES
            and len(files) > MAINTAIN_FILE_COUNT_MULTIPLE * target
        ),
        "exempt": False,
    }
    if include_listing:
        rep["_listing"] = (location, files, total)
    return rep


def maintain_table(
    ctx: LoadContext,
    rel: Relation,
    db: str | None = None,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Threshold-gated compaction with event-store evidence.

    The reference vacuums every updated table after its transactional
    update (``python/etl/load.py:1360-1367``); a parquet lake's analog is
    compaction, but an unconditional rewrite after every update would pay
    a full table write for nothing most days — so the policy probes first
    (metadata-only) and rewrites only past the measured-tax threshold.
    The rewrite itself is :func:`compact_table`'s checksum-gated atomic
    re-register; a failed compaction leaves the table untouched and a
    ``fail`` event recorded.
    """
    rep = fragmentation_report(
        ctx, rel, db, target_file_bytes, include_listing=True
    )
    listing = rep.pop("_listing", None)
    rep["compacted"] = False
    if not rep["fragmented"]:
        return rep
    with Monitor(
        ctx.store, rel.identifier, STEP_MAINTAIN, etl_id=ctx.etl_id
    ) as mon:
        before, after = compact_table(
            ctx, rel, db, target_file_bytes, precomputed_listing=listing
        )
        mon.rowcount = after
    rep["compacted"] = after < before
    rep["files_after"] = after
    return rep


def maintain_warehouse(
    ctx: LoadContext,
    relations: Sequence[Relation],
    target_file_bytes: int = 128 << 20,
) -> Dict[str, dict]:
    """Maintenance pass over loaded tables: probe every relation, compact
    the fragmented ones.  Returns per-identifier reports (probe-only rows
    included, so the caller sees what was checked, not just what moved).

    Best-effort PER TABLE: maintenance is hygiene, not the load — a
    failed compaction (checksum mismatch, listing error) leaves that
    table untouched (compact_table's gate), records the fail event
    (Monitor), lands as an ``error`` report row, and must never poison a
    publish that already succeeded or stop the sweep from probing the
    remaining tables."""
    out: Dict[str, dict] = {}
    for rel in relations:
        if rel.is_view_relation:
            continue
        fq = f"{_quote(rel.table_name.schema)}.{_quote(rel.table_name.table)}"
        if not ctx.spark.catalog.tableExists(fq):
            continue
        try:
            out[rel.identifier] = maintain_table(
                ctx, rel, target_file_bytes=target_file_bytes
            )
        except Exception as exc:  # noqa: BLE001 - per-table containment
            logger.warning("maintenance failed for %s: %s", rel.identifier, exc)
            out[rel.identifier] = {"error": repr(exc), "compacted": False}
    return out


def promote_schemas(ctx: LoadContext, relations: Sequence[Relation]) -> None:
    """Standalone staging→production promotion (reference promote_schemas,
    commands.py:1436): publish whatever currently sits in staging."""
    publish(ctx, list(relations))


def restore_schemas(
    ctx: LoadContext,
    relations: Sequence[Relation],
    selector: Optional[TableSelector] = None,
) -> List[str]:
    """Undo a bad publish: re-point production at the backup registrations.

    Reference parity: ``promote_schemas --from backup`` / ``restore_schemas``
    (commands.py:1461-1474 → data_warehouse.py:185-194), where the inverse of
    publish is an ALTER SCHEMA RENAME of the backup into the standard
    position.  Restore walks the ``etl_backup__<schema>`` databases' actual
    tables — not the design list, which may have changed since the bad
    publish — and clones each backup's own registration into production
    (:func:`_clone_registration`: location, bucket spec and partitions as
    backed up).  Views of a schema where something was restored are
    recreated from their design SQL, so a no-op restore reports nothing.
    A backup restores once: the consumed registrations are dropped.
    Returns the restored identifiers.
    """
    selector = selector or TableSelector([])
    schemas = sorted(
        {
            r.table_name.schema
            for r in relations
            if selector.match_schema(r.table_name.schema)
        }
    )
    restored: List[str] = []
    restored_schemas = set()
    for schema in schemas:
        backup_db = as_backup(schema)
        try:
            # listTables(db) also returns SESSION TEMP VIEWS (they shadow
            # into every database listing); a temp view is not a backup
            # registration and DESCRIBE db.tempview would fail — skip them
            backup_tables = [
                t.name
                for t in ctx.spark.catalog.listTables(backup_db)
                if not t.isTemporary
            ]
        except Exception:  # no backup database for this schema
            continue
        create_schema(ctx.spark, schema)
        for table in sorted(backup_tables):
            if not selector.match(TableName(schema, table)):
                continue
            try:
                _clone_registration(
                    ctx, f"{_quote(backup_db)}.{_quote(table)}", schema, table
                )
            except ETLRuntimeError as exc:
                # a backup entry that cannot be introspected (hive-serde
                # table, corrupt metadata) must not abort the whole restore
                logger.warning("backup %s.%s skipped: %s", backup_db, table, exc)
                continue
            _drop_relation(ctx, backup_db, table)
            restored.append(f"{schema}.{table}")
            restored_schemas.add(schema)
        if not any(
            not t.isTemporary for t in ctx.spark.catalog.listTables(backup_db)
        ):
            drop_schema(ctx.spark, backup_db)
    # recreate views last, against the restored tables — only where a
    # restore actually happened
    for rel in relations:
        if not rel.is_view_relation:
            continue
        tn = rel.table_name
        if tn.schema not in restored_schemas or not selector.match(tn):
            continue
        try:
            _create_view(ctx, tn.schema, tn.table, rewrite_redshift_sql(rel.sql()))
            restored.append(rel.identifier)
        except Exception as exc:
            logger.warning("view %s not restored: %s", rel.identifier, exc)
    return restored


def vacuum_lake(spark: SparkSession, data_root: str) -> List[str]:
    """Garbage-collect lake versions no production/staging table references.

    The blue-green scheme leaves one directory tree per etl_id; after a few
    publishes most are unreferenced.  Metadata-only scan + directory removal
    (the reference's VACUUM maps to storage reclamation here; Spark stats
    refresh is ANALYZE, done at load time).
    """
    import os
    import shutil

    referenced = set()
    for db_row in spark.sql("SHOW DATABASES").collect():
        db = db_row["namespace"]
        for t in spark.catalog.listTables(db):
            # views have no location; a table whose location cannot be
            # read raises, as skipping it would vacuum data it still serves
            if t.isTemporary or t.tableType == "VIEW":
                continue
            referenced.add(table_location(spark, f"{_quote(db)}.{_quote(t.name)}"))
    removed = []
    if not os.path.isdir(data_root):
        return removed
    for etl_id in sorted(os.listdir(data_root)):
        run_dir = os.path.join(data_root, etl_id)
        if not os.path.isdir(run_dir):
            continue
        keep = any(ref.startswith(run_dir) for ref in referenced)
        if not keep:
            shutil.rmtree(run_dir)
            removed.append(run_dir)
    return removed


def table_versions(ctx: LoadContext, rel: Relation) -> List[dict]:
    """List the on-disk lake versions of a relation, newest last.

    The blue-green write path leaves one ``data_root/<etl_id>/<schema>/
    <table>`` tree per build (``LoadContext.table_location``); versions
    survive until :func:`vacuum_lake` collects the unreferenced ones.  This
    is the inspection half of per-table time travel: each row carries the
    etl_id, location, file count/bytes (storage listing, metadata only),
    and whether the production registration currently points at it.

    Reference analog: the reference's blue-green schema rename keeps ONE
    backup generation (``restore_schemas``, commands.py:1461-1474); a lake
    with per-build locations naturally keeps N, so the engine exposes them.
    """
    import os

    tn = rel.table_name
    full = f"{_quote(tn.schema)}.{_quote(tn.table)}"
    current = (
        table_location(ctx.spark, full) if ctx.spark.catalog.tableExists(full) else None
    )
    out: List[dict] = []
    if not os.path.isdir(ctx.data_root):
        return out
    for etl_id in sorted(os.listdir(ctx.data_root)):
        d = os.path.join(ctx.data_root, etl_id, tn.schema, tn.table)
        if not os.path.isdir(d):
            continue
        n_files = 0
        n_bytes = 0
        mtime = 0.0
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                n_files += 1
                n_bytes += st.st_size
                mtime = max(mtime, st.st_mtime)
        out.append(
            {
                "etl_id": etl_id,
                "location": d,
                "n_files": n_files,
                "bytes": n_bytes,
                "mtime": mtime,
                "is_current": current is not None
                and os.path.normpath(current) == os.path.normpath(d),
            }
        )
    return out


def rollback_table(ctx: LoadContext, rel: Relation, etl_id: str) -> dict:
    """Re-point a production table at an older on-disk lake version.

    The complement of :func:`restore_schemas` (which undoes the LAST
    publish via the backup database, schema-at-a-time): rollback is
    per-TABLE and N-deep — any version still on disk (i.e. not yet
    vacuumed) can become current again.  Metadata-only: nothing is
    copied or rewritten, the registration just moves, so rollback is as
    atomic as the blue-green publish itself.

    Guards:
    - the target version must exist on disk and read as parquet (the
      row-count audit doubles as the readability check);
    - rolling back to the already-current version is refused (a no-op
      hiding a user error);
    - for design-declared layouts (partitioned/bucketed tables the
      re-registration declares columns for), the target files' schema
      must carry every design column — refused with the drift list
      otherwise, because registering the CURRENT design over OLDER files
      would produce a table that fails at read time.

    After a rollback, :func:`vacuum_lake` keeps the rolled-back version
    (it is referenced again) and the abandoned newer version becomes
    collectible — the two verbs compose into undo + cleanup.
    """
    versions = table_versions(ctx, rel)
    target = next((v for v in versions if v["etl_id"] == etl_id), None)
    if target is None:
        have = ", ".join(v["etl_id"] for v in versions) or "none on disk"
        raise ETLRuntimeError(
            f"{rel.identifier}: no lake version for etl_id={etl_id} "
            f"(available: {have} — vacuumed versions cannot be rolled "
            "back to)"
        )
    if target["is_current"]:
        raise ETLRuntimeError(
            f"{rel.identifier}: etl_id={etl_id} is already the current "
            "version"
        )
    location = target["location"]
    df = ctx.spark.read.parquet(location)
    n_rows = df.count()  # readability + the post-rollback audit number
    tn = rel.table_name
    if _has_layout(rel.design):
        have_cols = set(df.columns)
        part_cols = list(rel.design.attributes.get("partition_by") or [])
        # partition columns live in directory names, not the files
        missing = [
            c.name
            for c in rel.design.columns
            if not c.skipped and c.name not in have_cols and c.name not in part_cols
        ]
        if missing:
            raise ETLRuntimeError(
                f"{rel.identifier}: cannot roll back to etl_id={etl_id} — "
                f"design columns {missing} absent from the version's files "
                "(schema drift; the current design no longer matches)"
            )
    _register(ctx, tn.schema, tn.table, location, rel.design)
    _analyze_relation(ctx, tn.schema, tn.table, rel.design)
    with Monitor(
        ctx.store, rel.identifier, STEP_MAINTAIN, etl_id=ctx.etl_id
    ) as mon:
        mon.rowcount = n_rows
        mon.extra = {"rollback_to": etl_id, "location": location}
    return {
        "identifier": rel.identifier,
        "etl_id": etl_id,
        "location": location,
        "rows": n_rows,
    }


def load_sources_as_extracted(
    ctx: LoadContext,
    relations: Sequence[Relation],
    poll_interval: float = 0.2,
    idle_timeout: float = 3600.0,
) -> List[str]:
    """Event-driven ("percolator") source loading: load each source table as
    its extract-finish event lands in the event store.

    Reference: load.py:790-988 — a poller watches per-table extract events
    and dispatches loads concurrently; terminates after ``idle_timeout``
    without progress (default 3600 s per default_settings.yaml:17).
    Returns identifiers in the order they were loaded.
    """
    import time as _time

    from .monitor import EVENT_FAIL, STEP_EXTRACT

    all_relations = list(relations)
    pending = {r.identifier: r for r in all_relations if r.is_source_relation}
    staging_ids = [r.identifier for r in all_relations]
    loaded: List[str] = []
    failed: List[Relation] = []
    last_progress = _time.time()
    with ThreadPoolExecutor(max_workers=ctx.max_concurrency) as pool:
        futures = {}
        while pending or futures:
            progressed = False
            for ident in list(pending):
                outcome = ctx.store.latest_outcome(ident, STEP_EXTRACT)
                if outcome is None:
                    continue
                rel = pending.pop(ident)
                progressed = True
                if outcome.get("event") == EVENT_FAIL:
                    # reference load.py:894-903: a failed extract still
                    # CREATES the relation (empty, skip_copy) and poisons
                    # every dependent — the load proceeds structurally so
                    # downstream DDL exists, but no bad data flows
                    rel.skip_copy = True
                    skipped = mark_failure(all_relations, rel)
                    failed.append(rel)
                    logger.error(
                        "extract failed for %s; creating empty and skipping "
                        "%d dependent(s): %s",
                        ident,
                        len(skipped),
                        skipped,
                    )
                futures[ident] = pool.submit(
                    inheritable_thread_target(ctx.spark)(_build_in_pool),
                    ctx, rel, True, staging_ids,
                )
            for ident, fut in list(futures.items()):
                if fut.done():
                    del futures[ident]
                    fut.result()  # propagate errors
                    loaded.append(ident)
                    last_progress = _time.time()
                    progressed = True
            # timeout counts from the last PROGRESS (a completed load or a
            # consumed event), never while work is in flight — an injected
            # slow source defers it, matching the reference's
            # checkpoint-on-no-progress poller (load.py:855-866)
            if pending and not futures and _time.time() - last_progress > idle_timeout:
                raise ETLRuntimeError(
                    f"idle timeout: no extract events for {sorted(pending)}"
                )
            if not progressed:
                _time.sleep(poll_interval)
    required_failed = sorted(r.identifier for r in failed if r.is_required)
    if required_failed:
        raise RequiredRelationLoadError(required_failed)
    return loaded
