"""The loader's dependency-DAG build and its one-scan audits.

Scheduler tests replace ``build_one_relation`` with a fake that records
start/end order and coordinates through ``threading.Event``s, so they
check the build order without building anything.  The audit tests build
real relations and compare the loader's counts, schemas and statistics
with what Spark reads from the same files.
"""

import re
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

import arthur_redshift_etl_spark.loader as loader
from arthur_redshift_etl_spark.design import ColumnDefinition, TableDesign
from arthur_redshift_etl_spark.loader import (
    LoadContext,
    build_one_relation,
    load_warehouse,
    table_location,
)
from arthur_redshift_etl_spark.monitor import STEP_LOAD, EventStore
from arthur_redshift_etl_spark.names import as_staging
from arthur_redshift_etl_spark.relations import (
    Relation,
    order_by_dependencies,
    sanitize_dependencies,
)

WAIT = 10.0  # seconds an Event waits before the test calls it a deadlock


@pytest.fixture()
def clean_dbs(spark):
    yield
    for row in spark.sql("SHOW DATABASES").collect():
        if row["namespace"] != "default":
            spark.sql(f"DROP DATABASE IF EXISTS `{row['namespace']}` CASCADE")


# -- scheduler ---------------------------------------------------------------


def _source(name):
    return Relation(
        design=TableDesign(
            name=name, source_name="up.public.t", columns=[ColumnDefinition("c")]
        ),
        data_location="/nonexistent",
    )


def _ctas(name, deps, kind="CTAS"):
    return Relation(
        design=TableDesign(
            name=name,
            source_name=kind,
            columns=[ColumnDefinition("c")],
            depends_on=list(deps),
        ),
        query="SELECT 1 AS c",
    )


def _ordered(rels):
    sanitize_dependencies(rels)
    return order_by_dependencies(rels)


class FakeBuilds:
    """Stand-in for ``build_one_relation``: logs ("start"|"end", id) and
    runs the per-relation hook (which may wait on Events or raise)."""

    def __init__(self, hooks=None):
        self.hooks = hooks or {}
        self.log = []
        self.skip_copy = {}
        self.lock = threading.Lock()

    def __call__(self, ctx, rel, use_staging=True, staging_identifiers=()):
        with self.lock:
            self.log.append(("start", rel.identifier))
            self.skip_copy[rel.identifier] = rel.skip_copy
        try:
            hook = self.hooks.get(rel.identifier)
            if hook is not None:
                hook()
            return 1
        finally:
            with self.lock:
                self.log.append(("end", rel.identifier))

    def index(self, event, ident):
        return self.log.index((event, ident))


def _run(spark, tmp_path, monkeypatch, rels, fake, max_concurrency=4):
    monkeypatch.setattr(loader, "build_one_relation", fake)
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), max_concurrency=max_concurrency
    )
    return loader._build_all(ctx, rels, use_staging=True)


def test_relation_starts_after_all_its_dependencies(spark, tmp_path, monkeypatch):
    """b outlives a and gives t a second to start early; t must not."""
    a_done = threading.Event()
    t_started = threading.Event()

    def slow_b():
        a_done.wait(WAIT)
        t_started.wait(1.0)

    fake = FakeBuilds({"s.a": a_done.set, "s.b": slow_b, "w.t": t_started.set})
    rels = _ordered(
        [
            _source("s.a"),
            _source("s.b"),
            _ctas("w.t", ["s.a", "s.b"]),
            _ctas("w.v", ["w.t"], kind="VIEW"),
        ]
    )
    assert _run(spark, tmp_path, monkeypatch, rels, fake) == []
    for rel in rels:
        for dep in rel.dependencies:
            assert fake.index("end", dep) < fake.index("start", rel.identifier), (
                rel.identifier,
                dep,
                fake.log,
            )


def test_transformation_starts_while_unrelated_source_runs(
    spark, tmp_path, monkeypatch
):
    """t depends only on the fast source; the slow source waits until t
    has started.  A barrier between sources and transformations would
    hold t back until the wait times out."""
    t_started = threading.Event()
    seen = {}

    def slow_source():
        seen["t_started_first"] = t_started.wait(WAIT)

    fake = FakeBuilds({"s.slow": slow_source, "w.t": t_started.set})
    rels = _ordered([_source("s.fast"), _source("s.slow"), _ctas("w.t", ["s.fast"])])
    assert _run(spark, tmp_path, monkeypatch, rels, fake) == []
    assert seen["t_started_first"], fake.log
    assert fake.index("start", "w.t") < fake.index("end", "s.slow")


def test_failed_source_builds_dependents_empty(spark, tmp_path, monkeypatch):
    def boom():
        raise RuntimeError("source blew up")

    fake = FakeBuilds({"s.bad": boom})
    fallbacks = []

    def record_fallback(ctx, rel, df, db):
        with fake.lock:
            fake.log.append(("fallback", rel.identifier))
        fallbacks.append((rel.identifier, db, df.count()))
        return 0

    monkeypatch.setattr(loader, "materialize_dataframe", record_fallback)
    rels = _ordered(
        [
            _source("s.bad"),
            _source("s.ok"),
            _ctas("w.from_bad", ["s.bad"]),
            _ctas("w.v_from_bad", ["w.from_bad"], kind="VIEW"),
            _ctas("w.from_ok", ["s.ok"]),
        ]
    )
    failed = _run(spark, tmp_path, monkeypatch, rels, fake)
    assert [r.identifier for r in failed] == ["s.bad"]
    assert str(failed[0].failure_exc) == "source blew up"
    # the empty fallback exists before any dependent starts
    assert fallbacks == [("s.bad", as_staging("s"), 0)]
    assert fake.index("fallback", "s.bad") < fake.index("start", "w.from_bad")
    assert fake.skip_copy["w.from_bad"] and fake.skip_copy["w.v_from_bad"]
    assert not fake.skip_copy["w.from_ok"] and not fake.skip_copy["s.ok"]
    assert ("end", "w.from_ok") in fake.log


def test_catalog_sentinel_relation_builds_last(spark, tmp_path, monkeypatch):
    fake = FakeBuilds()
    rels = _ordered(
        [
            _ctas("w.catalog_report", ["pg_catalog.pg_tables"]),
            _source("s.a"),
            _source("s.b"),
            _ctas("w.t", ["s.a"]),
            _ctas("w.free", []),
        ]
    )
    assert _run(spark, tmp_path, monkeypatch, rels, fake) == []
    assert fake.log[-2:] == [("start", "w.catalog_report"), ("end", "w.catalog_report")]
    assert len(fake.log) == 2 * len(rels)


# -- job group -----------------------------------------------------------------


def _source_from_sf(spark, sf_dir, tmp_path, name, table, cols, **attributes):
    d = str(tmp_path / "data" / name)
    spark.read.parquet(f"{sf_dir}/{table}.parquet").write.mode("overwrite").parquet(d)
    return Relation(
        design=TableDesign(
            name=name,
            source_name=f"up.public.{table}",
            columns=cols,
            attributes=dict(attributes),
        ),
        data_location=d,
    )


def _nation(spark, sf_dir, tmp_path, name, **attributes):
    cols = [
        ColumnDefinition("n_nationkey", "int", not_null=True),
        ColumnDefinition("n_name", "string"),
        ColumnDefinition("n_regionkey", "int"),
    ]
    return _source_from_sf(spark, sf_dir, tmp_path, name, "nation", cols, **attributes)


def _job_ids(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


def test_every_load_job_runs_in_the_callers_job_group(
    spark, sf_dir, tmp_path, clean_dbs
):
    """A load under a job group (what ``BuildGroup`` sets for
    ``terminate_builds``) runs every one of its jobs in that group, pool
    builds included, so a cancel reaches all of them."""
    rels = [
        _nation(spark, sf_dir, tmp_path, "jsrc.nation"),
        _source_from_sf(
            spark,
            sf_dir,
            tmp_path,
            "jsrc.region",
            "region",
            [
                ColumnDefinition("r_regionkey", "int", not_null=True),
                ColumnDefinition("r_name", "string"),
            ],
        ),
        Relation(
            design=TableDesign(
                name="jdw.nations",
                source_name="CTAS",
                columns=[ColumnDefinition("n_name"), ColumnDefinition("r_name")],
                depends_on=["jsrc.nation", "jsrc.region"],
            ),
            query="SELECT n.n_name, r.r_name FROM jsrc.nation n "
            "JOIN jsrc.region r ON n.n_regionkey = r.r_regionkey",
        ),
    ]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("dag-load", "load under a job group")
    try:
        load_warehouse(ctx, rels)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new_jobs = _job_ids(spark) - before
    in_group = {int(j) for j in sc.statusTracker().getJobIdsForGroup("dag-load")}
    assert new_jobs, "the load ran no jobs"
    assert new_jobs <= in_group, sorted(new_jobs - in_group)
    assert spark.table("jdw.nations").count() == 25


# -- empty relations -----------------------------------------------------------


def _all_types_design(name, **attributes):
    return TableDesign(
        name=name,
        source_name="up.public.all_types",
        columns=[
            ColumnDefinition("id", "long", not_null=True),
            ColumnDefinition("flag", "boolean"),
            ColumnDefinition("day", "date"),
            ColumnDefinition("amount", "decimal", sql_type="numeric(12,3)"),
            ColumnDefinition("ratio", "double"),
            ColumnDefinition("score", "float"),
            ColumnDefinition("qty", "int"),
            ColumnDefinition("label", "string", sql_type="varchar(8)"),
            ColumnDefinition("at", "timestamp"),
            ColumnDefinition("token", "uuid"),
            ColumnDefinition("unit price", "double"),
        ],
        attributes=dict(attributes),
    )


def _as_registered(schema: StructType) -> StructType:
    """A design schema as a registration declares it: every column
    nullable, no field metadata."""
    return StructType([StructField(f.name, f.dataType, True) for f in schema.fields])


def test_empty_frame_is_a_local_scan(spark):
    schema = _all_types_design("e.t").to_spark_schema()
    df = loader._empty_frame(spark, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema == schema
    assert df.count() == 0


def test_skip_copy_load_registers_the_design_schema(spark, tmp_path, clean_dbs):
    src = Relation(design=_all_types_design("ksrc.all_types"), data_location=None)
    ctas = Relation(
        design=TableDesign(
            name="kdw.copy",
            source_name="CTAS",
            columns=[ColumnDefinition("id", "long"), ColumnDefinition("label")],
            depends_on=["ksrc.all_types"],
        ),
        query="SELECT id, label FROM ksrc.all_types",
    )
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=EventStore(), skip_copy=True
    )
    load_warehouse(ctx, [src, ctas])
    assert spark.table("ksrc.all_types").schema == _as_registered(
        src.design.to_spark_schema()
    )
    assert [(f.name, f.dataType.simpleString()) for f in spark.table("kdw.copy").schema] == [
        ("id", "bigint"),
        ("label", "string"),
    ]
    assert spark.table("ksrc.all_types").count() == 0


# -- one-scan audits -----------------------------------------------------------


def _write_all_types(spark, path, rows=7):
    (
        spark.range(rows)
        .select(
            F.col("id"),
            (F.col("id") % 2 == 0).alias("flag"),
            F.expr("date_add(DATE'2024-01-01', CAST(id AS INT))").alias("day"),
            F.expr("CAST(id * 1.25 AS DECIMAL(12,3))").alias("amount"),
            (F.col("id") / 3).alias("ratio"),
            (F.col("id") / 7).cast("float").alias("score"),
            F.col("id").cast("int").alias("qty"),
            F.concat(F.lit("label-"), F.col("id")).alias("label"),
            F.expr(
                "TIMESTAMP_NTZ'2024-01-01 00:00:00' + make_dt_interval(0, CAST(id AS INT))"
            ).alias("at"),
            F.expr("uuid()").alias("token"),
            (F.col("id") * 0.5).alias("unit price"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def _audit_cases(spark, sf_dir, tmp_path):
    """(relation, expected rows): plain, partitioned, bucketed, empty files
    and skip_copy."""
    plain = _nation(spark, sf_dir, tmp_path, "asrc.plain")
    part = _nation(spark, sf_dir, tmp_path, "asrc.part", partition_by=["n_regionkey"])
    bucketed = _nation(
        spark,
        sf_dir,
        tmp_path,
        "asrc.bucketed",
        bucket_by={"columns": ["n_nationkey"], "buckets": 4},
    )
    empty = _nation(spark, sf_dir, tmp_path, "asrc.empty")
    spark.read.parquet(empty.data_location).limit(0).write.mode("overwrite").parquet(
        empty.data_location
    )
    skipped = _nation(spark, sf_dir, tmp_path, "asrc.skipped")
    skipped.skip_copy = True
    return [(plain, 25), (part, 25), (bucketed, 25), (empty, 0), (skipped, 0)]


def test_audit_count_matches_the_table(spark, sf_dir, tmp_path, clean_dbs):
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    for rel, rows in _audit_cases(spark, sf_dir, tmp_path):
        n = build_one_relation(ctx, rel, use_staging=False)
        event = ctx.store.latest_finish(rel.identifier, STEP_LOAD)
        assert n == event["rowcount"] == spark.table(rel.identifier).count() == rows, (
            rel.identifier
        )


def test_registered_schema_matches_the_files(spark, tmp_path, clean_dbs):
    """Declared at registration, the schema is the one parquet infers:
    every design type, a name that needs quoting, and a layout design."""
    data = str(tmp_path / "data" / "all_types")
    _write_all_types(spark, data)
    rels = [
        Relation(design=_all_types_design("tsrc.all_types"), data_location=data),
        Relation(
            design=_all_types_design("tsrc.by_day", partition_by=["qty"]),
            data_location=data,
        ),
    ]
    rels.append(
        Relation(
            design=TableDesign(
                name="tdw.derived",
                source_name="CTAS",
                columns=[
                    ColumnDefinition("id", "long"),
                    ColumnDefinition("amount", "decimal"),
                    ColumnDefinition("at", "timestamp"),
                    ColumnDefinition("unit price", "double"),
                ],
                depends_on=["tsrc.all_types"],
            ),
            query="SELECT id, amount, at, `unit price` FROM tsrc.all_types",
        )
    )
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    for rel in rels:
        build_one_relation(ctx, rel, use_staging=False)
        full = rel.identifier
        inferred = spark.read.parquet(table_location(spark, full)).schema
        assert spark.table(full).schema == inferred, full
    assert spark.table("tsrc.all_types").schema == _as_registered(
        rels[0].design.to_spark_schema()
    )
    assert sorted(spark.table("tdw.derived").collect()) == sorted(
        spark.sql("SELECT id, amount, at, `unit price` FROM tsrc.all_types").collect()
    )


def _statistics(spark, full, columns):
    table = next(
        r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {full}").collect()
        if r["col_name"] == "Statistics"
    )
    cols = {
        c: {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {full} `{c}`").collect()
        }
        for c in columns
    }
    return table, cols


def test_publish_keeps_the_staged_statistics(spark, tmp_path, clean_dbs):
    """Publish carries the staged statistics over, and they are what an
    ANALYZE of the published table computes."""
    data = str(tmp_path / "data" / "all_types")
    _write_all_types(spark, data, rows=40)
    stats_cols = ["id", "amount", "day"]
    rels = [
        Relation(
            design=_all_types_design("psrc.all_types", stats_columns=stats_cols),
            data_location=data,
        ),
        Relation(
            design=_all_types_design(
                "psrc.by_qty", stats_columns=["id"], partition_by=["qty"]
            ),
            data_location=data,
        ),
    ]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    assert loader._build_all(ctx, rels, use_staging=True) == []
    staged = {
        rel.identifier: _statistics(
            spark,
            f"{as_staging('psrc')}.{rel.table_name.table}",
            rel.design.attributes["stats_columns"],
        )
        for rel in rels
    }
    loader.publish(ctx, rels)
    for rel in rels:
        cols = rel.design.attributes["stats_columns"]
        table, col_stats = staged[rel.identifier]
        assert re.fullmatch(r"\d+ bytes, 40 rows", table), table
        assert col_stats["id"]["distinct_count"] == "40"
        assert _statistics(spark, rel.identifier, cols) == staged[rel.identifier]
        loader._analyze_relation(ctx, "psrc", rel.table_name.table, rel.design)
        assert _statistics(spark, rel.identifier, cols) == staged[rel.identifier]
