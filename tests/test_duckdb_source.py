"""Python DataSource extract path (format('duckdb')): schema inference,
partition-parallel reads, filter pushdown, Arrow batch transfer."""

import duckdb
import pytest
from pyspark.sql import functions as F


from arthur_redshift_etl_spark.sources.duckdb_source import register_duckdb_source

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("duck") / "upstream.duckdb")
    con = duckdb.connect(p)
    con.execute(
        f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    con.execute(
        f"CREATE TABLE nation AS SELECT * FROM read_parquet('{SF}/nation.parquet')"
    )
    con.close()
    return p


@pytest.fixture(scope="module")
def registered(spark):
    register_duckdb_source(spark)
    return spark


def _read(spark, path, **opts):
    r = spark.read.format("duckdb").option("path", path)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_schema_and_full_read_match_parquet(registered, duck_path):
    got = _read(registered, duck_path, table="orders")
    ref = registered.read.parquet(f"{SF}/orders.parquet")
    assert dict(got.dtypes) == dict(ref.dtypes)
    assert got.count() == ref.count()
    g = {tuple(map(str, r)) for r in got.collect()}
    e = {tuple(map(str, r)) for r in ref.collect()}
    assert g == e


def test_partitioned_read_splits_and_loses_nothing(registered, duck_path):
    got = _read(
        registered, duck_path, table="orders",
        partition_column="o_orderkey", num_partitions=4,
    )
    assert got.rdd.getNumPartitions() == 4
    ref = registered.read.parquet(f"{SF}/orders.parquet")
    assert got.count() == ref.count()
    # every partition actually carries rows (the ranges are real splits)
    sizes = got.rdd.glom().map(len).collect()
    assert all(s > 0 for s in sizes)
    # boundary rows (MIN and MAX of the split key) survive the range edges
    keys = got.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    rkeys = ref.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    assert tuple(keys) == tuple(rkeys)


def test_filter_pushdown_reaches_duckdb(registered, duck_path):
    got = _read(registered, duck_path, table="orders").filter(
        "o_orderstatus = 'F' AND o_totalprice > 1000.0"
    )
    # both predicates accepted by the source: no Filter node survives the
    # optimizer above the v2 scan (and the results prove duckdb APPLIED
    # them, not merely swallowed them)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_orderstatus = 'F' AND o_totalprice > 1000.0")
        .collect()
    )
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref
    }


def test_unsupported_filter_stays_in_spark(registered, duck_path):
    # StringContains is not translated: the source yields it back and
    # Spark must re-apply it above the scan
    got = _read(registered, duck_path, table="orders").filter(
        "o_orderpriority LIKE '%URGENT%'"
    )
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in plan, plan
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_orderpriority LIKE '%URGENT%'")
        .collect()
    )
    assert len(ref) > 0
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref
    }


def test_query_option_projects_upstream(registered, duck_path):
    got = _read(
        registered, duck_path,
        query="SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1",
    )
    assert got.columns == ["o_custkey", "n"]
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref.collect()
    }


def test_option_validation(registered, duck_path):
    with pytest.raises(Exception, match="exactly one"):
        _read(registered, duck_path, table="orders", query="SELECT 1").count()
    with pytest.raises(Exception, match="partition_column"):
        _read(registered, duck_path, table="orders", num_partitions=4).count()


def test_extract_design_drives_duckdb_transport(registered, duck_path):
    """One table design drives the duckdb transport exactly like JDBC:
    projection+casts, WHERE condition, split-by partitioning."""
    from arthur_redshift_etl_spark.design import (
        ColumnDefinition,
        ExtractSettings,
        TableDesign,
    )
    from arthur_redshift_etl_spark.sources.duckdb_source import extract_design

    design = TableDesign(
        name="dw.orders",
        source_name="up.main.orders",
        columns=[
            ColumnDefinition("o_orderkey", "long", not_null=True),
            ColumnDefinition("o_custkey", "long"),
            ColumnDefinition("o_totalprice", "double"),
        ],
        constraints=[{"primary_key": ["o_orderkey"]}],
        extract_settings=ExtractSettings(
            condition="o_totalprice > 50000", num_partitions=4
        ),
    )
    got = extract_design(registered, design, duck_path)
    assert got.columns == ["o_orderkey", "o_custkey", "o_totalprice"]
    assert got.rdd.getNumPartitions() == 4
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_totalprice > 50000")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    assert ref.count() > 0
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref.collect()
    }


def test_change_feed_streams_appends_exactly_once(registered, tmp_path):
    """readStream over a duckdb table: cursor offsets in the checkpoint,
    upstream appends picked up by the next run, no row lost or repeated."""
    feed = str(tmp_path / "feed.duckdb")
    con = duckdb.connect(feed)
    con.execute(
        "CREATE TABLE changes AS "
        "SELECT range AS change_id, 'v' || range::VARCHAR AS payload "
        "FROM range(0, 100)"
    )
    con.close()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            registered.readStream.format("duckdb")
            .option("path", feed)
            .option("table", "changes")
            .option("cursor_column", "change_id")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = registered.read.parquet(out)
    assert got1.count() == 100

    con = duckdb.connect(feed)
    con.execute(
        "INSERT INTO changes "
        "SELECT range AS change_id, 'v' || range::VARCHAR FROM range(100, 150)"
    )
    con.close()
    run_once()
    got2 = registered.read.parquet(out)
    assert got2.count() == 150  # +50 appended, 0-99 NOT re-emitted
    ids = sorted(r.change_id for r in got2.collect())
    assert ids == list(range(150))


def test_change_feed_requires_cursor_column(registered, tmp_path):
    feed = str(tmp_path / "nocursor.duckdb")
    con = duckdb.connect(feed)
    con.execute("CREATE TABLE t AS SELECT 1 AS a")
    con.close()
    with pytest.raises(Exception, match="cursor_column"):
        (
            registered.readStream.format("duckdb")
            .option("path", feed).option("table", "t").load()
            .writeStream.format("noop").trigger(availableNow=True).start()
            .awaitTermination(60)
        )


def test_writer_overwrite_and_append_round_trip(registered, tmp_path):
    db = str(tmp_path / "mart.duckdb")
    src = registered.read.parquet(f"{SF}/nation.parquet")
    src.write.format("duckdb").option("path", db).option("table", "nation").mode(
        "overwrite"
    ).save()
    con = duckdb.connect(db)
    n1 = con.execute('SELECT COUNT(*) FROM "nation"').fetchone()[0]
    names = {r[0] for r in con.execute("SELECT n_name FROM nation").fetchall()}
    con.close()
    assert n1 == src.count()
    assert names == {r.n_name for r in src.collect()}
    # append doubles; overwrite replaces atomically
    src.write.format("duckdb").option("path", db).option("table", "nation").mode(
        "append"
    ).save()
    src.write.format("duckdb").option("path", db).option("table", "nation2").mode(
        "append"
    ).save()  # append to a missing table creates it
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM nation").fetchone()[0] == 2 * n1
    assert con.execute("SELECT COUNT(*) FROM nation2").fetchone()[0] == n1
    con.close()
    src.limit(3).write.format("duckdb").option("path", db).option(
        "table", "nation"
    ).mode("overwrite").save()
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM nation").fetchone()[0] == 3
    con.close()


def test_writer_aborts_leave_table_untouched(registered, tmp_path):
    import os as _os

    db = str(tmp_path / "abort.duckdb")
    src = registered.read.parquet(f"{SF}/nation.parquet")
    src.write.format("duckdb").option("path", db).option("table", "t").mode(
        "overwrite"
    ).save()

    def poison(batches):
        from pyspark import TaskContext

        for pdf in batches:
            if TaskContext.get().partitionId() == 1:
                raise RuntimeError("injected write-side failure")
            yield pdf

    bad = src.repartition(4).mapInPandas(poison, src.schema)
    with pytest.raises(Exception):
        bad.write.format("duckdb").option("path", db).option("table", "t").mode(
            "overwrite"
        ).save()
    # overwrite never happened: table intact, staging cleaned
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM t").fetchone()[0] == src.count()
    con.close()
    staging = db + ".staging"
    assert not _os.path.isdir(staging) or not any(
        _os.scandir(staging)
    ), "staging files must be cleaned on abort"


def test_key_ranges_partition_the_keyspace():
    """Property: for any [lo, hi] and n, the ranges tile the whole key
    space — first lo and last hi unbounded, adjacent bounds equal, bounds
    strictly increasing, never an empty range."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis unavailable")
    from arthur_redshift_etl_spark.sources.keyrange import _key_ranges

    @settings(max_examples=200, deadline=None)
    @given(
        lo=st.integers(-10**9, 10**9),
        span=st.integers(0, 10**9),
        n=st.integers(1, 64),
    )
    def check(lo, span, n):
        hi = lo + span
        ranges = _key_ranges(lo, hi, n)
        assert ranges[0].lo is None
        assert ranges[-1].hi is None
        assert 1 <= len(ranges) <= n
        for a, b in zip(ranges, ranges[1:]):
            assert a.hi == b.lo  # contiguous: no gap, no overlap
            assert a.hi is not None
        inner = [r.hi for r in ranges[:-1]]
        assert inner == sorted(set(inner))  # strictly increasing
        for b in inner:
            assert lo < b <= hi  # every bound splits the actual key span

    check()


def test_writer_overwrite_with_empty_dataframe_keeps_empty_table(registered, tmp_path):
    db = str(tmp_path / "empty.duckdb")
    src = registered.read.parquet(f"{SF}/nation.parquet")
    src.write.format("duckdb").option("path", db).option("table", "t").mode(
        "overwrite"
    ).save()
    # overwrite with 0 rows must leave an EMPTY table with the schema,
    # not silently drop the target
    src.filter("1 = 0").write.format("duckdb").option("path", db).option(
        "table", "t"
    ).mode("overwrite").save()
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM t").fetchone()[0] == 0
    cols = [r[0] for r in con.execute("DESCRIBE t").fetchall()]
    con.close()
    assert cols == src.columns


def test_writer_append_unqualified_ignores_other_schemas(registered, tmp_path):
    db = str(tmp_path / "schemas.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE SCHEMA s")
    con.execute("CREATE TABLE s.nation AS SELECT 1 AS x")  # decoy
    con.close()
    src = registered.read.parquet(f"{SF}/nation.parquet")
    src.write.format("duckdb").option("path", db).option("table", "nation").mode(
        "append"
    ).save()
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM main.nation").fetchone()[0] == src.count()
    assert con.execute("SELECT COUNT(*) FROM s.nation").fetchone()[0] == 1
    con.close()


def test_change_feed_start_cursor_never_rewinds(registered, tmp_path):
    """start_cursor past current data: the offset must hold, and rows
    arriving BELOW it later must stay skipped."""
    feed = str(tmp_path / "skip.duckdb")
    con = duckdb.connect(feed)
    con.execute(
        "CREATE TABLE changes AS SELECT range AS change_id, 'v' AS payload "
        "FROM range(0, 500)"
    )
    con.close()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            registered.readStream.format("duckdb")
            .option("path", feed)
            .option("table", "changes")
            .option("cursor_column", "change_id")
            .option("start_cursor", "1000")  # beyond current max (499)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # nothing past 1000 yet -> no output, offset must NOT drop to 499
    con = duckdb.connect(feed)
    con.execute("INSERT INTO changes SELECT range, 'v' FROM range(500, 1200)")
    con.close()
    run_once()
    import os as _os

    landed = (
        registered.read.parquet(out)
        if _os.path.isdir(out) and any(f.endswith(".parquet") for _, _, fs in _os.walk(out) for f in fs)
        else None
    )
    assert landed is not None, "rows past start_cursor must be emitted"
    ids = sorted(r.change_id for r in landed.collect())
    assert ids == list(range(1001, 1200))  # skipped history stays skipped


def _engine(name, duck_path):
    """(source module, orders upstream path) for one key-range engine."""
    from arthur_redshift_etl_spark.sources import duckdb_source, sqlite_source
    from arthur_redshift_etl_spark.workload.recall_sources import _sqlite_mirror

    if name == "duckdb":
        return duckdb_source, duck_path
    return sqlite_source, _sqlite_mirror(SF)


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_read_plan_expression_split_key_falls_back_single_range(
    registered, duck_path, engine
):
    """A temporal PK makes find_partition_key return a Spark-only CAST
    expression; the transport must fall back to one range instead of
    quoting the expression as an upstream column."""
    from arthur_redshift_etl_spark.sources.jdbc import JdbcExtractPlan

    source, path = _engine(engine, duck_path)
    plan = JdbcExtractPlan(
        query="SELECT o_orderkey, o_totalprice FROM orders",
        partition_column="CAST(unix_timestamp(o_orderdate) AS BIGINT)",
        num_partitions=4,
        boundary_query=None,
    )
    df = source.read_plan(registered, path, plan)
    assert df.rdd.getNumPartitions() == 1  # safe fallback, no binder error
    ref = registered.read.parquet(f"{SF}/orders.parquet")
    assert df.count() == ref.count()


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_design_boundary_query_sets_split_points(registered, duck_path, engine):
    """The design's boundary_query, not MIN/MAX, bounds the key ranges: one
    narrower than the data moves the split points (per-partition counts
    follow its ranges) and the unbounded last range keeps every row."""
    from arthur_redshift_etl_spark.design import (
        ColumnDefinition,
        ExtractSettings,
        TableDesign,
    )
    from arthur_redshift_etl_spark.sources.keyrange import _key_ranges

    source, path = _engine(engine, duck_path)
    keys = [
        r.o_orderkey
        for r in registered.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    cut = sorted(keys)[len(keys) // 4]
    design = TableDesign(
        name="dw.orders",
        source_name="up.main.orders",
        columns=[ColumnDefinition("o_orderkey", "long", not_null=True)],
        constraints=[{"primary_key": ["o_orderkey"]}],
        extract_settings=ExtractSettings(
            boundary_query=(
                "SELECT MIN(o_orderkey), MAX(o_orderkey) FROM orders "
                f"WHERE o_orderkey <= {cut}"
            ),
            num_partitions=4,
        ),
    )
    df = source.extract_design(registered, design, path)
    sizes = df.rdd.glom().map(len).collect()

    def in_range(k, r):
        return (r.lo is None or k >= r.lo) and (r.hi is None or k < r.hi)

    expected = [
        sum(in_range(k, r) for k in keys)
        for r in _key_ranges(min(keys), cut, 4)
    ]
    assert sizes == expected
    assert sizes[-1] > len(keys) // 2  # everything past the cut lands last
    assert sum(sizes) == len(keys)


def _orders_design(**settings):
    from arthur_redshift_etl_spark.design import (
        ColumnDefinition,
        ExtractSettings,
        TableDesign,
    )

    return TableDesign(
        name="dw.orders",
        source_name="up.main.orders",
        columns=[
            ColumnDefinition("o_orderkey", "long", not_null=True),
            ColumnDefinition("o_custkey", "long"),
            ColumnDefinition("o_totalprice", "double"),
        ],
        constraints=[{"primary_key": ["o_orderkey"]}],
        extract_settings=ExtractSettings(**settings),
    )


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_extract_design_sized_from_upstream(registered, duck_path, engine):
    """With no num_partitions the probed size plans the extract: a table
    well under 10 MiB is one range, not the 640 MiB fallback's 32."""
    source, path = _engine(engine, duck_path)
    df = source.extract_design(registered, _orders_design(), path)
    assert df.rdd.getNumPartitions() == 1
    ref = registered.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    rows = sorted(tuple(map(str, r)) for r in df.collect())
    assert rows == sorted(tuple(map(str, r)) for r in ref.collect())


@pytest.fixture(scope="module")
def big_duck(tmp_path_factory):
    """~57 MiB of Arrow in one table: 1M rows of two bigints and a 40-char
    string, generated in DuckDB."""
    p = str(tmp_path_factory.mktemp("bigduck") / "big.duckdb")
    con = duckdb.connect(p)
    con.execute(
        "CREATE TABLE big AS SELECT i AS k, i * 2 AS v, "
        "lpad(CAST(i AS VARCHAR), 40, 'x') AS pad FROM range(1000000) t(i)"
    )
    con.close()
    return p


def _big_design(**settings):
    from arthur_redshift_etl_spark.design import (
        ColumnDefinition,
        ExtractSettings,
        TableDesign,
    )

    return TableDesign(
        name="dw.big",
        source_name="up.main.big",
        columns=[
            ColumnDefinition("k", "long", not_null=True),
            ColumnDefinition("v", "long"),
            ColumnDefinition("pad", "string"),
        ],
        constraints=[{"primary_key": ["k"]}],
        extract_settings=ExtractSettings(**settings),
    )


def test_extract_design_plans_many_ranges_for_a_large_table(registered, big_duck):
    from arthur_redshift_etl_spark.sources.duckdb_source import DuckDBDataSource
    from arthur_redshift_etl_spark.sources.jdbc import (
        maximize_partitions,
        select_statement,
    )

    design = _big_design()
    size = DuckDBDataSource.size_bytes(big_duck, select_statement(design))
    assert 40 << 20 < size < 80 << 20
    assert maximize_partitions(size) > 1
    df = DuckDBDataSource.extract_design(registered, design, big_duck)
    assert df.rdd.getNumPartitions() == maximize_partitions(size)


def test_extract_design_sizes_the_filtered_relation(registered, big_duck):
    """The probe counts the design's condition: a 10% slice of the large
    table plans fewer ranges than the whole table."""
    from arthur_redshift_etl_spark.sources.duckdb_source import DuckDBDataSource

    whole = DuckDBDataSource.extract_design(registered, _big_design(), big_duck)
    part = DuckDBDataSource.extract_design(
        registered, _big_design(condition="k < 100000"), big_duck
    )
    assert part.rdd.getNumPartitions() < whole.rdd.getNumPartitions()
    assert part.rdd.getNumPartitions() == 1


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_size_probe_raises_before_any_spark_job(registered, duck_path, engine):
    """A query the upstream cannot run fails in the driver's probe, with
    the engine's own error, before Spark runs a job."""
    import sqlite3

    from arthur_redshift_etl_spark.design import ColumnDefinition, TableDesign

    source, path = _engine(engine, duck_path)
    design = TableDesign(
        name="dw.missing",
        source_name="up.main.no_such_table",
        columns=[ColumnDefinition("k", "long", not_null=True)],
        constraints=[{"primary_key": ["k"]}],
    )
    sc = registered.sparkContext
    sc.setJobGroup("size-probe", "probe failure")
    try:
        with pytest.raises((duckdb.Error, sqlite3.Error), match="no_such_table"):
            source.extract_design(registered, design, path)
        assert sc.statusTracker().getJobIdsForGroup("size-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_empty_relation_plans_one_range(registered, duck_path, engine):
    source, path = _engine(engine, duck_path)
    df = source.extract_design(
        registered, _orders_design(condition="o_orderkey < 0"), path
    )
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 0


# -- driver read of small single-range plans ---------------------------------


def _source_class(engine):
    from arthur_redshift_etl_spark.sources.duckdb_source import DuckDBDataSource
    from arthur_redshift_etl_spark.sources.sqlite_source import SQLiteDataSource

    return {"duckdb": DuckDBDataSource, "sqlite": SQLiteDataSource}[engine]


def _python_scan(df) -> bool:
    """Whether the executed plan reads through a Python DataSource."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "BatchScan" in plan and "(Python)" in plan


def _multiset(df):
    from collections import Counter

    return Counter(tuple(map(repr, r)) for r in df.collect())


@pytest.fixture(scope="module")
def typed_upstreams(tmp_path_factory):
    """{engine: path} of a ``typed`` table with one column per type the
    engine maps, one row of values and one row of NULLs."""
    import sqlite3

    d = tmp_path_factory.mktemp("typed")
    duck = str(d / "typed.duckdb")
    con = duckdb.connect(duck)
    con.execute(
        "CREATE TABLE typed AS SELECT * FROM (VALUES "
        "(1, TRUE, 1::TINYINT, 2::SMALLINT, 3::INTEGER, 4::BIGINT, 5::HUGEINT, "
        "1.5::FLOAT, 2.5::DOUBLE, 'a'::VARCHAR, 'ab'::BLOB, DATE '2020-01-02', "
        "TIMESTAMP '2020-01-02 03:04:05.123456', "
        "TIMESTAMPTZ '2020-01-02 03:04:05+02', 12.34::DECIMAL(10,2)), "
        "(2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
        "NULL, NULL, NULL)) v(k, b, ti, si, i, bi, hi, f, d, s, bl, dt, ts, tstz, dec)"
    )
    con.close()
    lite = str(d / "typed.sqlite")
    con = sqlite3.connect(lite)
    con.execute(
        "CREATE TABLE typed (k INTEGER, bi BIGINT, r REAL, d DOUBLE, f FLOAT, "
        "s TEXT, v VARCHAR(20))"
    )
    con.executemany(
        "INSERT INTO typed VALUES (?, ?, ?, ?, ?, ?, ?)",
        [(1, 4, 1.5, 2.5, 3.5, "a", "b"), (2, None, None, None, None, None, None)],
    )
    con.commit()
    con.close()
    return {"duckdb": duck, "sqlite": lite}


def _small_plan(cls, path, query):
    from arthur_redshift_etl_spark.sources.jdbc import JdbcExtractPlan

    size = cls.size_bytes(path, query)
    return JdbcExtractPlan(query, None, 1, None, size_bytes=size)


@pytest.mark.parametrize("where", ["", " WHERE k < 0"], ids=["rows", "empty"])
@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_driver_read_matches_datasource_read(
    registered, typed_upstreams, engine, where
):
    """A small single-range plan is read on the driver, with the schema,
    rows (NULLs included) and single partition of the Python DataSource
    read of the same query; an empty relation too."""
    from arthur_redshift_etl_spark.sources.duckdb_source import _TYPE_MAP

    cls, path = _source_class(engine), typed_upstreams[engine]
    query = f"SELECT * FROM typed{where}"
    got = cls.read_plan(registered, path, _small_plan(cls, path, query))
    ref = registered.read.format(engine).option("path", path).option(
        "query", query
    ).load()
    if engine == "duckdb":
        assert set(_TYPE_MAP.values()) <= {t for _, t in got.dtypes}
    assert got.schema == ref.schema
    assert not _python_scan(got) and _python_scan(ref)
    assert got.rdd.getNumPartitions() == 1 == ref.rdd.getNumPartitions()
    assert _multiset(got) == _multiset(ref)
    assert got.count() == (0 if where else 2)


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_small_extract_skips_the_python_datasource(registered, duck_path, engine):
    source, path = _engine(engine, duck_path)
    df = source.extract_design(registered, _orders_design(), path)
    assert not _python_scan(df)


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_multi_range_plan_keeps_the_python_datasource(registered, duck_path, engine):
    source, path = _engine(engine, duck_path)
    df = source.extract_design(registered, _orders_design(num_partitions=4), path)
    assert _python_scan(df)
    assert df.rdd.getNumPartitions() == 4


@pytest.fixture(scope="module")
def big_sqlite(tmp_path_factory):
    """~23 MiB of Arrow in one SQLite table: 200k rows of two integers and
    a 100-char string."""
    import sqlite3

    p = str(tmp_path_factory.mktemp("bigsqlite") / "big.sqlite")
    con = sqlite3.connect(p)
    con.execute(
        "CREATE TABLE big AS WITH RECURSIVE r(i) AS "
        "(SELECT 0 UNION ALL SELECT i + 1 FROM r WHERE i < 199999) "
        "SELECT i AS k, i * 2 AS v, printf('%0100d', i) AS pad FROM r"
    )
    con.commit()
    con.close()
    return p


@pytest.mark.parametrize("engine", ["duckdb", "sqlite"])
def test_large_expression_key_plan_keeps_the_python_datasource(
    registered, big_duck, big_sqlite, engine
):
    """Over 10 MiB, the expression-key single-range fallback stays a lazy
    Python DataSource read: the driver read is for small tables only."""
    from arthur_redshift_etl_spark.sources.jdbc import (
        MIN_PARTITION_BYTES,
        JdbcExtractPlan,
    )

    cls = _source_class(engine)
    path = big_duck if engine == "duckdb" else big_sqlite
    query = "SELECT k, v, pad FROM big"
    size = cls.size_bytes(path, query)
    assert size > MIN_PARTITION_BYTES
    plan = JdbcExtractPlan(
        query=query,
        partition_column="CAST(unix_timestamp(k) AS BIGINT)",
        num_partitions=4,
        boundary_query=None,
        size_bytes=size,
    )
    df = cls.read_plan(registered, path, plan)
    assert _python_scan(df)
    assert df.rdd.getNumPartitions() == 1


def test_batch_change_feed_keeps_the_python_datasource(
    registered, tmp_path, monkeypatch
):
    """The change feed's plan carries no probed size, so even a one-range
    drain of a small delta reads through the Python DataSource."""
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        DuckDBDataSource,
        batch_change_feed,
    )

    def no_driver_read(*args):
        raise AssertionError("batch_change_feed read on the driver")

    monkeypatch.setattr(DuckDBDataSource, "_read_on_driver", no_driver_read)
    feed = _feed_db(tmp_path, 100)
    target = str(tmp_path / "out")
    r = batch_change_feed(
        registered, feed, "changes", "change_id", target, num_partitions=1
    )
    assert r["rows"] == 100
    assert _read_target(registered, target).count() == 100


def test_change_feed_protocol_property_no_loss_no_dup(tmp_path):
    """Drive the reader protocol directly (no Spark): random interleavings
    of upstream appends and read() calls must deliver every row exactly
    once, with offsets that never move backwards."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis unavailable")
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from arthur_redshift_etl_spark.sources.duckdb_source import (
        DuckDBChangeFeedReader,
    )

    schema = StructType(
        [StructField("seq", LongType()), StructField("msg", StringType())]
    )
    counter = iter(range(10**6))

    @settings(max_examples=25, deadline=None)
    @given(
        batches=st.lists(st.integers(0, 20), min_size=1, max_size=8),
        reads_between=st.lists(st.booleans(), min_size=1, max_size=8),
    )
    def check(batches, reads_between):
        db = str(tmp_path / f"prop-{next(counter)}.duckdb")
        con = duckdb.connect(db)
        con.execute("CREATE TABLE t (seq BIGINT, msg VARCHAR)")
        con.close()
        reader = DuckDBChangeFeedReader(
            {"path": db, "cursor_column": "seq"}, "t", schema
        )
        offset = reader.initialOffset()
        seen, appended = [], 0
        for i, n in enumerate(batches):
            con = duckdb.connect(db)
            con.execute(
                "INSERT INTO t SELECT range, 'm' FROM range(?, ?)",
                [appended, appended + n],
            )
            con.close()
            appended += n
            do_read = reads_between[i % len(reads_between)]
            if do_read:
                rows, new_offset = reader.read(offset)
                rows = list(rows)
                # offset never rewinds (string-encoded ints compare by value)
                if offset["cursor"] and new_offset["cursor"]:
                    assert int(new_offset["cursor"]) >= int(offset["cursor"])
                # replay determinism: same bounds -> same rows
                replay = list(reader.readBetweenOffsets(offset, new_offset))
                assert sorted(r[0] for r in replay) == sorted(r[0] for r in rows)
                seen.extend(r[0] for r in rows)
                offset = new_offset
        rows, offset = reader.read(offset)  # final drain
        seen.extend(r[0] for r in rows)
        assert sorted(seen) == list(range(appended))  # exactly once, no gaps

    check()


def test_mirror_cache_rebuilds_when_parquet_changes(tmp_path):
    """Regression (r9 red driver row): the /tmp mirror cache must be
    content-keyed — regenerating the source parquet in place must yield a
    fresh mirror, never stale rows against a fresh oracle."""
    import os
    import shutil

    from arthur_redshift_etl_spark.workload.recall_sources import _duckdb_mirror

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    dst = sf_dir / "orders.parquet"
    shutil.copy(f"{SF}/orders.parquet", dst)

    first = _duckdb_mirror(str(sf_dir))
    con = duckdb.connect(first, read_only=True)
    n_first = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    con.close()
    assert n_first > 0

    # Regenerate the parquet in place with fewer rows (new mtime + size).
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF}/orders.parquet') LIMIT 10) "
        f"TO '{dst}' (FORMAT PARQUET)"
    )
    con.close()
    os.utime(dst)  # belt-and-braces: guarantee a distinct mtime_ns

    second = _duckdb_mirror(str(sf_dir))
    assert second != first  # content key changed -> new cache path
    con = duckdb.connect(second, read_only=True)
    n_second = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    con.close()
    assert n_second == 10


def test_in_list_pushdown_reaches_duckdb(registered, duck_path):
    """IN lists (point lookups) push down: the plan is Filter-free and the
    rows prove DuckDB applied the predicate."""
    got = _read(registered, duck_path, table="orders").filter(
        "o_orderstatus IN ('F', 'P')"
    )
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_orderstatus IN ('F', 'P')")
        .collect()
    )
    assert len(ref) > 0
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref
    }


def test_string_prefix_pushdown_reaches_duckdb(registered, duck_path):
    """LIKE 'lit%' (StringStartsWith) pushes down as starts_with() with the
    prefix bound as a parameter — Filter-free plan, including a prefix
    containing LIKE wildcards (no escaping hazard)."""
    got = _read(registered, duck_path, table="orders").filter(
        "o_orderpriority LIKE '1%'"
    )
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_orderpriority LIKE '1%'")
        .collect()
    )
    assert len(ref) > 0
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref
    }
    # a prefix that is itself a LIKE wildcard must bind literally:
    # starts_with('%') matches nothing here, while an unescaped
    # interpolation into LIKE would match everything
    wild = _read(registered, duck_path, table="orders").filter(
        F.col("o_orderpriority").startswith("%")
    )
    assert wild.count() == 0


def test_in_and_prefix_compose_with_partitioned_read(registered, duck_path):
    """Pushed IN/prefix predicates AND the per-partition key ranges land in
    the same upstream WHERE — split reads lose nothing."""
    got = _read(
        registered,
        duck_path,
        table="orders",
        partition_column="o_orderkey",
        num_partitions=4,
    ).filter("o_orderstatus IN ('O') AND o_orderpriority LIKE '3%'")
    ref = (
        registered.read.parquet(f"{SF}/orders.parquet")
        .filter("o_orderstatus IN ('O') AND o_orderpriority LIKE '3%'")
        .collect()
    )
    assert len(ref) > 0
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in ref
    }


def _feed_db(tmp_path, n=100):
    feed = str(tmp_path / "firehose.duckdb")
    con = duckdb.connect(feed)
    con.execute(
        "CREATE TABLE changes AS "
        "SELECT range AS change_id, 'v' || range::VARCHAR AS payload "
        f"FROM range(0, {n})"
    )
    con.close()
    return feed


def _append(feed, lo, hi):
    con = duckdb.connect(feed)
    con.execute(
        "INSERT INTO changes "
        f"SELECT range, 'v' || range::VARCHAR FROM range({lo}, {hi})"
    )
    con.close()


def _read_target(spark, target):
    return (
        spark.read.option("recursiveFileLookup", "true").parquet(target)
    )


def test_batch_change_feed_parity_with_stream_semantics(registered, tmp_path):
    """The partitioned firehose drain delivers exactly the rows the simple
    stream reader would — incremental, no loss, no duplication — through
    executor-parallel partitioned reads."""
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        batch_change_feed,
    )

    feed = _feed_db(tmp_path, 100)
    target = str(tmp_path / "out")
    r1 = batch_change_feed(
        registered, feed, "changes", "change_id", target, num_partitions=4
    )
    assert r1["rows"] == 100 and r1["num_partitions"] == 4
    got1 = _read_target(registered, target)
    assert got1.count() == 100
    # the delta read really was split: 4 tasks over the NEW rows' range
    assert (
        registered.read.parquet(r1["batch_dir"]).rdd.getNumPartitions() == 4
    )

    _append(feed, 100, 150)
    r2 = batch_change_feed(
        registered, feed, "changes", "change_id", target, num_partitions=4
    )
    assert r2["rows"] == 50
    ids = sorted(
        r.change_id for r in _read_target(registered, target).collect()
    )
    assert ids == list(range(150))  # no loss, no duplication

    # idle drain: cursor does not move, nothing written
    r3 = batch_change_feed(
        registered, feed, "changes", "change_id", target, num_partitions=4
    )
    assert r3["rows"] == 0 and r3["cursor"] == r2["cursor"]


def test_batch_change_feed_restart_exactly_once(registered, tmp_path):
    """Crash between the batch commit and the state update must NOT
    duplicate rows: the next drain adopts the committed batch (advancing
    the cursor from its recorded bounds) and reads only newer rows."""
    import json as json_mod
    import os

    from arthur_redshift_etl_spark.sources.duckdb_source import (
        batch_change_feed,
    )

    feed = _feed_db(tmp_path, 80)
    target = str(tmp_path / "out")
    state = str(tmp_path / "state")
    batch_change_feed(
        registered, feed, "changes", "change_id", target,
        num_partitions=2, state_dir=state,
    )
    _append(feed, 80, 120)
    r2 = batch_change_feed(
        registered, feed, "changes", "change_id", target,
        num_partitions=2, state_dir=state,
    )
    assert r2["rows"] == 40

    # simulate the crash: roll the state file back to before batch 2 (the
    # batch dir + _bounds.json survive — committed but unrecorded)
    with open(os.path.join(state, "cursor.json"), "w") as fh:
        json_mod.dump({"cursor": "79"}, fh)
    _append(feed, 120, 130)
    r3 = batch_change_feed(
        registered, feed, "changes", "change_id", target,
        num_partitions=2, state_dir=state,
    )
    assert r3["adopted_batches"] == 1  # batch 2 adopted, not re-read
    assert r3["rows"] == 10  # only the post-crash appends
    ids = sorted(
        r.change_id for r in _read_target(registered, target).collect()
    )
    assert ids == list(range(130))  # exactly once end to end


def test_batch_change_feed_incomplete_batch_redone(registered, tmp_path):
    """A batch dir without _SUCCESS/_bounds.json (crash mid-write) is
    cleared and redone — no partial rows leak into the target."""
    import os

    from arthur_redshift_etl_spark.sources.duckdb_source import (
        batch_change_feed,
    )

    feed = _feed_db(tmp_path, 60)
    target = str(tmp_path / "out")
    os.makedirs(os.path.join(target, "batch-deadbeef"), exist_ok=True)
    with open(
        os.path.join(target, "batch-deadbeef", "part-zzz.parquet"), "wb"
    ) as fh:
        fh.write(b"not a parquet file")
    r = batch_change_feed(
        registered, feed, "changes", "change_id", target, num_partitions=2
    )
    assert r["rows"] == 60
    assert not os.path.exists(os.path.join(target, "batch-deadbeef"))
    assert _read_target(registered, target).count() == 60


def test_batch_change_feed_timestamp_cursor(registered, tmp_path):
    """A timestamp cursor round-trips through the state file as a string
    literal and still compares typed upstream — incremental drains stay
    exactly-once across the str(hi) -> SQL literal round trip."""
    from arthur_redshift_etl_spark.sources.duckdb_source import (
        batch_change_feed,
    )

    feed = str(tmp_path / "ts.duckdb")
    con = duckdb.connect(feed)
    con.execute(
        "CREATE TABLE changes AS "
        "SELECT TIMESTAMP '2026-01-01' + INTERVAL (range) MINUTE AS seen_at, "
        "range AS n FROM range(0, 30)"
    )
    con.close()
    target = str(tmp_path / "out")
    r1 = batch_change_feed(
        registered, feed, "changes", "seen_at", target, num_partitions=1
    )
    assert r1["rows"] == 30
    con = duckdb.connect(feed)
    con.execute(
        "INSERT INTO changes "
        "SELECT TIMESTAMP '2026-01-01' + INTERVAL (range) MINUTE, range "
        "FROM range(30, 45)"
    )
    con.close()
    r2 = batch_change_feed(
        registered, feed, "changes", "seen_at", target, num_partitions=1
    )
    assert r2["rows"] == 15
    got = _read_target(registered, target)
    assert sorted(r.n for r in got.collect()) == list(range(45))


def test_sql_literal_round_trips_through_duckdb():
    """_sql_literal renders cursor bounds that DuckDB parses back to the
    original value — numerics, timestamps, dates, and strings including
    quote/injection characters."""
    import datetime
    import decimal

    from arthur_redshift_etl_spark.sources.duckdb_source import _sql_literal

    cases = [
        0,
        -7,
        2**62,
        3.5,
        decimal.Decimal("12345.67"),
        True,
        False,
        datetime.date(2026, 2, 28),
        datetime.datetime(2026, 2, 28, 23, 59, 59, 123456),
        "plain",
        "O'Reilly; DROP TABLE x; --",
        "two''quotes",
    ]
    con = duckdb.connect()
    for v in cases:
        got = con.execute(f"SELECT {_sql_literal(v)}").fetchone()[0]
        if isinstance(v, bool):
            assert got is v
        elif isinstance(v, float):
            assert got == v
        elif isinstance(v, decimal.Decimal):
            assert decimal.Decimal(str(got)) == v
        else:
            assert got == v, (v, got)
    con.close()


def test_entry_self_diagnosis_fires_on_divergent_mirror(registered, tmp_path):
    """The r11 self-diagnosing entry (VERDICT r10 #1): if the mirror the
    DataSource reads ever disagrees with the parquet the oracle reads, the
    entry must RAISE a diagnostic naming the three row sets, the mirror
    path, and library versions — not return silently divergent rows for an
    anonymous hash mismatch."""
    import os
    import shutil

    from arthur_redshift_etl_spark.workload import recall_sources

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy(f"{SF}/orders.parquet", sf_dir / "orders.parquet")

    # plant a POISONED mirror in the process memo: same schema, one order
    # price inflated — exactly the stale/corrupt-mirror class of divergence
    src = str(sf_dir / "orders.parquet")
    bad = tmp_path / "poisoned.duckdb"
    con = duckdb.connect(str(bad))
    con.execute(
        "CREATE TABLE orders AS SELECT * REPLACE "
        "(CASE WHEN o_orderkey = (SELECT MIN(o_orderkey) FROM "
        f"read_parquet('{src}')) THEN o_totalprice + 5000 "
        "ELSE o_totalprice END AS o_totalprice) "
        f"FROM read_parquet('{src}')"
    )
    con.close()
    st = os.stat(src)
    key = (os.path.abspath(src), st.st_mtime_ns, st.st_size)
    recall_sources._DUCKDB_MIRROR_MEMO[key] = str(bad)
    try:
        with pytest.raises(RuntimeError) as exc:
            recall_sources.duckdb_source_orders_by_status(registered, str(sf_dir))
        msg = str(exc.value)
        assert "duckdb_source divergence" in msg
        assert "datasource=" in msg and "parquet=" in msg
        assert "mirror=" in msg and "duckdb=" in msg
        assert "ds_partition_counts=" in msg
    finally:
        recall_sources._DUCKDB_MIRROR_MEMO.pop(key, None)


def test_entry_green_path_uses_process_scoped_mirror(registered, tmp_path):
    """Happy path: the entry builds a per-process mirror (memoized), the
    tri-check passes, and the returned aggregate matches the direct
    parquet aggregate."""
    import shutil

    from arthur_redshift_etl_spark.workload import recall_sources

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy(f"{SF}/orders.parquet", sf_dir / "orders.parquet")
    out = recall_sources.duckdb_source_orders_by_status(registered, str(sf_dir))
    rows = {tuple(map(str, r)) for r in out.collect()}
    ref = {
        tuple(map(str, r))
        for r in registered.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 1000)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("total_price_cents"),
        )
        .collect()
    }
    assert rows == ref
    # the mirror path is process-unique (contains this pid) and memoized
    mirror = recall_sources._duckdb_mirror(str(sf_dir))
    import os

    assert f"_{os.getpid()}_" in os.path.basename(mirror)
    assert recall_sources._duckdb_mirror(str(sf_dir)) == mirror


def test_entry_returns_literalized_tri_checked_rows(registered, tmp_path):
    """r12 discriminator regression pin: the entry must return a LITERAL
    DataFrame of the tri-checked rows (LocalTableScan), not the lazy
    DataSource plan — the driver hashes exactly the verified bytes, so a
    red driver row can only mean the driver's oracle side."""
    import shutil

    from arthur_redshift_etl_spark.workload import recall_sources

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy(f"{SF}/orders.parquet", sf_dir / "orders.parquet")
    out = recall_sources.duckdb_source_orders_by_status(registered, str(sf_dir))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # createDataFrame(rows) plans as a parallelized-rows scan: either
    # LocalTableScan or Scan ExistingRDD depending on the conversion path —
    # both are driver-local pinned bytes.  What must NOT appear is the
    # DataSource itself.
    assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan
    assert "duckdb" not in plan.lower(), plan
