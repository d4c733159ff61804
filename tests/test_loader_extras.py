"""Vacuum, promote, percolator (event-driven load), ANALYZE stats."""

import os
import threading
import time

import pytest

from arthur_redshift_etl_spark.design import ColumnDefinition, TableDesign
from arthur_redshift_etl_spark.loader import (
    LoadContext,
    load_sources_as_extracted,
    load_warehouse,
    vacuum_lake,
)
from arthur_redshift_etl_spark.monitor import STEP_EXTRACT, EventStore, Monitor
from arthur_redshift_etl_spark.relations import Relation

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def source_rel(spark, tmp_path, name, table):
    d = str(tmp_path / "data" / name)
    spark.read.parquet(f"{SF_DIR}/{table}.parquet").write.mode("overwrite").parquet(d)
    cols = {
        "nation": [
            ColumnDefinition("n_nationkey", "int", not_null=True),
            ColumnDefinition("n_name", "string"),
        ],
        "region": [
            ColumnDefinition("r_regionkey", "int", not_null=True),
            ColumnDefinition("r_name", "string"),
        ],
    }[table]
    return Relation(
        design=TableDesign(name=name, source_name=f"up.public.{table}", columns=cols),
        data_location=d,
    )


@pytest.fixture()
def clean_dbs(spark):
    yield
    for row in spark.sql("SHOW DATABASES").collect():
        if row["namespace"] != "default":
            spark.sql(f"DROP DATABASE IF EXISTS `{row['namespace']}` CASCADE")


def test_vacuum_removes_only_unreferenced(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.loader import table_location
    from arthur_redshift_etl_spark.names import TableName

    def relations():
        # one table per registration layout, plus a view (no location)
        plain = source_rel(spark, tmp_path, "vsrc.nation", "nation")
        parted = source_rel(spark, tmp_path, "vsrc.nation_p", "nation")
        parted.design.attributes["partition_by"] = ["n_name"]
        bucketed = source_rel(spark, tmp_path, "vsrc.nation_b", "nation")
        bucketed.design.attributes["bucket_by"] = {
            "columns": ["n_nationkey"], "buckets": 2
        }
        # its column named Location must not read as a storage location
        view = Relation(
            design=TableDesign(
                name="vsrc.v_nation",
                source_name="VIEW",
                columns=[ColumnDefinition("Location")],
                depends_on=["vsrc.nation"],
            ),
            query="SELECT n_name AS Location FROM vsrc.nation",
        )
        return [plain, parted, bucketed, view]

    lake = str(tmp_path / "lake")
    ctx1 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx1, relations())
    for _ in range(2):
        load_warehouse(
            ctx := LoadContext(spark=spark, data_root=lake, store=EventStore()),
            relations(),
        )
    assert len(os.listdir(lake)) == 3
    # table_location: the registered path without its file: scheme, for
    # every layout; None for a view
    for table in ("nation", "nation_p", "nation_b"):
        loc = table_location(spark, f"vsrc.{table}")
        assert not loc.startswith("file:")
        assert os.path.normpath(loc) == os.path.normpath(
            ctx.table_location(TableName("vsrc", table))
        )
    assert table_location(spark, "vsrc.v_nation") is None
    # production references the 3rd version, the backup db the 2nd;
    # only the 1st is unreferenced
    removed = vacuum_lake(spark, lake)
    assert [os.path.basename(p) for p in removed] == [ctx1.etl_id]
    # survivors still queryable
    assert spark.table("vsrc.nation").count() > 0
    assert spark.table("vsrc.nation_p").count() > 0
    assert spark.table("vsrc.v_nation").count() > 0


def test_percolator_loads_in_event_order(spark, tmp_path, clean_dbs):
    store = EventStore()
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=store)
    rels = [
        source_rel(spark, tmp_path, "psrc.nation", "nation"),
        source_rel(spark, tmp_path, "psrc.region", "region"),
    ]

    def emit_events():
        time.sleep(0.3)
        with Monitor(store, "psrc.region", STEP_EXTRACT):
            pass
        time.sleep(0.3)
        with Monitor(store, "psrc.nation", STEP_EXTRACT):
            pass

    t = threading.Thread(target=emit_events)
    t.start()
    loaded = load_sources_as_extracted(ctx, rels, poll_interval=0.05)
    t.join()
    assert loaded == ["psrc.region", "psrc.nation"]


def test_percolator_idle_timeout(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.errors import ETLRuntimeError

    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    rels = [source_rel(spark, tmp_path, "tsrc.nation", "nation")]
    with pytest.raises(ETLRuntimeError, match="idle timeout"):
        load_sources_as_extracted(ctx, rels, poll_interval=0.05, idle_timeout=0.3)


def test_analyze_populates_stats(spark, tmp_path, clean_dbs):
    rels = [source_rel(spark, tmp_path, "asrc.nation", "nation")]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, rels)
    detail = spark.sql("DESCRIBE EXTENDED asrc.nation").collect()
    stats = [r for r in detail if r["col_name"] == "Statistics"]
    assert stats, "ANALYZE should record table statistics"


def test_stats_columns_populate_column_ndv(spark, tmp_path, clean_dbs):
    """attributes.stats_columns -> ANALYZE FOR COLUMNS: ndv/min/max land in
    the catalog for exactly the declared columns (join-reorder inputs)."""
    rel = source_rel(spark, tmp_path, "csrc.nation", "nation")
    rel.design.attributes["stats_columns"] = ["n_nationkey"]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, [rel])

    def col_stats(col):
        rows = spark.sql(f"DESCRIBE EXTENDED csrc.nation {col}").collect()
        return {r["info_name"]: r["info_value"] for r in rows}

    keyed = col_stats("n_nationkey")
    assert keyed.get("distinct_count") not in (None, "NULL")
    assert keyed.get("max") not in (None, "NULL")
    # the undeclared column stays stat-free (opt-in: no surprise scans)
    other = col_stats("n_name")
    assert other.get("distinct_count") in (None, "NULL")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path, clean_dbs):
    """bucket_by attribute → co-located join: zero Exchanges after publish."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.plans.lint import plan_text

    def rel_with_buckets(name, table, key):
        d = str(tmp_path / "data" / name)
        spark.read.parquet(f"{SF_DIR}/{table}.parquet").write.mode("overwrite").parquet(d)
        from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design

        design = bootstrap_source_design(
            spark.read.parquet(d), name, f"up.public.{table}"
        )
        design.attributes["bucket_by"] = {"columns": [key], "buckets": 4}
        return Relation(design=design, data_location=d)

    rels = [
        rel_with_buckets("bsrc.lineitem", "lineitem", "l_orderkey"),
        rel_with_buckets("bsrc.orders", "orders", "o_orderkey"),
    ]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, rels)

    li, orders = spark.table("bsrc.lineitem"), spark.table("bsrc.orders")
    assert li.count() > 0 and orders.count() > 0
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        text = plan_text(joined)
        assert "Exchange" not in text, "bucketed join should not shuffle"
        n = joined.count()
        assert n == li.count()  # every lineitem has an order at this SF? verify below
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_table_prunes(spark, tmp_path, clean_dbs):
    """partition_by attribute → hive layout + PartitionFilters pruning."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design
    from arthur_redshift_etl_spark.plans.lint import plan_text

    d = str(tmp_path / "data" / "orders_p")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .parquet(d)
    )
    design = bootstrap_source_design(
        spark.read.parquet(d), "psrc2.orders", "up.public.orders"
    )
    design.attributes["partition_by"] = ["order_month"]
    rels = [Relation(design=design, data_location=d)]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, rels)

    table = spark.table("psrc2.orders")
    assert table.count() == spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    # co-location pin: the writer repartitions on the partition columns, so
    # each partition value lands in ONE task -> one file (measured: without
    # it, tasks x partitions files, 2,656 vs 83 and 2.4x the wall on the
    # sf1.0 lineitem-by-month write; scripts/write_throughput.py)
    location = os.path.dirname(
        os.path.dirname(table.inputFiles()[0])
    ).replace("file:", "")
    for entry in os.listdir(location):
        if entry.startswith("order_month="):
            n_files = len(
                [
                    f
                    for f in os.listdir(os.path.join(location, entry))
                    if f.endswith(".parquet")
                ]
            )
            assert n_files == 1, f"{entry}: {n_files} files, expected 1"
    filtered = table.filter("order_month = '1997-03'")
    text = plan_text(filtered)
    assert "PartitionFilters" in text and "order_month" in text.split("PartitionFilters")[1][:200]
    assert 0 < filtered.count() < table.count()
    # update (staged refresh) keeps the partitioned registration working
    from arthur_redshift_etl_spark.loader import update_warehouse
    from arthur_redshift_etl_spark.names import TableSelector

    design2 = bootstrap_source_design(
        spark.read.parquet(d), "psrc2.orders", "up.public.orders"
    )
    design2.attributes["partition_by"] = ["order_month"]
    ctx2 = LoadContext(spark=spark, data_root=ctx.data_root, store=EventStore())
    update_warehouse(ctx2, [Relation(design=design2, data_location=d)], TableSelector([]))
    assert spark.table("psrc2.orders").filter("order_month = '1997-03'").count() > 0


def test_partitioned_write_one_file_per_partition(spark, tmp_path, clean_dbs):
    """Partitioned CTAS co-locates on the partition key before writing.

    Without the loader's repartition-on-partition-columns, every write task
    opens a file in every partition directory (tasks x partitions files —
    measured 2,656 vs 83 on the sf1.0 lineitem-by-month write,
    scripts/write_throughput.py).  Pin the fixed layout: exactly one data
    file per partition value.
    """
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design

    d = str(tmp_path / "data" / "orders_fc")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        # many input partitions so the naive write would multiply files
        .repartition(16)
        .write.mode("overwrite")
        .parquet(d)
    )
    design = bootstrap_source_design(
        spark.read.parquet(d), "psrc3.orders", "up.public.orders"
    )
    design.attributes["partition_by"] = ["order_month"]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, [Relation(design=design, data_location=d)])

    table = spark.table("psrc3.orders")
    n_partitions = table.select("order_month").distinct().count()
    assert n_partitions > 10
    assert len(table.inputFiles()) == n_partitions


def test_merge_update_table_upserts_atomically(spark, tmp_path, clean_dbs):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.loader import merge_update_table

    lake = str(tmp_path / "lake")
    rel = source_rel(spark, tmp_path, "msrc.nation", "nation")
    ctx = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx, [rel])
    before = spark.table("msrc.nation")
    n_before = before.count()
    old_location = before.inputFiles()[0]

    # delta: rename one existing nation (update) + add one new key (insert)
    updates = spark.createDataFrame(
        [(0, "RENAMED"), (9999, "ATLANTIS")], "n_nationkey int, n_name string"
    )
    ctx2 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    n_after = merge_update_table(ctx2, rel, updates, ["n_nationkey"])
    assert n_after == n_before + 1
    got = spark.table("msrc.nation")
    assert got.filter("n_nationkey = 0").collect()[0]["n_name"] == "RENAMED"
    assert got.filter("n_nationkey = 9999").count() == 1
    # new versioned location — the old files were never touched
    assert ctx2.etl_id in got.inputFiles()[0]
    assert ctx.etl_id in old_location


def test_cli_update_merge_delta_e2e(spark, tmp_path, clean_dbs, capsys):
    """Full CLI drive: load a source table, then MERGE a parquet delta."""
    import os

    from arthur_redshift_etl_spark.cli import main
    from arthur_redshift_etl_spark.repo import write_design

    root = str(tmp_path / "repo")
    os.makedirs(root, exist_ok=True)
    write_design(
        root,
        {
            "name": "msch.nation",
            "source_name": "up.public.nation",
            "columns": [
                {"name": "n_nationkey", "type": "long", "not_null": True},
                {"name": "n_name", "type": "string"},
            ],
            "constraints": [{"primary_key": ["n_nationkey"]}],
        },
    )
    data_dir = os.path.join(root, "data", "msch", "nation")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(data_dir)
    assert main(["--repo", root, "load"]) == 0
    n0 = spark.table("msch.nation").count()

    delta_dir = str(tmp_path / "delta")
    spark.createDataFrame(
        [(0, "RENAMED"), (777, "NEWLAND")], "n_nationkey long, n_name string"
    ).write.mode("overwrite").parquet(delta_dir)
    assert (
        main(
            ["--repo", root, "update", "msch.nation",
             "--merge-delta", delta_dir, "--merge-keys", "n_nationkey"]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "merged msch.nation" in out
    got = spark.table("msch.nation")
    assert got.count() == n0 + 1
    assert got.filter("n_nationkey = 0").collect()[0]["n_name"] == "RENAMED"


def test_merge_update_bad_delta_leaves_production_untouched(spark, tmp_path, clean_dbs):
    """A delta that breaks the PK constraint must not re-point the table."""
    import pytest as _pytest

    from arthur_redshift_etl_spark.errors import FailedConstraintError
    from arthur_redshift_etl_spark.loader import merge_update_table

    lake = str(tmp_path / "lake")
    rel = source_rel(spark, tmp_path, "bsrc.nation", "nation")
    rel.design.constraints.append({"primary_key": ["n_nationkey"]})
    ctx = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx, [rel])
    before_files = set(spark.table("bsrc.nation").inputFiles())
    n_before = spark.table("bsrc.nation").count()

    # duplicate key in the delta → merged result violates the primary key
    bad = spark.createDataFrame(
        [(0, "DUP-A"), (0, "DUP-B")], "n_nationkey int, n_name string"
    )
    ctx2 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    with _pytest.raises(FailedConstraintError):
        merge_update_table(ctx2, rel, bad, ["n_nationkey"])
    after = spark.table("bsrc.nation")
    assert set(after.inputFiles()) == before_files  # still the old version
    assert after.count() == n_before


# ---- small-file compaction ------------------------------------------------

def test_compact_table_shrinks_files_preserves_content(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.loader import (
        compact_table,
        content_checksum,
        create_schema,
        load_warehouse,
    )

    rel = source_rel(spark, tmp_path, "schema.nation_c", "nation")
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, [rel])
    # fragment production storage: rewrite in place as many tiny files
    loc = (
        spark.sql("DESCRIBE FORMATTED `schema`.`nation_c`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    frag = spark.read.parquet(loc).repartition(16)
    tmp_frag = str(tmp_path / "frag")
    frag.write.mode("overwrite").parquet(tmp_frag)
    spark.read.parquet(tmp_frag).repartition(16).write.mode("overwrite").parquet(loc)
    before = content_checksum(spark.read.parquet(loc))
    n_before = len([f for f in os.listdir(loc) if f.endswith(".parquet")])
    assert n_before >= 10

    ctx2 = LoadContext(spark=spark, data_root=ctx.data_root, store=EventStore())
    files_before, files_after = compact_table(ctx2, rel, db="schema")
    assert files_before == n_before and files_after < files_before
    # content identical (order-independent), table re-registered on new files
    new_loc = (
        spark.sql("DESCRIBE FORMATTED `schema`.`nation_c`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    assert new_loc != loc
    assert content_checksum(spark.table("`schema`.`nation_c`")) == before


def test_compact_table_noop_when_already_compact(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.loader import compact_table, load_warehouse

    rel = source_rel(spark, tmp_path, "schema.region_c", "region")
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, [rel])
    loc = (
        spark.sql("DESCRIBE FORMATTED `schema`.`region_c`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    ctx2 = LoadContext(spark=spark, data_root=ctx.data_root, store=EventStore())
    b, a = compact_table(ctx2, rel, db="schema")
    assert b == a  # no rewrite
    # still registered at the original location
    same_loc = (
        spark.sql("DESCRIBE FORMATTED `schema`.`region_c`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    assert same_loc == loc


def test_scrub_table_removes_requested_keys_atomically(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.loader import scrub_table

    lake = str(tmp_path / "lake")
    rel = source_rel(spark, tmp_path, "ssrc.nation", "nation")
    ctx = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx, [rel])
    n_before = spark.table("ssrc.nation").count()

    requests = spark.createDataFrame([(0,), (3,), (3,)], "n_nationkey int")
    ctx2 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    audit = scrub_table(ctx2, rel, requests, "n_nationkey")
    assert audit["rows_before"] == n_before
    assert audit["rows_removed"] == 2
    assert audit["residual_matches"] == 0
    got = spark.table("ssrc.nation")
    assert got.count() == n_before - 2
    assert got.filter("n_nationkey IN (0, 3)").count() == 0
    # versioned re-register: scrubbed data lives at the new etl_id location
    assert ctx2.etl_id in got.inputFiles()[0]


def test_cli_scrub_e2e(spark, tmp_path, clean_dbs, capsys):
    """Full CLI drive: load a table, then scrub request keys out of it."""
    import json as _json
    import os

    from arthur_redshift_etl_spark.cli import main
    from arthur_redshift_etl_spark.repo import write_design

    root = str(tmp_path / "repo")
    os.makedirs(root, exist_ok=True)
    write_design(
        root,
        {
            "name": "scrb.nation",
            "source_name": "up.public.nation",
            "columns": [
                {"name": "n_nationkey", "type": "long", "not_null": True},
                {"name": "n_name", "type": "string"},
            ],
            "constraints": [{"primary_key": ["n_nationkey"]}],
        },
    )
    data_dir = os.path.join(root, "data", "scrb", "nation")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(data_dir)
    assert main(["--repo", root, "load"]) == 0
    n0 = spark.table("scrb.nation").count()

    req_dir = str(tmp_path / "requests")
    spark.createDataFrame([(1,), (2,)], "n_nationkey long").write.mode(
        "overwrite"
    ).parquet(req_dir)
    assert (
        main(["--repo", root, "scrub", "scrb.nation",
              "--requests", req_dir, "--key", "n_nationkey"])
        == 0
    )
    audit = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert audit["rows_removed"] == 2 and audit["residual_matches"] == 0
    got = spark.table("scrb.nation")
    assert got.count() == n0 - 2
    assert got.filter("n_nationkey IN (1, 2)").count() == 0


def test_refresh_partitions_dynamic_overwrite(spark, tmp_path, clean_dbs):
    """Partition-scoped incremental refresh: one month's slice is
    recomputed and dynamically overwritten; every other partition's files
    are byte-untouched (mtime-pinned)."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.errors import ETLRuntimeError
    from arthur_redshift_etl_spark.loader import refresh_partitions

    lake = str(tmp_path / "lake")
    src = source_rel(spark, tmp_path, "prsrc.nation", "nation")
    d = str(tmp_path / "data" / "prsrc.orders")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").write.mode(
        "overwrite"
    ).parquet(d)
    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design

    odesign = bootstrap_source_design(
        spark.read.parquet(d), "prsrc.orders", "up.public.orders"
    )
    orders_rel = Relation(design=odesign, data_location=d)
    tdesign = TableDesign(
        name="ptr.monthly",
        source_name="CTAS",
        columns=[
            ColumnDefinition("o_orderkey", "long", not_null=True),
            ColumnDefinition("o_totalprice", "double"),
            ColumnDefinition("order_month", "string"),
        ],
        depends_on=["prsrc.orders"],
    )
    tdesign.attributes["partition_by"] = ["order_month"]
    trans = Relation(
        design=tdesign,
        query=(
            "SELECT o_orderkey, o_totalprice, "
            "date_format(o_orderdate, 'yyyy-MM') AS order_month "
            "FROM prsrc.orders"
        ),
    )
    ctx = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx, [src, orders_rel, trans])
    table = spark.table("ptr.monthly")
    n_total = table.count()
    target_month = (
        table.groupBy("order_month").count().orderBy("order_month").first()
    )["order_month"]
    n_month = table.filter(F.col("order_month") == target_month).count()

    # record every parquet file's mtime outside the refreshed partition
    location = os.path.dirname(os.path.dirname(table.inputFiles()[0]))

    def mtimes():
        out = {}
        for root, _, files in os.walk(location.replace("file:", "")):
            for f in files:
                if f.endswith(".parquet") and target_month not in root:
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = mtimes()
    assert before, "expected untouched partitions to exist"

    # upstream change: that month's totals double (re-register source table)
    doubled = spark.table("prsrc.orders").withColumn(
        "o_totalprice",
        F.when(
            F.date_format("o_orderdate", "yyyy-MM") == target_month,
            F.col("o_totalprice") * 2,
        ).otherwise(F.col("o_totalprice")),
    )
    doubled.createOrReplaceTempView("prsrc_orders_doubled")
    trans2 = Relation(
        design=tdesign,
        query=(
            "SELECT o_orderkey, o_totalprice, "
            "date_format(o_orderdate, 'yyyy-MM') AS order_month "
            "FROM prsrc_orders_doubled"
        ),
    )
    audit = refresh_partitions(
        ctx, trans2, f"order_month = '{target_month}'"
    )
    assert audit["n_partitions"] == 1
    assert audit["partitions"] == [(target_month,)]
    assert audit["n_rows"] == n_month

    after = spark.table("ptr.monthly")
    assert after.count() == n_total  # no rows lost elsewhere
    # the refreshed month reflects the doubled totals
    orig_sum = (
        spark.read.parquet(d)
        .filter(F.date_format("o_orderdate", "yyyy-MM") == target_month)
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .collect()[0][0]
    )
    new_sum = (
        after.filter(F.col("order_month") == target_month)
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
        .collect()[0][0]
    )
    assert new_sum == orig_sum * 2
    # every other partition's files byte-untouched
    assert mtimes() == before

    # guardrails: unpartitioned and source relations are rejected
    with pytest.raises(ETLRuntimeError):
        refresh_partitions(ctx, src, "1=1")


# ---------------------------------------------------------------------------
# Percolator e2e under concurrent extract events (VERDICT r5 next-round #8):
# injected slow source, mid-run event writers, failure propagation, and
# idle-timeout-vs-in-flight semantics, mirroring reference load.py:790-988.
# ---------------------------------------------------------------------------


def _transform_rel(name, deps):
    return Relation(
        design=TableDesign(
            name=name,
            source_name="CTAS",
            columns=[ColumnDefinition("c")],
            depends_on=list(deps),
        ),
        query="SELECT 1 AS c",
    )


def test_percolator_slow_source_does_not_block_fast(
    spark, tmp_path, clean_dbs, monkeypatch
):
    """nation's extract event lands FIRST but its (injected-slow) load must
    not serialize region behind it: the pool dispatches concurrently
    (reference load.py:906-943 runs max_concurrency load workers), so the
    completion order inverts the event order."""
    import arthur_redshift_etl_spark.loader as loader_mod

    store = EventStore()
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=store, max_concurrency=2
    )
    rels = [
        source_rel(spark, tmp_path, "ssrc.nation", "nation"),
        source_rel(spark, tmp_path, "ssrc.region", "region"),
    ]

    real_build = loader_mod.build_one_relation

    def slow_nation(ctx_, rel, use_staging=True, staging_identifiers=()):
        if rel.identifier.endswith("nation"):
            time.sleep(1.0)
        return real_build(ctx_, rel, use_staging, staging_identifiers)

    monkeypatch.setattr(loader_mod, "build_one_relation", slow_nation)

    def emit_events():
        with Monitor(store, "ssrc.nation", STEP_EXTRACT):
            pass
        time.sleep(0.25)  # region's extract finishes mid-run
        with Monitor(store, "ssrc.region", STEP_EXTRACT):
            pass

    t = threading.Thread(target=emit_events)
    t.start()
    loaded = load_sources_as_extracted(ctx, rels, poll_interval=0.05)
    t.join()
    assert loaded == ["ssrc.region", "ssrc.nation"]


def test_percolator_failed_extract_creates_empty_and_skips_dependents(
    spark, tmp_path, clean_dbs
):
    """Reference load.py:894-903: a FAILED extract still creates the
    relation (empty, skip_copy) and poisons every dependent — the run
    completes instead of hanging to the idle timeout."""
    from arthur_redshift_etl_spark.loader import as_staging

    store = EventStore()
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=store)
    nation = source_rel(spark, tmp_path, "fsrc.nation", "nation")
    region = source_rel(spark, tmp_path, "fsrc.region", "region")
    downstream = _transform_rel("fdw.summary", ["fsrc.nation"])
    unrelated = _transform_rel("fdw.other", ["fsrc.region"])

    def emit_events():
        time.sleep(0.2)
        try:
            with Monitor(store, "fsrc.nation", STEP_EXTRACT):
                raise ValueError("extract blew up upstream")
        except ValueError:
            pass  # Monitor emitted the fail event
        with Monitor(store, "fsrc.region", STEP_EXTRACT):
            pass

    t = threading.Thread(target=emit_events)
    t.start()
    loaded = load_sources_as_extracted(
        ctx, [nation, region, downstream, unrelated], poll_interval=0.05
    )
    t.join()
    assert sorted(loaded) == ["fsrc.nation", "fsrc.region"]
    assert nation.failed and nation.skip_copy
    assert downstream.skip_copy, "dependent of the failed source must skip"
    assert not unrelated.skip_copy, "unrelated transform untouched"
    # the failed source exists but is EMPTY; the healthy one has data
    assert spark.table(f"{as_staging('fsrc')}.nation").count() == 0
    assert spark.table(f"{as_staging('fsrc')}.region").count() > 0


def test_percolator_required_extract_failure_raises(spark, tmp_path, clean_dbs):
    from arthur_redshift_etl_spark.errors import RequiredRelationLoadError

    store = EventStore()
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=store)
    nation = source_rel(spark, tmp_path, "rsrc.nation", "nation")
    nation.is_required = True
    try:
        with Monitor(store, "rsrc.nation", STEP_EXTRACT):
            raise ValueError("extract blew up upstream")
    except ValueError:
        pass
    with pytest.raises(RequiredRelationLoadError):
        load_sources_as_extracted(ctx, [nation], poll_interval=0.05)


def test_percolator_idle_timeout_deferred_by_inflight_load(
    spark, tmp_path, clean_dbs, monkeypatch
):
    """The idle timeout counts from the last PROGRESS, never while a load
    is in flight: with nation building slowly (longer than the timeout)
    and region's event never arriving, the error fires only AFTER the slow
    build completes + idle_timeout elapses — and names only region."""
    import arthur_redshift_etl_spark.loader as loader_mod
    from arthur_redshift_etl_spark.errors import ETLRuntimeError

    store = EventStore()
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=store)
    rels = [
        source_rel(spark, tmp_path, "tsrc.nation", "nation"),
        source_rel(spark, tmp_path, "tsrc.region", "region"),
    ]
    real_build = loader_mod.build_one_relation

    def slow_nation(ctx_, rel, use_staging=True, staging_identifiers=()):
        time.sleep(0.9)
        return real_build(ctx_, rel, use_staging, staging_identifiers)

    monkeypatch.setattr(loader_mod, "build_one_relation", slow_nation)
    with Monitor(store, "tsrc.nation", STEP_EXTRACT):
        pass
    start = time.monotonic()
    with pytest.raises(ETLRuntimeError, match=r"tsrc\.region") as exc:
        load_sources_as_extracted(ctx, rels, poll_interval=0.05, idle_timeout=0.4)
    elapsed = time.monotonic() - start
    assert "nation" not in str(exc.value), "in-flight relation must not be blamed"
    # 0.9s in-flight + 0.4s idle: firing before ~1.3s would mean the
    # timeout ran while work was still progressing
    assert elapsed > 1.1, f"timeout fired during the in-flight load: {elapsed:.2f}s"


def test_partitioned_write_with_distkey_keeps_one_file_per_value(
    spark, tmp_path, clean_dbs
):
    """The distkey must NOT be hashed into the pre-write repartition —
    that would scatter each partition value across tasks again (files per
    value ~ min(tasks, distkey cardinality)); it belongs in the
    within-partition sort."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design
    from arthur_redshift_etl_spark.loader import load_warehouse

    d = str(tmp_path / "data" / "orders_pd")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .parquet(d)
    )
    design = bootstrap_source_design(
        spark.read.parquet(d), "psrc3.orders", "up.public.orders"
    )
    design.attributes["partition_by"] = ["order_month"]
    design.attributes["distribution"] = ["o_custkey"]
    rels = [Relation(design=design, data_location=d)]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, rels)
    table = spark.table("psrc3.orders")
    location = os.path.dirname(
        os.path.dirname(table.inputFiles()[0])
    ).replace("file:", "")
    month_dirs = [e for e in os.listdir(location) if e.startswith("order_month=")]
    assert month_dirs
    for entry in month_dirs:
        n_files = len(
            [
                f
                for f in os.listdir(os.path.join(location, entry))
                if f.endswith(".parquet")
            ]
        )
        assert n_files == 1, f"{entry}: {n_files} files, expected 1"


def test_partition_write_buckets_bounds_files_per_value(spark, tmp_path, clean_dbs):
    """partition_write_buckets=k: the low-cardinality escape hatch writes
    up to k distkey-co-located files per partition value (write
    parallelism |values| x k instead of collapsing to |values|)."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design
    from arthur_redshift_etl_spark.loader import load_warehouse

    d = str(tmp_path / "data" / "orders_pb")
    (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .parquet(d)
    )
    design = bootstrap_source_design(
        spark.read.parquet(d), "psrc4.orders", "up.public.orders"
    )
    design.attributes["partition_by"] = ["order_month"]
    design.attributes["distribution"] = ["o_custkey"]
    design.attributes["partition_write_buckets"] = 4
    rels = [Relation(design=design, data_location=d)]
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    # at sf0.001 AQE coalesces the whole write shuffle into one partition
    # (every month -> 1 task -> 1 file regardless of salt); at production
    # partition sizes coalescing never merges across the advisory target,
    # so disable it here to observe the salt the way a real write would
    old_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        load_warehouse(ctx, rels)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", old_coalesce
        )
    table = spark.table("psrc4.orders")
    assert table.count() == spark.read.parquet(d).count()
    location = os.path.dirname(
        os.path.dirname(table.inputFiles()[0])
    ).replace("file:", "")
    month_dirs = [e for e in os.listdir(location) if e.startswith("order_month=")]
    assert month_dirs
    counts = []
    for entry in month_dirs:
        counts.append(
            len(
                [
                    f
                    for f in os.listdir(os.path.join(location, entry))
                    if f.endswith(".parquet")
                ]
            )
        )
    assert all(1 <= c <= 4 for c in counts), counts
    # the hatch actually widens the write: at least one month got >1 file
    assert max(counts) > 1, counts


# ---- lake maintenance policy (round 8) -------------------------------------

def test_maintain_table_compacts_past_threshold_with_events(
    spark, tmp_path, clean_dbs
):
    """A fragmented table crosses the measured-tax threshold, gets a
    checksum-gated compaction, and leaves start/finish events in the
    store; an un-fragmented table is probe-only (no rewrite, no event)."""
    from arthur_redshift_etl_spark.loader import (
        content_checksum,
        load_warehouse,
        maintain_warehouse,
    )
    from arthur_redshift_etl_spark.monitor import (
        EVENT_FINISH,
        STEP_MAINTAIN,
    )

    rel = source_rel(spark, tmp_path, "schema.nation_m", "nation")
    ok_rel = source_rel(spark, tmp_path, "schema.region_m", "region")
    ctx = LoadContext(spark=spark, data_root=str(tmp_path / "lake"), store=EventStore())
    load_warehouse(ctx, [rel, ok_rel])
    # fragment nation's production storage in place: 20 tiny files
    loc = (
        spark.sql("DESCRIBE FORMATTED `schema`.`nation_m`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    tmp_frag = str(tmp_path / "frag_m")
    one = spark.read.parquet(loc)
    many = one
    for _ in range(9):  # 10x the rows so 20 partitions are all non-empty
        many = many.unionAll(one)
    many.repartition(20).write.mode("overwrite").parquet(tmp_frag)
    spark.read.parquet(tmp_frag).repartition(20).write.mode("overwrite").parquet(loc)
    before = content_checksum(spark.read.parquet(loc))

    store = EventStore()
    ctx2 = LoadContext(spark=spark, data_root=ctx.data_root, store=store)
    reports = maintain_warehouse(ctx2, [rel, ok_rel])
    assert reports["schema.nation_m"]["fragmented"] is True
    assert reports["schema.nation_m"]["compacted"] is True
    assert reports["schema.nation_m"]["files_after"] < 20
    assert content_checksum(spark.table("`schema`.`nation_m`")) == before
    # region never crossed the absolute floor: probe-only
    assert reports["schema.region_m"]["fragmented"] is False
    assert reports["schema.region_m"]["compacted"] is False
    # event evidence: exactly the compacted relation has maintain events
    finishes = store.query(step=STEP_MAINTAIN)
    idents = {e["target"] for e in finishes}
    assert "schema.nation_m" in idents and "schema.region_m" not in idents
    assert any(e["event"] == EVENT_FINISH for e in finishes)


def _prod_location(spark, fq: str) -> str:
    return (
        spark.sql(f"DESCRIBE FORMATTED {fq}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )


def test_update_warehouse_runs_post_publish_maintenance(
    spark, tmp_path, clean_dbs
):
    """The post-publish hook sweeps the WHOLE warehouse: a table NOT in
    this update whose storage accreted small files (the streaming/merge
    debris scenario) is compacted before the verb returns; the rebuilt
    table itself lands compact by construction (write-time rebalance —
    tiny read splits no longer dictate the file layout)."""
    from arthur_redshift_etl_spark.loader import (
        content_checksum,
        load_warehouse,
        update_warehouse,
    )
    from arthur_redshift_etl_spark.monitor import EVENT_FINISH, STEP_MAINTAIN
    from arthur_redshift_etl_spark.relations import TableSelector

    rel = source_rel(spark, tmp_path, "schema.nation_u", "nation")
    other = source_rel(spark, tmp_path, "schema.region_u", "region")
    ctx0 = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=EventStore()
    )
    load_warehouse(ctx0, [rel, other])
    # accrete debris on nation_u's PRODUCTION storage (as streaming
    # micro-batches / per-batch merges would): 20 tiny in-place files
    loc = _prod_location(spark, "`schema`.`nation_u`")
    one = spark.read.parquet(loc)
    many = one
    for _ in range(9):
        many = many.unionAll(one)
    many.repartition(20).write.mode("overwrite").parquet(
        str(tmp_path / "frag_u")
    )
    spark.read.parquet(str(tmp_path / "frag_u")).repartition(20).write.mode(
        "overwrite"
    ).parquet(loc)
    before = content_checksum(spark.read.parquet(loc))

    # update a DIFFERENT relation; the (opt-in) hook must still sweep nation_u
    store = EventStore()
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=store,
        auto_maintain=True,
    )
    update_warehouse(
        ctx, [rel, other], TableSelector(["schema.region_u"])
    )
    new_loc = _prod_location(spark, "`schema`.`nation_u`")
    n_files = len([f for f in os.listdir(new_loc) if f.endswith(".parquet")])
    assert n_files < 16, f"post-publish sweep did not compact: {n_files}"
    assert content_checksum(spark.table("`schema`.`nation_u`")) == before
    ev = store.query(step=STEP_MAINTAIN)
    assert any(
        e["event"] == EVENT_FINISH and e["target"] == "schema.nation_u" for e in ev
    )
    # the rebuilt table is compact by construction — no maintain event
    reg_files = [
        f
        for f in os.listdir(_prod_location(spark, "`schema`.`region_u`"))
        if f.endswith(".parquet")
    ]
    assert len(reg_files) < 16
    assert not any(e["target"] == "schema.region_u" for e in ev)


def test_update_warehouse_maintain_is_opt_in(spark, tmp_path, clean_dbs):
    """The post-publish sweep is OPT-IN (mirrors the reference gating
    vacuum-after-update behind run_vacuum): a default-constructed context
    pays zero maintenance cost per update."""
    from arthur_redshift_etl_spark.loader import update_warehouse
    from arthur_redshift_etl_spark.monitor import STEP_MAINTAIN
    from arthur_redshift_etl_spark.relations import TableSelector

    rel = source_rel(spark, tmp_path, "schema.nation_o", "nation")
    store = EventStore()
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=store,
    )
    assert ctx.auto_maintain is False
    update_warehouse(ctx, [rel], TableSelector([]))
    assert store.query(step=STEP_MAINTAIN) == []


# ---- parquet bloom filters (round 9) ----------------------------------------

def _bloom_offsets(spark, location):
    """{column: has_bloom_filter} read from the first parquet file's footer
    via parquet-mr (the writer's own metadata — structural, not timing)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    f = next(
        os.path.join(dp, n)
        for dp, _, names in os.walk(location)
        for n in sorted(names)
        if n.endswith(".parquet")
    )
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        hconf, jvm.org.apache.hadoop.fs.Path(f)
    )
    out = {}
    block = footer.getBlocks().get(0)
    for i in range(block.getColumns().size()):
        col = block.getColumns().get(i)
        out[col.getPath().toDotString()] = col.getBloomFilterOffset() >= 0
    return out


def test_bloom_filter_columns_written_and_preserved(spark, tmp_path, clean_dbs):
    """`attributes.bloom_filter_columns` writes a parquet bloom filter for
    exactly the listed columns (footer-verified), and compact_table keeps
    it through the rewrite — point-lookup pruning must survive maintenance."""
    from arthur_redshift_etl_spark.loader import compact_table, load_warehouse

    rel = source_rel(spark, tmp_path, "schema.nation_bf", "nation")
    rel.design.attributes["bloom_filter_columns"] = ["n_nationkey"]
    rel.design.attributes["bloom_filter_ndv"] = {"n_nationkey": 64}
    ctx = LoadContext(
        spark=spark, data_root=str(tmp_path / "lake"), store=EventStore()
    )
    load_warehouse(ctx, [rel])
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED `schema`.`nation_bf`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    offs = _bloom_offsets(spark, loc)
    assert offs["n_nationkey"] is True, offs
    assert offs["n_name"] is False, offs

    # fragment then compact: the rewrite must re-apply the design's blooms
    import dataclasses
    import uuid

    df = spark.read.parquet(loc)
    df.repartition(20).write.mode("overwrite").parquet(str(tmp_path / "fragbf"))
    spark.read.parquet(str(tmp_path / "fragbf")).repartition(20).write.mode(
        "overwrite"
    ).parquet(loc)
    mctx = dataclasses.replace(ctx, etl_id=uuid.uuid4().hex[:12])
    n_before, n_after = compact_table(mctx, rel)
    assert n_after < n_before
    new_loc = (
        spark.sql("DESCRIBE TABLE EXTENDED `schema`.`nation_bf`")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
        .replace("file:", "")
    )
    offs2 = _bloom_offsets(spark, new_loc)
    assert offs2["n_nationkey"] is True, offs2


def test_table_versions_and_rollback(spark, tmp_path, clean_dbs):
    """Per-table time travel over the blue-green lake: three builds leave
    three versions; rollback re-points at version 1 (metadata-only, row
    counts prove it), refuses the already-current target, and a
    subsequent vacuum keeps the rolled-back version while collecting the
    abandoned newer ones."""
    from arthur_redshift_etl_spark.errors import ETLRuntimeError
    from arthur_redshift_etl_spark.loader import (
        rollback_table,
        table_versions,
        vacuum_lake,
    )

    lake = str(tmp_path / "lake")
    ctxs = []
    counts = []
    for i in range(3):
        rels = [source_rel(spark, tmp_path, "rbsrc.nation", "nation")]
        if i > 0:
            # shrink the source so each version has a distinct row count
            d = str(tmp_path / "data" / "rbsrc.nation")
            spark.read.parquet(f"{SF_DIR}/nation.parquet").limit(
                25 - i * 5
            ).write.mode("overwrite").parquet(d)
        ctx = LoadContext(spark=spark, data_root=lake, store=EventStore())
        load_warehouse(ctx, rels)
        ctxs.append(ctx)
        counts.append(spark.table("rbsrc.nation").count())
    rel = source_rel(spark, tmp_path, "rbsrc.nation", "nation")

    versions = table_versions(ctxs[-1], rel)
    assert [v["etl_id"] for v in versions] == sorted(c.etl_id for c in ctxs)
    current = [v for v in versions if v["is_current"]]
    assert len(current) == 1 and current[0]["etl_id"] == ctxs[-1].etl_id
    assert all(v["n_files"] > 0 and v["bytes"] > 0 for v in versions)

    # refuse the no-op
    with pytest.raises(ETLRuntimeError, match="already the current"):
        rollback_table(ctxs[-1], rel, ctxs[-1].etl_id)
    # refuse a vacuumed/unknown version
    with pytest.raises(ETLRuntimeError, match="no lake version"):
        rollback_table(ctxs[-1], rel, "nonexistent")

    info = rollback_table(ctxs[-1], rel, ctxs[0].etl_id)
    assert info["rows"] == counts[0]
    assert spark.table("rbsrc.nation").count() == counts[0]
    versions = table_versions(ctxs[-1], rel)
    assert [v["etl_id"] for v in versions if v["is_current"]] == [ctxs[0].etl_id]

    # vacuum composes: the rolled-back version is referenced (kept), the
    # abandoned 3rd version is collectible (the 2nd is the publish backup)
    removed = vacuum_lake(spark, lake)
    assert os.path.join(lake, ctxs[-1].etl_id) in removed
    assert spark.table("rbsrc.nation").count() == counts[0]


def test_rollback_refuses_schema_drift_for_declared_layouts(
    spark, tmp_path, clean_dbs
):
    """A partitioned table's re-registration declares the CURRENT design's
    columns; rolling back to files missing one must refuse with the drift
    list instead of registering a table that breaks at read time."""
    from arthur_redshift_etl_spark.errors import ETLRuntimeError
    from arthur_redshift_etl_spark.loader import rollback_table, table_versions

    lake = str(tmp_path / "lake")

    def rel_with_cols(cols):
        d = str(tmp_path / "data" / "drift.nation")
        return Relation(
            design=TableDesign(
                name="drift.nation",
                source_name="up.public.nation",
                columns=cols,
                attributes={"partition_by": ["n_regionkey"]},
            ),
            data_location=d,
        )

    base_cols = [
        ColumnDefinition("n_nationkey", "int", not_null=True),
        ColumnDefinition("n_name", "string"),
        ColumnDefinition("n_regionkey", "int"),
    ]
    d = str(tmp_path / "data" / "drift.nation")
    src = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    # version 1: no n_comment column in the files
    src.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(d)
    ctx1 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx1, [rel_with_cols(base_cols)])
    # version 2: files carry the new column the design now declares
    from pyspark.sql import functions as F

    src.select("n_nationkey", "n_name", "n_regionkey").withColumn(
        "n_comment", F.concat(F.lit("c-"), F.col("n_name"))
    ).write.mode("overwrite").parquet(d)
    new_cols = base_cols + [ColumnDefinition("n_comment", "string")]
    ctx2 = LoadContext(spark=spark, data_root=lake, store=EventStore())
    load_warehouse(ctx2, [rel_with_cols(new_cols)])

    rel_now = rel_with_cols(new_cols)
    assert len(table_versions(ctx2, rel_now)) == 2
    with pytest.raises(ETLRuntimeError, match="n_comment"):
        rollback_table(ctx2, rel_now, ctx1.etl_id)
    # with the matching (old) design the same rollback succeeds, and the
    # partition column still prunes (registered PARTITIONED BY)
    info = rollback_table(ctx2, rel_with_cols(base_cols), ctx1.etl_id)
    assert info["rows"] == spark.table("drift.nation").count()


def test_restore_keeps_bucket_spec(spark, tmp_path, clean_dbs):
    """publish backs a bucketed table up with its own registration, so a
    restore brings back the bucket spec, and a join on the bucket key
    still plans no shuffle."""
    from arthur_redshift_etl_spark.bootstrap import bootstrap_source_design
    from arthur_redshift_etl_spark.loader import restore_schemas
    from arthur_redshift_etl_spark.plans.lint import plan_text

    d = str(tmp_path / "data" / "rbk.orders")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").write.mode("overwrite").parquet(d)

    def rel():
        design = bootstrap_source_design(
            spark.read.parquet(d), "rbk.orders", "up.public.orders"
        )
        design.attributes["bucket_by"] = {"columns": ["o_orderkey"], "buckets": 4}
        return Relation(design=design, data_location=d)

    lake = str(tmp_path / "lake")
    ctxs = [LoadContext(spark=spark, data_root=lake, store=EventStore()) for _ in range(2)]
    for ctx in ctxs:
        load_warehouse(ctx, [rel()])
    assert restore_schemas(ctxs[1], [rel()]) == ["rbk.orders"]
    detail = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE FORMATTED rbk.orders").collect()
    }
    assert detail.get("Num Buckets") == "4"
    # restored to the first load's files
    assert os.path.normpath(detail["Location"].replace("file:", "")) == os.path.normpath(
        f"{lake}/{ctxs[0].etl_id}/rbk/orders"
    )
    orders = spark.table("rbk.orders")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders.alias("a").join(orders.alias("b"), "o_orderkey")
        assert "Exchange" not in plan_text(joined), "restored bucketed join shuffles"
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize(
    "kinds", [("CTAS", "VIEW"), ("VIEW", "CTAS")], ids=["table_to_view", "view_to_table"]
)
def test_relation_changes_between_table_and_view(spark, tmp_path, clean_dbs, kinds):
    """A design that turns a CTAS into a VIEW, or back, publishes the new
    kind: Spark refuses DROP TABLE on a view and DROP VIEW on a table, so the
    loader must drop by catalog type."""
    lake = str(tmp_path / "lake")
    for kind in kinds:
        x = Relation(
            design=TableDesign(
                name="dw.x",
                source_name=kind,
                columns=[
                    ColumnDefinition("n_nationkey", "int"),
                    ColumnDefinition("n_name", "string"),
                ],
                depends_on=["tvsrc.nation"],
            ),
            query="SELECT n_nationkey, n_name FROM tvsrc.nation",
        )
        load_warehouse(
            LoadContext(spark=spark, data_root=lake, store=EventStore()),
            [source_rel(spark, tmp_path, "tvsrc.nation", "nation"), x],
        )
        expected = "VIEW" if kind == "VIEW" else "EXTERNAL"
        assert spark.catalog.getTable("dw.x").tableType == expected
        assert spark.table("dw.x").count() == spark.table("tvsrc.nation").count()
        dbs = {r.namespace for r in spark.sql("SHOW DATABASES").collect()}
        assert not any(db.startswith("etl_staging__") for db in dbs)
