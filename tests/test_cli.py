"""CLI surface tests — the non-Spark commands run fast and in-process."""

import json
import os

import pytest

from arthur_redshift_etl_spark.cli import main
from arthur_redshift_etl_spark.repo import write_design


@pytest.fixture()
def design_repo(tmp_path):
    root = str(tmp_path / "repo")
    os.makedirs(root, exist_ok=True)
    write_design(
        root,
        {
            "name": "src.orders",
            "source_name": "up.public.orders",
            "columns": [
                {"name": "o_orderkey", "type": "long", "not_null": True},
                {"name": "o_totalprice", "type": "double"},
            ],
            "constraints": [{"primary_key": ["o_orderkey"]}],
            "extract_settings": {"split_by": ["o_orderkey"], "num_partitions": 4},
        },
    )
    write_design(
        root,
        {
            "name": "dw.totals",
            "source_name": "CTAS",
            "columns": [{"name": "total", "type": "double"}],
            "depends_on": ["src.orders"],
            "attributes": {"distribution": ["total"], "compound_sort": ["total"]},
        },
        query="SELECT SUM(o_totalprice) AS total FROM src.orders",
    )
    return root


def test_initialize_and_ls(design_repo, capsys):
    assert main(["--repo", design_repo, "initialize"]) == 0
    assert main(["--repo", design_repo, "ls"]) == 0
    out = capsys.readouterr().out
    assert "T src.orders" in out and "C dw.totals" in out


def test_ls_with_pattern(design_repo, capsys):
    main(["--repo", design_repo, "ls", "dw.*"])
    out = capsys.readouterr().out
    assert "dw.totals" in out and "src.orders" not in out


def test_selftest(design_repo, capsys):
    assert main(["--repo", design_repo, "selftest"]) == 0
    assert "OK" in capsys.readouterr().out


def test_extract_plan(design_repo, capsys):
    assert main(["--repo", design_repo, "extract"]) == 0
    out = capsys.readouterr().out
    assert '"partition_column": "o_orderkey"' in out
    assert '"num_partitions": 4' in out


def test_extract_plan_incremental(design_repo, capsys):
    assert main([
        "--repo", design_repo, "extract",
        "--incremental-column", "o_orderkey", "--last-seen", "1000",
    ]) == 0
    out = capsys.readouterr().out
    assert "o_orderkey > 1000" in out
    assert '"partition_column": "o_orderkey"' in out


def test_extract_last_seen_type_rejects_bad_literal(design_repo, capsys):
    """An explicitly typed watermark that does not parse is a CLI error
    (message + exit 2), not a traceback (regression)."""
    rc = main([
        "--repo", design_repo, "extract",
        "--incremental-column", "o_orderkey",
        "--last-seen", "2024-01-01", "--last-seen-type", "int",
    ])
    assert rc == 2
    assert "not a valid int" in capsys.readouterr().err


def test_show_ddl(design_repo, capsys):
    assert main(["--repo", design_repo, "show_ddl"]) == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE src.orders" in out
    assert "o_orderkey BIGINT NOT NULL" in out
    assert "'constraint.primary_key' = 'o_orderkey'" in out
    assert "'distribution' = 'total'" in out


def test_show_downstream_and_upstream(design_repo, capsys):
    assert main(["--repo", design_repo, "show_downstream_dependents", "src.orders"]) == 0
    out = capsys.readouterr().out
    assert "src.orders" in out and "dw.totals" in out
    assert main(["--repo", design_repo, "show_upstream_dependencies", "dw.totals"]) == 0
    out = capsys.readouterr().out
    assert "<- src.orders" in out


def test_create_index(design_repo, capsys):
    assert main(["--repo", design_repo, "create_index"]) == 0
    out = capsys.readouterr().out
    assert "## src" in out and "primary_key(o_orderkey)" in out


def test_events_empty(design_repo, capsys):
    assert main(["--repo", design_repo, "tail_events"]) == 0


def test_tail_events_follow_sees_mid_follow_appends(design_repo, capsys):
    """--follow streams events appended WHILE following (reference
    live-monitor analog)."""
    import json as _json
    import threading
    import time as _time

    from arthur_redshift_etl_spark.monitor import EventStore

    store = EventStore(os.path.join(design_repo, "events.jsonl"))
    store.append({"event": "start", "target": "pre.existing", "step": "load"})

    def appender():
        _time.sleep(0.4)
        store.append({"event": "finish", "target": "live.row", "step": "load"})
        store.append({"event": "finish", "target": "live.row2", "step": "load"})

    th = threading.Thread(target=appender)
    th.start()
    rc = main([
        "--repo", design_repo, "tail_events",
        "--follow", "--follow-seconds", "1.5", "--poll-interval", "0.1",
    ])
    th.join()
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    targets = [_json.loads(ln)["target"] for ln in lines]
    # tail printed the pre-existing event; follow picked up both live rows
    assert targets == ["pre.existing", "live.row", "live.row2"]


def test_show_value_and_vars_and_template(design_repo, capsys, tmp_path):
    with open(os.path.join(design_repo, "config.yaml"), "w") as fh:
        fh.write(
            "schemas:\n"
            "  - name: src\n"
            "    read_access: SRC_DSN\n"
            "  - name: dw\n"
            "required_for_success: [dw.*]\n"
            "settings:\n"
            "  etl:\n"
            "    max_concurrency: 4\n"
            "    owner: data-eng\n"
        )
    assert main(["--repo", design_repo, "show_value", "settings.etl.owner"]) == 0
    assert capsys.readouterr().out.strip() == "data-eng"
    # unset without default -> error; with default -> default
    assert main(["--repo", design_repo, "show_value", "settings.nope"]) == 1
    capsys.readouterr()
    assert main(["--repo", design_repo, "show_value", "settings.nope", "fallback"]) == 0
    assert capsys.readouterr().out.strip() == "fallback"
    assert main(["--repo", design_repo, "show_vars", "schemas.src.kind"]) == 0
    assert capsys.readouterr().out.strip() == "schemas.src.kind=database_source"
    # a SECTION path is configured, just not a leaf: render the subtree
    # instead of claiming the setting is unset (regression)
    assert main(["--repo", design_repo, "show_value", "settings.etl"]) == 0
    section = json.loads(capsys.readouterr().out)
    assert section == {"max_concurrency": "4", "owner": "data-eng"}

    tdir = os.path.join(design_repo, "templates")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "grant.sql"), "w") as fh:
        fh.write("-- owner ${settings.etl.owner}, workers ${settings.etl.max_concurrency}\n")
    with open(os.path.join(tdir, "broken.sql"), "w") as fh:
        fh.write("SELECT '${settings.never.set}'\n")
    assert main(["--repo", design_repo, "render_template", "--list"]) == 0
    assert capsys.readouterr().out.split() == ["broken.sql", "grant.sql"]
    assert main(["--repo", design_repo, "render_template", "grant.sql"]) == 0
    assert capsys.readouterr().out == "-- owner data-eng, workers 4\n"
    # unresolved placeholder fails loudly, never ships half-rendered
    assert main(["--repo", design_repo, "render_template", "broken.sql"]) == 1


def test_restore_schemas_nothing_to_restore(design_repo, capsys, spark):
    # no backup databases exist -> nonzero exit + clear message
    assert main(["--repo", design_repo, "restore_schemas"]) == 1
    assert "nothing to restore" in capsys.readouterr().out


def test_sync_validates_and_deploys(design_repo, tmp_path, capsys):
    target = str(tmp_path / "deployed")
    assert main(["--repo", design_repo, "sync", "--to", target]) == 0
    out = capsys.readouterr().out
    assert "synced 2 design(s)" in out
    assert os.path.exists(os.path.join(target, "schemas", "dw", "totals.yaml"))
    assert os.path.exists(os.path.join(target, "schemas", "dw", "totals.sql"))

    # invalid design blocks the deploy
    bad = os.path.join(design_repo, "schemas", "dw", "broken.yaml")
    with open(bad, "w") as fh:
        fh.write("name: dw.broken\n")  # missing source_name/columns
    assert main(["--repo", design_repo, "sync", "--to", target]) == 1
    assert not os.path.exists(os.path.join(target, "schemas", "dw", "broken.yaml"))
    os.remove(bad)


def test_diff_gate_exit_status(design_repo, tmp_path, capsys, spark):
    """`diff` reports drift counts and exits nonzero — the publish gate."""
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    df = spark.range(10).withColumnRenamed("id", "k")
    df.withColumn("v", df.k * 2).write.parquet(a)
    df.filter(df.k < 9).withColumn(
        "v", (df.k * 2) + (df.k == 0).cast("long")
    ).write.parquet(b)
    rc = main(["--repo", design_repo, "diff", a, b, "--keys", "k"])
    out = capsys.readouterr().out
    assert rc == 1
    assert '"removed": 1' in out and '"changed": 1' in out and '"added": 0' in out
    # identical inputs → clean gate
    assert main(["--repo", design_repo, "diff", a, a, "--keys", "k"]) == 0


def test_compact_skips_unloaded(design_repo, capsys):
    # no warehouse load has happened: every relation reports skipped, rc 0
    assert main(["--repo", design_repo, "compact"]) == 0
    out = capsys.readouterr().out
    assert "skipped" in out and "processed" in out


def test_extract_runs_against_duckdb_upstream(design_repo, tmp_path, capsys, spark):
    """extract --duckdb-path: plan, pull partition-parallel, land parquet."""
    import duckdb

    db = str(tmp_path / "up.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE SCHEMA public")
    con.execute(
        "CREATE TABLE public.orders AS "
        "SELECT * FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
    )
    n_src = con.execute("SELECT COUNT(*) FROM public.orders").fetchone()[0]
    con.close()
    outdir = str(tmp_path / "lake")
    assert main([
        "--repo", design_repo, "extract",
        "--duckdb-path", db, "--output-dir", outdir,
    ]) == 0
    row = json.loads(
        next(l for l in capsys.readouterr().out.splitlines() if l.startswith("{"))
    )
    assert row["rows"] == n_src
    assert row["output"] == os.path.join(outdir, "src", "orders")
    landed = spark.read.parquet(row["output"])
    assert landed.columns == ["o_orderkey", "o_totalprice"]  # design projection
    assert landed.count() == n_src
    assert landed.rdd.getNumPartitions() == 4  # split_by/num_partitions honored


@pytest.fixture()
def sized_upstream(tmp_path):
    """(repo, duckdb path, upstream rows): an orders design with no
    num_partitions, so the probed size plans the extract."""
    import duckdb

    root = str(tmp_path / "sized")
    os.makedirs(root, exist_ok=True)
    write_design(
        root,
        {
            "name": "src.orders",
            "source_name": "up.main.orders",
            "columns": [
                {"name": "o_orderkey", "type": "long", "not_null": True},
                {"name": "o_totalprice", "type": "double"},
            ],
            "constraints": [{"primary_key": ["o_orderkey"]}],
        },
    )
    db = str(tmp_path / "up.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE orders AS "
        "SELECT * FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
    )
    n_src = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    con.close()
    return root, db, n_src


def _extract_rows(capsys):
    return [
        json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]


def test_extract_use_sampling_skips_small_upstream_tables(
    sized_upstream, tmp_path, capsys, spark
):
    """--use-sampling samples only tables over 100 MiB of probed size: a
    small upstream table lands whole, as one range."""
    root, db, n_src = sized_upstream
    assert main([
        "--repo", root, "extract", "--use-sampling",
        "--duckdb-path", db, "--output-dir", str(tmp_path / "lake"),
    ]) == 0
    (row,) = _extract_rows(capsys)
    assert "MOD(" not in row["query"]
    assert row["num_partitions"] == 1
    assert row["rows"] == n_src
    assert spark.read.parquet(row["output"]).count() == n_src


def test_extract_incremental_sizes_the_delta(sized_upstream, tmp_path, capsys):
    root, db, n_src = sized_upstream
    assert main([
        "--repo", root, "extract", "--duckdb-path", db,
        "--output-dir", str(tmp_path / "lake"),
        "--incremental-column", "o_orderkey", "--last-seen", "1000",
    ]) == 0
    (row,) = _extract_rows(capsys)
    assert "o_orderkey > 1000" in row["query"]
    assert row["num_partitions"] == 1
    assert 0 < row["rows"] < n_src


def test_extract_duckdb_requires_output_dir(design_repo, capsys):
    assert main(["--repo", design_repo, "extract", "--duckdb-path", "/nope.db"]) == 2
    assert "--output-dir" in capsys.readouterr().err


def test_extract_runs_against_sqlite_upstream(tmp_path, capsys, spark):
    """extract --sqlite-path: the SAME plan through transport #2 (stdlib
    sqlite3) — plan, pull partition-parallel, land parquet."""
    import sqlite3

    root = str(tmp_path / "repo")
    os.makedirs(root, exist_ok=True)
    write_design(
        root,
        {
            "name": "src.orders",
            "source_name": "up.main.orders",  # sqlite's default db is main
            "columns": [
                {"name": "o_orderkey", "type": "long", "not_null": True},
                {"name": "o_totalprice", "type": "double"},
            ],
            "constraints": [{"primary_key": ["o_orderkey"]}],
            "extract_settings": {"split_by": ["o_orderkey"], "num_partitions": 4},
        },
    )
    db = str(tmp_path / "up.db")
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    rows = [(r["o_orderkey"], r["o_totalprice"]) for r in src.collect()]
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE orders (o_orderkey INTEGER, o_totalprice REAL)")
    con.executemany("INSERT INTO orders VALUES (?, ?)", rows)
    con.commit()
    con.close()
    outdir = str(tmp_path / "lake")
    assert main([
        "--repo", root, "extract",
        "--sqlite-path", db, "--output-dir", outdir,
    ]) == 0
    row = json.loads(
        next(l for l in capsys.readouterr().out.splitlines() if l.startswith("{"))
    )
    assert row["rows"] == len(rows)
    landed = spark.read.parquet(row["output"])
    assert landed.columns == ["o_orderkey", "o_totalprice"]
    assert landed.count() == len(rows)
    assert landed.rdd.getNumPartitions() == 4


def test_extract_upstreams_mutually_exclusive(design_repo, capsys):
    assert main([
        "--repo", design_repo, "extract",
        "--duckdb-path", "/a.db", "--sqlite-path", "/b.db",
        "--output-dir", "/tmp/x",
    ]) == 2
    assert "mutually exclusive" in capsys.readouterr().err


def test_replicate_is_incremental_and_exactly_once(tmp_path, capsys, spark):
    import duckdb

    db = str(tmp_path / "rep.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE audit AS SELECT range AS seq, 'e' || range::VARCHAR AS msg "
        "FROM range(0, 40)"
    )
    con.close()
    target = str(tmp_path / "lake" / "audit")
    argv = ["replicate", "--duckdb-path", db, "--table", "audit",
            "--cursor-column", "seq", "--target-dir", target]
    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert first["rows_appended"] == 40
    con = duckdb.connect(db)
    con.execute("INSERT INTO audit SELECT range, 'e' || range::VARCHAR FROM range(40, 55)")
    con.close()
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert second["rows_appended"] == 15  # only the delta, never a re-copy
    landed = spark.read.parquet(target)
    assert sorted(r.seq for r in landed.collect()) == list(range(55))


def test_replicate_firehose_partitioned_exactly_once(tmp_path, capsys, spark):
    """--firehose drains through the partitioned batch extract with the
    same cursor exactly-once semantics as the stream path."""
    import duckdb

    db = str(tmp_path / "fire.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE audit AS SELECT range AS seq, 'e' || range::VARCHAR AS msg "
        "FROM range(0, 40)"
    )
    con.close()
    target = str(tmp_path / "lake" / "audit")
    argv = ["replicate", "--duckdb-path", db, "--table", "audit",
            "--cursor-column", "seq", "--target-dir", target, "--firehose",
            "--num-partitions", "2"]
    assert main(argv) == 0
    first = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert first["mode"] == "firehose" and first["rows"] == 40
    con = duckdb.connect(db)
    con.execute("INSERT INTO audit SELECT range, 'e' || range::VARCHAR FROM range(40, 55)")
    con.close()
    assert main(argv) == 0
    second = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert second["rows"] == 15
    landed = spark.read.option("recursiveFileLookup", "true").parquet(target)
    assert sorted(r.seq for r in landed.collect()) == list(range(55))


def test_show_versions_and_rollback_verbs(design_repo, tmp_path, capsys, spark):
    """CLI time travel: two loads leave two lake versions; show_versions
    lists them with the current marker, rollback re-points at the first
    (verified by row count), and bad targets produce error rows + rc 1."""
    from arthur_redshift_etl_spark.loader import LoadContext, load_warehouse
    from arthur_redshift_etl_spark.monitor import EventStore
    from arthur_redshift_etl_spark.repo import find_file_sets
    from arthur_redshift_etl_spark.names import TableSelector

    # materialize a source file for src.orders, then load twice with
    # different slices so the versions are distinguishable
    data_dir = str(tmp_path / "repo" / "data" / "src.orders")
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lake = os.path.join(design_repo, "lake")
    etl_ids = []
    counts = []
    for limit in (100, 50):
        src.limit(limit).write.mode("overwrite").parquet(data_dir)
        rels = [
            r
            for r in find_file_sets(design_repo, TableSelector(["src.orders"]))
            if r.is_source_relation
        ]
        for r in rels:
            r.data_location = data_dir
        ctx = LoadContext(
            spark=spark,
            data_root=lake,
            store=EventStore(os.path.join(design_repo, "events.jsonl")),
        )
        load_warehouse(ctx, rels)
        etl_ids.append(ctx.etl_id)
        counts.append(spark.table("src.orders").count())
    assert counts == [100, 50]

    assert main(["--repo", design_repo, "show_versions", "src.orders"]) == 0
    out = capsys.readouterr().out
    for etl_id in etl_ids:
        assert etl_id in out
    assert out.count("*current") == 1
    assert f"etl_id={etl_ids[1]}" in [
        l for l in out.splitlines() if "*current" in l
    ][0]

    rc = main([
        "--repo", design_repo, "rollback", "src.orders",
        "--to-etl-id", etl_ids[0],
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "rolled back" in out and "(100 rows)" in out
    assert spark.table("src.orders").count() == 100

    # unknown version: per-relation error row, rc 1
    rc = main([
        "--repo", design_repo, "rollback", "src.orders",
        "--to-etl-id", "nope",
    ])
    out = capsys.readouterr().out
    assert rc == 1 and "ERROR" in out and "no lake version" in out


def test_build_and_search_vector_index_e2e(tmp_path, capsys, spark):
    """build_vector_index -> search_vectors over the real embeddings table:
    the reusable 3-stage ivfpq_search operator behind durable artifacts
    (VERDICT r11 #8).  Self-query must return itself at exact distance 0."""
    idx = str(tmp_path / "ivfpq_index")
    assert main([
        "build_vector_index",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--index-dir", idx,
        "--centroids", "4", "--subspaces", "4", "--train-iters", "1",
    ]) == 0
    meta = json.loads(
        next(l for l in capsys.readouterr().out.splitlines() if l.startswith("{"))
    )
    assert meta["format"] == "ivfpq-v1"
    assert meta["n_vectors"] > 0 and meta["dim"] % 4 == 0
    for f in ("meta.json", "centroids.json", "codebooks.json", "assignment.parquet"):
        assert os.path.exists(os.path.join(idx, f)), f
    # assignment is complete: one coarse list per corpus vector
    assign = spark.read.parquet(os.path.join(idx, "assignment.parquet"))
    assert assign.count() == meta["n_vectors"]
    assert set(assign.columns) == {"vec_id", "centroid_id"}

    assert main([
        "search_vectors",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--index-dir", idx,
        "--query-id", "7", "--k", "3", "--nprobe", "2",
    ]) == 0
    out = capsys.readouterr().out
    # the query vector's own bucket is always probed, so the exact rerank
    # must surface vec_id 7 itself at distance 0 as the top row
    lines = [l for l in out.splitlines() if "|" in l]
    first_data = next(l for l in lines if l.split("|")[1].strip().isdigit())
    assert first_data.split("|")[1].strip() == "7"
    assert first_data.split("|")[2].strip() == "0"


def test_search_vectors_rejects_bad_query(tmp_path, capsys):
    idx = str(tmp_path / "no_index")
    os.makedirs(idx)
    with open(os.path.join(idx, "meta.json"), "w") as fh:
        json.dump({"format": "something-else"}, fh)
    with pytest.raises(Exception, match="unknown index format"):
        main([
            "search_vectors",
            "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
            "--index-dir", idx, "--query", "0.1,0.2",
        ])


def test_search_vectors_batch_matches_single(tmp_path, spark):
    """The batch path must return the same neighbors as N single-query
    searches (exact within the probed lists; single-query rerank_pool set
    large enough to make its pool exhaustive over the probed candidates)."""
    from arthur_redshift_etl_spark.vector_index import (
        build_vector_index,
        search_vectors,
        search_vectors_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_vector_index(spark, emb, idx, n_centroids=4, n_subspaces=4,
                       train_iters=1)
    qvecs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter("vec_id in (3, 17, 42)").collect()
    }
    batch = search_vectors_batch(spark, emb, idx, qvecs, k=3, nprobe=2)
    got = {
        (r["query_id"], r["knn_rank"]): (r["vec_id"], r["exact_dist"])
        for r in batch.collect()
    }
    assert len(got) == 9
    for qid, vec in qvecs.items():
        single = search_vectors(
            spark, emb, idx, vec, k=3, nprobe=2, rerank_pool=10_000
        ).collect()
        for rank, row in enumerate(single, start=1):
            assert got[(qid, rank)] == (row[0], row[1]), (qid, rank)
        # self-query: the vector itself is rank 1 at distance 0
        assert got[(qid, 1)] == (qid, 0)


def test_search_vectors_queries_file_batch(tmp_path, capsys, spark):
    """--queries-file routes the set through the one-plan batch path."""
    idx = str(tmp_path / "idx")
    assert main([
        "build_vector_index",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--index-dir", idx, "--centroids", "4", "--subspaces", "4",
        "--train-iters", "0",
    ]) == 0
    capsys.readouterr()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id in (5, 9)").collect()
    }
    qf = tmp_path / "queries.json"
    qf.write_text(json.dumps({str(k): v for k, v in qvecs.items()}))
    assert main([
        "search_vectors",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--index-dir", idx, "--queries-file", str(qf), "--k", "2",
    ]) == 0
    out = capsys.readouterr().out
    # both self-queries surface at rank 1, distance 0
    rows = [l for l in out.splitlines() if l.count("|") >= 4]
    hits = [l for l in rows if "|0 " in l.replace("| 0 ", "|0 ") or "| 0 " in l]
    assert any("5" in l for l in hits) and any("9" in l for l in hits), out


def test_search_vectors_batch_edge_cases(tmp_path, spark):
    """Robustness pins for the batch path: single-query dict, nprobe
    exceeding the centroid count (clamps to all lists = exhaustive within
    the index), and a dimension mismatch raising before any Spark work."""
    from arthur_redshift_etl_spark.vector_index import (
        build_vector_index,
        search_vectors_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_vector_index(spark, emb, idx, n_centroids=4, n_subspaces=4,
                       train_iters=0)
    q = list(emb.filter("vec_id = 11").first()["embedding"])
    one = search_vectors_batch(spark, emb, idx, {11: q}, k=2, nprobe=2).collect()
    assert [r["vec_id"] for r in one][0] == 11 and one[0]["exact_dist"] == 0
    # nprobe > n_centroids: probes clamp to every list -> exact brute force
    allp = search_vectors_batch(
        spark, emb, idx, {11: q}, k=2, nprobe=99
    ).collect()
    assert allp[0]["vec_id"] == 11 and len(allp) == 2
    with pytest.raises(ValueError, match="dim"):
        search_vectors_batch(spark, emb, idx, {0: [1.0, 2.0]}, k=1)


def test_vector_index_trained_coarse_quantizer(tmp_path, spark):
    """r13 (VERDICT r12 #3): train_centroids runs whole-vector L2 Lloyd
    on the coarse quantizer (pq_train_iterations with M=1/SUB=dim) and
    switches assignment + probe schedule to the metric-matched L2 argmin.
    Pins: meta records the metric; every vector is assigned; self-query
    still surfaces itself at distance 0 (its own bucket is its argmin
    centroid, which the L2 probe schedule ranks first)."""
    from arthur_redshift_etl_spark.vector_index import (
        build_vector_index,
        load_index,
        search_vectors_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx_trained")
    meta = build_vector_index(
        spark, emb, idx, n_centroids=4, n_subspaces=4, train_iters=0,
        train_centroids=2,
    )
    assert meta["metric"] == "l2" and meta["train_centroids"] == 2
    m2, cents, _ = load_index(idx)
    assert m2["metric"] == "l2"
    # trained centroids moved off the seed vectors (micro lists differ
    # from the raw seed micro lists for at least one centroid)
    from arthur_redshift_etl_spark.operators import quantization as qz
    seed_micro = {
        int(r["vec_id"]): qz.micro_list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(4).collect()
    }
    assert any(cents[c] != seed_micro[c] for c in cents)
    assign = spark.read.parquet(os.path.join(idx, "assignment.parquet"))
    assert assign.count() == meta["n_vectors"]
    q = list(emb.filter("vec_id = 23").first()["embedding"])
    top = search_vectors_batch(spark, emb, idx, {23: q}, k=2, nprobe=1).collect()
    assert top[0]["vec_id"] == 23 and top[0]["exact_dist"] == 0


def test_vector_batch_broadcast_parity_and_string_ids(tmp_path, spark):
    """r13 (VERDICT r12 #4): the broadcast-DataFrame query path must return
    identical rows to the literal path, and non-int query ids are carried
    as strings instead of crashing on int()."""
    from arthur_redshift_etl_spark.vector_index import (
        build_vector_index,
        search_vectors_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_vector_index(spark, emb, idx, n_centroids=4, n_subspaces=4,
                       train_iters=0, train_centroids=0)
    qvecs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter("vec_id in (3, 17, 42)").collect()
    }
    lit = search_vectors_batch(
        spark, emb, idx, qvecs, k=3, nprobe=2, query_plan="literal"
    )
    bc = search_vectors_batch(
        spark, emb, idx, qvecs, k=3, nprobe=2, query_plan="broadcast"
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(lit) == key(bc)
    assert dict(lit.dtypes)["query_id"] == "bigint"
    # string ids: same vectors under string keys — both plans agree and
    # the query_id column is a string
    sq = {f"q-{k}": v for k, v in qvecs.items()}
    slit = search_vectors_batch(
        spark, emb, idx, sq, k=3, nprobe=2, query_plan="literal"
    )
    sbc = search_vectors_batch(
        spark, emb, idx, sq, k=3, nprobe=2, query_plan="broadcast"
    )
    assert key(slit) == key(sbc)
    assert dict(slit.dtypes)["query_id"] == "string"
    got = {(r["query_id"], r["knn_rank"]): r["vec_id"] for r in slit.collect()}
    for k_ in qvecs:
        assert got[(f"q-{k_}", 1)] == k_
    with pytest.raises(ValueError, match="query_plan"):
        search_vectors_batch(spark, emb, idx, qvecs, query_plan="nope")


def test_vector_index_staleness_check(tmp_path, spark, capsys):
    """ADVICE r12 + VERDICT r12 #8: searching with a corpus that drifted
    from the persisted assignment raises a STALE error naming the
    fingerprints; verify=False searches the indexed subset knowingly;
    build_vector_index --if-stale skips a fresh rebuild and rebuilds a
    stale one."""
    from arthur_redshift_etl_spark.vector_index import (
        build_vector_index,
        search_vectors_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_vector_index(spark, emb, idx, n_centroids=4, n_subspaces=4,
                       train_iters=0, train_centroids=0)
    drifted = emb.filter("vec_id < 100")
    q = list(emb.filter("vec_id = 7").first()["embedding"])
    with pytest.raises(ValueError, match="STALE"):
        search_vectors_batch(spark, drifted, idx, {7: q}, k=2)
    # explicit opt-out searches the (drifted) corpus anyway
    rows = search_vectors_batch(
        spark, drifted, idx, {7: q}, k=2, verify=False
    ).collect()
    assert rows[0]["vec_id"] == 7

    # CLI --if-stale: fresh corpus -> skipped; drifted corpus -> rebuilt
    assert main([
        "build_vector_index",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--index-dir", idx, "--centroids", "4", "--subspaces", "4",
        "--train-iters", "0", "--train-centroids", "0", "--if-stale",
    ]) == 0
    out1 = json.loads(next(
        l for l in capsys.readouterr().out.splitlines() if l.startswith("{")
    ))
    assert out1.get("skipped") == "fresh"
    small = str(tmp_path / "small.parquet")
    emb.filter("vec_id < 100").write.parquet(small)
    assert main([
        "build_vector_index",
        "--embeddings", small,
        "--index-dir", idx, "--centroids", "4", "--subspaces", "4",
        "--train-iters", "0", "--train-centroids", "0", "--if-stale",
    ]) == 0
    out2 = json.loads(next(
        l for l in capsys.readouterr().out.splitlines() if l.startswith("{")
    ))
    assert "skipped" not in out2 and out2["n_vectors"] == 100
