"""Command-line surface: the data-path commands of the reference CLI.

Reference parity: ``python/etl/commands.py:340-390`` registers 44
subcommands; the data-path set reproduced here (SURVEY §2.12):
initialize, bootstrap_sources/transformations, sync, extract (plan, or run vs a DuckDB upstream), replicate, load,
upgrade, update, unload, validate, run_query, check_constraints, diff,
explain,
show_ddl, show_downstream_dependents, show_upstream_dependencies,
create_schemas, promote_schemas, restore_schemas (commands.py:1461-1474),
create_external_schemas (commands.py:1374-1398),
create_index, ls, ping, query_events, summarize_events,
tail_events (--follow = live-monitor analog, monitor.py:433-575), selftest,
show_value / show_vars / render_template (commands.py:1891-1944),
run_sql_template (commands.py:775-820), list_tags (commands.py:1868-1885),
disk_usage (templates/sql/disk_usage.sql analog over the lake + catalog),
terminate_builds (TerminateSessionsCommand analog — job-group cancel of a
running build, jobcontrol.py), show_versions / rollback (per-table N-deep
time travel over the blue-green lake versions — the table-grain complement
of restore_schemas), serve_events (the reference's in-memory HTTP monitor
dashboard, monitor.py:433-575 — HTML + JSON over the event store).  AWS-ops commands (EMR, Data Pipeline, IAM)
are out of scope for a Spark engine (stubbed with a clear message).

Usage: ``python -m arthur_redshift_etl_spark.cli <command> [args]`` with
``--repo <dir>`` pointing at a design repository (see ``repo.py`` layout).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import List, Optional

from . import __version__
from .names import TableSelector


def _spark(args):
    from .session import build_session

    return build_session(app_name=f"arthur-spark-{args.command}")


def _relations(args, selector_patterns=None):
    from .repo import find_file_sets

    sel = TableSelector(selector_patterns or [])
    return find_file_sets(args.repo, sel)


def _ctx(args, spark):
    from .loader import LoadContext
    from .monitor import EventStore

    return LoadContext(
        spark=spark,
        data_root=os.path.join(args.repo, "lake"),
        store=EventStore(os.path.join(args.repo, "events.jsonl")),
    )


def cmd_initialize(args) -> int:
    for sub in ("schemas", "data", "lake"):
        os.makedirs(os.path.join(args.repo, sub), exist_ok=True)
    print(f"initialized design repository at {args.repo}")
    return 0


def cmd_ls(args) -> int:
    for rel in _relations(args, args.patterns):
        marker = {"TABLE": "T", "CTAS": "C", "VIEW": "V"}[rel.kind]
        print(f"{marker} {rel.identifier}")
    return 0


def cmd_ping(args) -> int:
    spark = _spark(args)
    row = spark.sql("SELECT 1 AS ok").collect()[0]
    print(f"spark ok={row['ok']} version={spark.version}")
    return 0


def cmd_selftest(args) -> int:
    import doctest

    from . import design as m_design
    from . import names as m_names
    from . import retry as m_retry
    from .functions import compat as m_compat
    from .sources import jdbc as m_jdbc

    failures = 0
    for mod in (m_names, m_design, m_compat, m_jdbc, m_retry):
        f, _ = doctest.testmod(mod, verbose=False)
        failures += f
    print(f"selftest: {'OK' if failures == 0 else f'{failures} failure(s)'}")
    return 1 if failures else 0


def cmd_validate(args) -> int:
    from .relations import order_by_dependencies, sanitize_dependencies
    from .validate import validate_relations

    rels = _relations(args, args.patterns)
    sanitize_dependencies(rels)
    order_by_dependencies(rels)  # cycle check
    spark = _spark(args)
    # register source schemas as empty temp views so transform queries resolve
    for rel in rels:
        if rel.is_source_relation:
            df = spark.createDataFrame([], rel.design.to_spark_schema())
            df.createOrReplaceTempView(rel.table_name.table)
    issues = validate_relations(spark, rels)
    if getattr(args, "upstream_url", None):
        from .validate import validate_upstream

        issues.extend(
            validate_upstream(
                spark, rels, args.upstream_url, driver=args.upstream_driver
            )
        )
    for issue in issues:
        print(str(issue))
    errors = [i for i in issues if i.severity == "error"]
    print(
        f"validate: {len(errors)} error(s), {len(issues) - len(errors)} warning(s) "
        f"in {len(rels)} relation(s)"
    )
    return 1 if errors else 0


def cmd_load(args) -> int:
    from .jobcontrol import BuildGroup, is_cancellation
    from .loader import load_warehouse

    spark = _spark(args)
    ctx = _ctx(args, spark)
    required = TableSelector(args.required) if args.required else None
    with BuildGroup(spark, args.repo, group=args.job_group) as bg:
        try:
            load_warehouse(
                ctx,
                _relations(args),
                TableSelector(args.patterns),
                required_selector=required,
            )
        except Exception as exc:
            if bg.cancelled or is_cancellation(exc, bg.group):
                print(f"load cancelled (job group {bg.group})", file=sys.stderr)
                return 130
            raise
    print(f"load complete (etl_id={ctx.etl_id})")
    return 0


def cmd_upgrade(args) -> int:
    from .jobcontrol import BuildGroup, is_cancellation
    from .loader import upgrade_warehouse

    spark = _spark(args)
    ctx = _ctx(args, spark)
    with BuildGroup(spark, args.repo, group=args.job_group) as bg:
        try:
            failed = upgrade_warehouse(
                ctx,
                _relations(args),
                TableSelector(args.patterns),
                include_dependents=not args.only_selected,
                continue_from=args.continue_from,
            )
        except Exception as exc:
            if bg.cancelled or is_cancellation(exc, bg.group):
                print(
                    f"upgrade cancelled (job group {bg.group})", file=sys.stderr
                )
                return 130
            raise
    print(f"upgrade complete; {len(failed)} failure(s)")
    return 1 if failed else 0


def cmd_update(args) -> int:
    from .loader import merge_update_table, update_warehouse

    spark = _spark(args)
    ctx = _ctx(args, spark)
    if getattr(args, "refresh_partitions", None):
        # partition-scoped incremental refresh: re-run each selected
        # transformation restricted by the predicate, dynamically
        # overwriting only the partitions the slice lands in
        from .loader import refresh_partitions

        selector = TableSelector(args.patterns)
        for rel in _relations(args):
            if not selector.match(rel.table_name) or not rel.is_transformation:
                continue
            audit = refresh_partitions(ctx, rel, args.refresh_partitions)
            print(json.dumps(audit))
        return 0
    if getattr(args, "merge_delta", None):
        # delta MERGE path: upsert a parquet delta into each selected table
        # instead of rebuilding it from sources
        keys = [k.strip() for k in args.merge_keys.split(",")]
        selector = TableSelector(args.patterns)
        for rel in _relations(args):
            if not selector.match(rel.table_name):
                continue
            delta = spark.read.parquet(args.merge_delta)
            n = merge_update_table(ctx, rel, delta, keys)
            print(f"merged {rel.identifier}: {n} rows")
        return 0
    from .jobcontrol import BuildGroup, is_cancellation

    if getattr(args, "with_maintain", False):
        # opt-in post-publish sweep (reference's run_vacuum analog); the
        # default path leaves maintenance to the scheduled `maintain` verb
        import dataclasses

        ctx = dataclasses.replace(ctx, auto_maintain=True)
    with BuildGroup(spark, args.repo, group=args.job_group) as bg:
        try:
            update_warehouse(ctx, _relations(args), TableSelector(args.patterns))
        except Exception as exc:
            if bg.cancelled or is_cancellation(exc, bg.group):
                print(f"update cancelled (job group {bg.group})", file=sys.stderr)
                return 130
            raise
    print("update complete")
    return 0


def cmd_scrub(args) -> int:
    """Right-to-be-forgotten: scrub request keys out of selected tables."""
    from .loader import scrub_table

    spark = _spark(args)
    ctx = _ctx(args, spark)
    requests = spark.read.parquet(args.requests)
    selector = TableSelector(args.patterns)
    for rel in _relations(args):
        if not selector.match(rel.table_name):
            continue
        audit = scrub_table(ctx, rel, requests, args.key)
        print(json.dumps({"relation": rel.identifier, **{
            k: int(v) for k, v in audit.items()}}))
    return 0


def cmd_extract(args) -> int:
    """Print the extract plan per source relation — or, with
    --duckdb-path / --sqlite-path, RUN it against that upstream and land
    parquet under --output-dir/<schema>/<table> (the reference's
    `arthur.py extract` writ small: plan, pull partition-parallel,
    write — one plan, any transport).

    With an upstream, each plan is sized from the upstream's probed size
    of the extract (or delta) query: partitions by the multiple-of-4
    heuristic, and --use-sampling applies only above 100 MiB.  The plan
    carries that size, so a single-range plan under 10 MiB is read on the
    driver with no second probe (``KeyRangeDataSource.read_plan``).  The
    dry plan has nothing to probe and assumes the reference's 640 MiB."""
    from .sources.jdbc import plan_extract, select_statement

    spark = source = None
    upstream = args.duckdb_path or args.sqlite_path
    if upstream:
        from .sources.duckdb_source import DuckDBDataSource
        from .sources.sqlite_source import SQLiteDataSource

        source = DuckDBDataSource if args.duckdb_path else SQLiteDataSource
        if not args.output_dir:
            print(
                "error: an upstream path requires --output-dir",
                file=sys.stderr,
            )
            return 2
        spark = _spark(args)

    def size(query: str):
        return None if source is None else source.size_bytes(upstream, query)

    for rel in _relations(args, args.patterns):
        if not rel.is_source_relation:
            continue
        if getattr(args, "incremental_column", None):
            from .sources.jdbc import incremental_statement, plan_incremental_extract

            if args.last_seen is None:
                print(
                    "error: --incremental-column requires --last-seen",
                    file=sys.stderr,
                )
                return 2
            if args.use_sampling:
                # sampling composes with the full-extract predicate, not the
                # watermark delta — a silent ignore would under-extract
                print(
                    "error: --use-sampling cannot be combined with "
                    "--incremental-column",
                    file=sys.stderr,
                )
                return 2
            mark = args.last_seen
            lst = getattr(args, "last_seen_type", "auto")
            if lst in ("int", "float"):
                try:
                    mark = int(mark) if lst == "int" else float(mark)
                except ValueError:
                    print(
                        f"error: --last-seen {mark!r} is not a valid {lst}",
                        file=sys.stderr,
                    )
                    return 2
            elif lst == "auto":
                # coerce only unambiguous numerics: leading-zero / exponent /
                # sign forms round-trip differently and stay strings so a
                # varchar watermark's predicate compares the original literal
                try:
                    if str(int(mark)) == mark:
                        mark = int(mark)
                except ValueError:
                    try:
                        if str(float(mark)) == mark:
                            mark = float(mark)
                    except ValueError:
                        pass  # temporal/string mark stays a string
            delta = incremental_statement(rel.design, args.incremental_column, mark)
            plan = plan_incremental_extract(
                rel.design, args.incremental_column, mark, size(delta)
            )
        else:
            plan = plan_extract(
                rel.design,
                size(select_statement(rel.design)),
                use_sampling=args.use_sampling,
            )
        row = {
            "relation": rel.identifier,
            "query": plan.query,
            "partition_column": plan.partition_column,
            "num_partitions": plan.num_partitions,
            "boundary_query": plan.boundary_query,
        }
        if source is not None:
            target = os.path.join(
                args.output_dir, *rel.identifier.split(".", 1)
            )
            source.read_plan(spark, upstream, plan).write.mode(
                "overwrite"
            ).parquet(target)
            row["output"] = target
            row["rows"] = spark.read.parquet(target).count()
        print(
            json.dumps(row)
        )
    return 0


def cmd_replicate(args) -> int:
    """Incrementally replicate an upstream DuckDB table into the lake.

    Cursor-offset change feed (``sources/duckdb_source.py``) ->
    checkpointed parquet appends: each invocation picks up exactly the
    rows past the checkpointed cursor and exits (availableNow), so a
    cron'd `replicate` is an incremental, exactly-once sync — the
    standing replacement for re-running a full extract per schedule
    (reference: full Sqoop re-extract per pipeline run).

    ``--firehose`` switches bulk tables to the partitioned batch drain
    (``batch_change_feed``): same cursor-offset exactly-once protocol,
    rows flow executor-parallel instead of through the driver.
    """
    from .sources.duckdb_source import register_duckdb_source

    spark = _spark(args)
    register_duckdb_source(spark)
    if args.firehose:
        from .sources.duckdb_source import batch_change_feed

        result = batch_change_feed(
            spark,
            args.duckdb_path,
            args.table,
            args.cursor_column,
            args.target_dir,
            num_partitions=args.num_partitions,
            state_dir=args.checkpoint_dir,
        )
        print(json.dumps({"table": args.table, "mode": "firehose", **result}))
        return 0
    stream = (
        spark.readStream.format("duckdb")
        .option("path", args.duckdb_path)
        .option("table", args.table)
        .option("cursor_column", args.cursor_column)
        .load()
    )
    ckpt = args.checkpoint_dir or (args.target_dir.rstrip("/") + "_checkpoint")
    q = (
        stream.writeStream.format("parquet")
        .option("path", args.target_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    appended = sum(p.numInputRows for p in q.recentProgress)
    print(
        json.dumps(
            {
                "table": args.table,
                "target": args.target_dir,
                "checkpoint": ckpt,
                "rows_appended": appended,
            }
        )
    )
    return 0


def cmd_unload(args) -> int:
    from .sinks.unload import unload

    spark = _spark(args)
    for rel in _relations(args, args.patterns):
        df = spark.table(rel.identifier)
        target = os.path.join(args.repo, "unload", rel.table_name.schema, rel.table_name.table)
        manifest = unload(df, target, allow_overwrite=args.force)
        print(f"unloaded {rel.identifier} -> {manifest}")
    return 0


def cmd_run_query(args) -> int:
    from .functions.compat import rewrite_redshift_sql

    rels = {r.identifier: r for r in _relations(args)}
    rel = rels[args.relation.lower()]
    spark = _spark(args)
    df = spark.sql(rewrite_redshift_sql(rel.sql())).limit(args.limit)
    df.show(truncate=False)
    if args.metrics:
        from .plans.metrics import scan_summary

        print(json.dumps(scan_summary(df)))
    return 0


def cmd_build_vector_index(args) -> int:
    """Build a persistent IVF-PQ index (assignment parquet + bounded JSON
    sidecars) for an embeddings parquet — the run-rarely expensive step of
    the three-stage serving stack."""
    from .vector_index import build_vector_index, load_index, verify_corpus

    spark = _spark(args)
    emb = spark.read.parquet(args.embeddings)
    if args.if_stale and os.path.isdir(args.index_dir):
        try:
            meta, _, _ = load_index(args.index_dir)
            verify_corpus(emb, meta)
        except (OSError, ValueError):
            pass  # missing/unreadable/stale — fall through to the rebuild
        else:
            meta["skipped"] = "fresh"
            print(json.dumps(meta))
            return 0
    meta = build_vector_index(
        spark,
        emb,
        args.index_dir,
        n_centroids=args.centroids,
        n_subspaces=args.subspaces,
        train_iters=args.train_iters,
        train_centroids=args.train_centroids,
        id_col=args.id_col,
        vec_col=args.vec_col,
    )
    print(json.dumps(meta))
    return 0


def cmd_search_vectors(args) -> int:
    """Top-k nearest vectors through a persisted IVF-PQ index: IVF prune
    (nprobe schedule) -> ADC code pool -> exact rerank of only the pool.
    With --queries-file, a query SET runs through one plan
    (search_vectors_batch — measured 14x per-query amortization)."""
    from pyspark.sql import functions as F

    from .vector_index import load_index, search_vectors, search_vectors_batch

    spark = _spark(args)
    emb = spark.read.parquet(args.embeddings)
    meta, _, _ = load_index(args.index_dir)
    if args.queries_file:
        with open(args.queries_file) as fh:
            raw = json.load(fh)
        # JSON keys are strings; restore int ids when every key is one
        # (keeps query_id a long column), otherwise carry them as strings
        # — the r12 int()-cast restriction is gone
        try:
            qdict = {int(k): v for k, v in raw.items()}
        except ValueError:
            qdict = dict(raw)
        result = search_vectors_batch(
            spark, emb, args.index_dir, qdict, k=args.k, nprobe=args.nprobe,
            query_plan=args.query_plan, verify=not args.no_verify,
        )
        result.show(n=args.k * max(len(qdict), 1), truncate=False)
        return 0
    if args.query_id is not None:
        row = emb.filter(
            F.col(meta["id_col"]) == args.query_id
        ).select(meta["vec_col"]).first()
        if row is None:
            print(f"error: no vector with id {args.query_id}", file=sys.stderr)
            return 1
        query = list(row[0])
    else:
        query = [float(x) for x in args.query.split(",")]
    result = search_vectors(
        spark,
        emb,
        args.index_dir,
        query,
        k=args.k,
        nprobe=args.nprobe,
        rerank_pool=args.rerank_pool,
        verify=not args.no_verify,
    )
    result.show(truncate=False)
    return 0


def cmd_diff(args) -> int:
    """Content-level diff of two relations (the blue-green publish gate).

    Exit status 1 when drift exists — usable directly as a CI/publish gate.
    Accepts warehouse table identifiers or parquet paths.
    """
    from pyspark.sql import functions as F

    from .operators.reconcile import table_diff

    spark = _spark(args)

    def load(name):
        if os.path.sep in name or name.endswith(".parquet"):
            return spark.read.parquet(name)
        return spark.table(name)

    diff = table_diff(load(args.relation_a), load(args.relation_b), args.keys)
    counts = {
        r["diff_kind"]: r["n"]
        for r in diff.groupBy("diff_kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        json.dumps(
            {k: counts.get(k, 0) for k in ("added", "removed", "changed")}
        )
    )
    if args.show:
        diff.show(args.limit, truncate=False)
    return 1 if counts else 0


def cmd_check_constraints(args) -> int:
    from .errors import FailedConstraintError
    from .operators.constraints import check_all_constraints

    spark = _spark(args)
    bad = 0
    for rel in _relations(args, args.patterns):
        if not rel.design.constraints:
            continue
        try:
            check_all_constraints(spark.table(rel.identifier), rel.design)
            print(f"OK {rel.identifier}")
        except FailedConstraintError as exc:
            bad += 1
            print(f"FAIL {exc}")
    return 1 if bad else 0


def cmd_explain(args) -> int:
    from .functions.compat import rewrite_redshift_sql
    from .plans.lint import lint_plan, plan_text

    spark = _spark(args)
    for rel in _relations(args, args.patterns):
        if not rel.is_transformation:
            continue
        df = spark.sql(rewrite_redshift_sql(rel.sql()))
        print(f"-- {rel.identifier}")
        print(plan_text(df, mode="cost" if args.cost else "formatted"))
        for w in lint_plan(df):
            print(f"WARNING {w}")
    return 0


def cmd_show_lineage(args) -> int:
    """Column-level lineage: which source columns feed each output column."""
    import json

    from .functions.compat import rewrite_redshift_sql
    from .plans.lineage import column_lineage

    spark = _spark(args)
    for rel in _relations(args, args.patterns):
        if not rel.is_transformation:
            continue
        df = spark.sql(rewrite_redshift_sql(rel.sql()))
        print(f"-- {rel.identifier}")
        for col, srcs in column_lineage(df).items():
            print(f"  {col} <- {', '.join(srcs) if srcs else '(derived)'}")
    return 0


def cmd_show_ddl(args) -> int:
    from .ddl import render_ddl

    for rel in _relations(args, args.patterns):
        print(render_ddl(rel.design, rel.query or ""))
        print()
    return 0


def cmd_show_downstream(args) -> int:
    from .relations import find_dependents, order_by_dependencies, sanitize_dependencies

    rels = _relations(args)
    sanitize_dependencies(rels)
    ordered = order_by_dependencies(rels)
    sel = TableSelector(args.patterns)
    seeds = [r for r in ordered if sel.match(r.table_name)]
    for rel in seeds + find_dependents(ordered, seeds):
        print(f"{rel.execution_order:4d} L{rel.execution_level} {rel.identifier}")
    return 0


def cmd_show_dbt_downstream(args) -> int:
    """dbt models affected by a change to the selected relations.

    Reference parity: etl/dbt.py (find_arthur_leaf_dbt_childs +
    render_dbt_list), driven from dbt's manifest.json artifact instead of a
    dockerized dbt run.
    """
    from .dbt import DbtManifest, find_db_source_models, render_dbt_list
    from .relations import sanitize_dependencies

    rels = _relations(args)
    sanitize_dependencies(rels)
    sel = TableSelector(args.patterns)
    idents = [r.identifier for r in rels if sel.match(r.table_name)]
    if not idents:
        print("no matching relations")
        return 1
    affected = []
    if args.manifest:
        manifest = DbtManifest.load(args.manifest)
        affected = manifest.downstream_models(idents)
        for line in render_dbt_list(affected):
            print(line)
    leaves = []
    if args.dbt_sql_root:
        leaves = find_db_source_models(args.dbt_sql_root, idents)
        for name in leaves:
            print(f"{name} # db_source leaf")
    print(
        f"dbt impact: {len(affected)} downstream model(s), "
        f"{len(leaves)} db_source leaf model(s) for {len(idents)} relation(s)"
    )
    return 0


def cmd_show_upstream(args) -> int:
    from .relations import order_by_dependencies, sanitize_dependencies

    rels = _relations(args)
    sanitize_dependencies(rels)
    ordered = order_by_dependencies(rels)
    sel = TableSelector(args.patterns)
    by_name = {r.identifier: r for r in ordered}
    seen: List[str] = []

    def walk(ident: str) -> None:
        for dep in by_name[ident].dependencies:
            if dep not in seen:
                seen.append(dep)
                walk(dep)

    for rel in ordered:
        if sel.match(rel.table_name):
            walk(rel.identifier)
            print(rel.identifier)
    for ident in seen:
        print(f"  <- {ident}")
    return 0


def cmd_create_schemas(args) -> int:
    from .loader import create_schema

    spark = _spark(args)
    for rel in _relations(args):
        create_schema(spark, rel.table_name.schema)
    print("schemas created")
    return 0


def cmd_create_index(args) -> int:
    rels = _relations(args, args.patterns)
    print("# Relation index\n")
    current_schema = None
    for rel in rels:
        if rel.table_name.schema != current_schema:
            current_schema = rel.table_name.schema
            print(f"\n## {current_schema}\n")
        keys = [
            f"{ctype}({', '.join(cols)})" for ctype, cols in rel.design.constraint_items()
        ]
        print(f"- **{rel.identifier}** ({rel.kind}) {' '.join(keys)}")
        for c in rel.design.unskipped_columns:
            print(f"  - `{c.name}` {c.type}")
    return 0


def cmd_bootstrap_transformations(args) -> int:
    from .bootstrap import bootstrap_transformation_design
    from .repo import write_design

    spark = _spark(args)
    with open(args.sql_file) as fh:
        query = fh.read()
    design = bootstrap_transformation_design(
        spark, args.relation, query, as_view=args.as_view
    )
    path = write_design(args.repo, design.to_dict(), query)
    print(f"wrote {path}")
    return 0


def cmd_bootstrap_sources(args) -> int:
    from .bootstrap import bootstrap_source_design
    from .repo import write_design

    spark = _spark(args)
    df = spark.read.parquet(args.data)
    design = bootstrap_source_design(df, args.relation, args.source_name or "static.local")
    path = write_design(args.repo, design.to_dict())
    print(f"wrote {path}")
    return 0


def cmd_vacuum(args) -> int:
    from .loader import vacuum_lake

    spark = _spark(args)
    removed = vacuum_lake(spark, os.path.join(args.repo, "lake"))
    print(f"vacuum: removed {len(removed)} unreferenced lake version(s)")
    return 0


def cmd_serve_events(args) -> int:
    """Serve the live event-monitor dashboard over HTTP (reference
    monitor.py:433-575): HTML summary+tail at /, JSON at /api/events,
    /api/summary, /api/tail.  Blocks until Ctrl-C."""
    from .monitor import EventStore, serve_events

    store = EventStore(os.path.join(args.repo, "events.jsonl"))
    server = serve_events(store, host=args.host, port=args.port)
    host, port = server.server_address
    print(f"monitor: serving events at http://{host}:{port}/ (Ctrl-C stops)")
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        pass
    finally:
        server.shutdown()
    return 0


def cmd_show_versions(args) -> int:
    """List each selected table's on-disk lake versions (etl_id, files,
    bytes, current marker) — the inspection half of per-table rollback."""
    from .loader import table_versions

    spark = _spark(args)
    ctx = _ctx(args, spark)
    for rel in _relations(args, args.patterns):
        versions = table_versions(ctx, rel)
        if not versions:
            print(f"{rel.identifier}: no lake versions on disk")
            continue
        for v in versions:
            marker = " *current" if v["is_current"] else ""
            print(
                f"{rel.identifier}: etl_id={v['etl_id']} "
                f"files={v['n_files']} bytes={v['bytes']}{marker}"
            )
    return 0


def cmd_rollback(args) -> int:
    """Re-point selected tables at an older lake version (metadata-only,
    atomic; refuses schema drift and already-current targets).  Compose
    with `vacuum` to collect the abandoned newer version afterwards."""
    from .loader import rollback_table

    spark = _spark(args)
    ctx = _ctx(args, spark)
    rc = 0
    for rel in _relations(args, args.patterns):
        try:
            info = rollback_table(ctx, rel, args.to_etl_id)
            print(
                f"{rel.identifier}: rolled back to etl_id={info['etl_id']} "
                f"({info['rows']} rows)"
            )
        except Exception as exc:  # noqa: BLE001 - per-relation error rows
            print(f"{rel.identifier}: ERROR {exc}")
            rc = 1
    return rc


def cmd_compact(args) -> int:
    """Rewrite selected tables' storage into ~target-size files (checksum-
    verified, atomic re-register) — the lake-maintenance pass for tables
    fragmented by incremental merges and streaming micro-batches."""
    from .loader import compact_table

    spark = _spark(args)
    ctx = _ctx(args, spark)
    n = 0
    for rel in _relations(args, args.patterns):
        if not spark.catalog.tableExists(
            f"`{rel.table_name.schema}`.`{rel.table_name.table}`"
        ):
            print(f"{rel.identifier}: not loaded — skipped")
            continue
        before, after = compact_table(
            ctx, rel, target_file_bytes=args.target_mb << 20
        )
        state = "compacted" if after < before else "already compact"
        print(f"{rel.identifier}: {before} -> {after} file(s) ({state})")
        n += 1
    print(f"compact: processed {n} relation(s)")
    return 0


def cmd_maintain(args) -> int:
    """Threshold-gated lake maintenance: probe every selected table's
    fragmentation (metadata-only) and compact only past the measured-tax
    threshold — the scheduled/post-update analog of the reference's
    vacuum-after-update (python/etl/load.py:1360-1367)."""
    from .loader import maintain_warehouse

    spark = _spark(args)
    ctx = _ctx(args, spark)
    reports = maintain_warehouse(
        ctx, _relations(args, args.patterns),
        target_file_bytes=args.target_mb << 20,
    )
    for ident, rep in sorted(reports.items()):
        if rep.get("error"):
            # per-table containment row (loader.maintain_warehouse): the
            # sweep must report the failure and keep printing the rest
            state = f"maintenance failed: {rep['error']}"
        elif rep.get("exempt"):
            state = "exempt (bucketed/partitioned layout)"
        elif rep.get("compacted"):
            state = f"compacted {rep['files']} -> {rep['files_after']} file(s)"
        elif rep.get("fragmented"):
            state = "fragmented but compaction did not shrink it"
        else:
            state = f"ok ({rep.get('files')} file(s))"
        print(f"{ident}: {state}")
    n_comp = sum(1 for r in reports.values() if r.get("compacted"))
    print(f"maintain: probed {len(reports)}, compacted {n_comp}")
    return 0


def cmd_promote_schemas(args) -> int:
    from .loader import promote_schemas

    spark = _spark(args)
    promote_schemas(_ctx(args, spark), _relations(args, args.patterns))
    print("promoted staging schemas to production")
    return 0


def cmd_restore_schemas(args) -> int:
    """Undo a bad publish: production re-pointed at the backup registrations
    (reference restore_schemas, commands.py:1461-1474)."""
    from .loader import restore_schemas

    spark = _spark(args)
    restored = restore_schemas(
        _ctx(args, spark),
        _relations(args),
        TableSelector(args.patterns) if args.patterns else None,
    )
    if not restored:
        print("nothing to restore (no backup registrations matched)")
        return 1
    for ident in restored:
        print(f"restored {ident}")
    return 0


def cmd_sync(args) -> int:
    """Validate designs, then deploy them to the target directory.

    Reference parity: ``sync`` validates and uploads design files to the S3
    bucket the ETL reads at run time (``commands.py:916``).  Here the
    "bucket" is any directory (NFS/object-store mount): designs are
    syntax+semantics validated first, then copied atomically
    (tmp + rename per file).  Without ``--to``, validation only.
    """
    import shutil

    from .design.validate import load_design
    from .errors import ETLConfigError

    import glob as _glob

    import yaml as _yaml

    design_paths = sorted(
        _glob.glob(os.path.join(args.repo, "schemas", "*", "*.yaml"))
    )
    bad = 0
    for p in design_paths:
        try:
            with open(p) as fh:
                load_design(_yaml.safe_load(fh))
        except (ETLConfigError, Exception) as exc:  # noqa: BLE001
            bad += 1
            print(f"INVALID {p}: {exc}")
    if bad:
        print(f"sync aborted: {bad} invalid design(s)")
        return 1
    if not getattr(args, "to", None):
        print(f"sync: {len(design_paths)} design(s) valid (no --to target given)")
        return 0
    for p in design_paths:
        rel_path = os.path.relpath(p, args.repo)
        dest = os.path.join(args.to, rel_path)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        tmp = dest + ".tmp"
        shutil.copyfile(p, tmp)
        os.replace(tmp, dest)  # atomic per file
        sql = p[: -len(".yaml")] + ".sql"
        if os.path.exists(sql):
            sql_dest = dest[: -len(".yaml")] + ".sql"
            shutil.copyfile(sql, sql_dest + ".tmp")
            os.replace(sql_dest + ".tmp", sql_dest)
    print(f"synced {len(design_paths)} design(s) to {args.to}")
    return 0


def cmd_events(args) -> int:
    from .monitor import EventStore

    store = EventStore(os.path.join(args.repo, "events.jsonl"))
    if args.command == "query_events":
        rows = store.query(target=args.target)
    elif args.command == "summarize_events":
        rows = store.summarize()
    else:
        # one snapshot drives BOTH the printed tail and the follow start:
        # an event appended mid-print is excluded from the tail and
        # delivered exactly once by the follow — no gap, no duplicate
        follow_from = store.offset()
        rows = store.tail_at(follow_from, args.limit)
    for row in rows:
        print(json.dumps(row, sort_keys=True))
    if args.command == "tail_events" and args.follow:
        # live mode (reference monitor dashboard analog): print the tail,
        # then stream rows as the ETL appends them
        try:
            for row in store.follow(
                poll_interval=args.poll_interval,
                timeout=args.follow_seconds,
                from_offset=follow_from,
            ):
                print(json.dumps(row, sort_keys=True), flush=True)
        except KeyboardInterrupt:
            pass
    return 0


def _config(args):
    from .config import WarehouseConfig

    path = os.path.join(args.repo, "config.yaml")
    if os.path.exists(path):
        return WarehouseConfig.load(path)
    return WarehouseConfig()


def cmd_show_value(args) -> int:
    """Resolved value of one setting (reference commands.py:1913-1927)."""
    from .config import show_value as show_value_fn
    from .errors import ETLConfigError

    try:
        print(show_value_fn(_config(args), args.name, args.default))
    except ETLConfigError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    return 0


def cmd_show_vars(args) -> int:
    """All template variables and their values (reference show_vars)."""
    from .config import flatten_vars

    variables = flatten_vars(_config(args))
    names = args.names or sorted(variables)
    missing = [n for n in names if n not in variables]
    if missing:
        print(f"error: unknown setting(s): {missing}", file=sys.stderr)
        return 1
    for name in names:
        print(f"{name}={variables[name]}")
    return 0


def cmd_render_template(args) -> int:
    """Render a template from <repo>/templates with ${name} substitution
    (reference commands.py:1891-1910)."""
    from .config import flatten_vars, render_template
    from .errors import ETLConfigError

    tdir = os.path.join(args.repo, "templates")
    if args.list:
        names = (
            sorted(f for f in os.listdir(tdir) if not f.startswith("."))
            if os.path.isdir(tdir)
            else []
        )
        for name in names:
            print(name)
        return 0
    if args.template is None:
        print("error: template name required (or --list)", file=sys.stderr)
        return 2
    path = (
        args.template
        if os.path.sep in args.template and os.path.exists(args.template)
        else os.path.join(tdir, args.template)
    )
    if not os.path.exists(path):
        print(f"error: no such template: {args.template}", file=sys.stderr)
        return 1
    with open(path) as fh:
        text = fh.read()
    try:
        print(render_template(text, flatten_vars(_config(args))), end="")
    except ETLConfigError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    return 0


def cmd_create_external_schemas(args) -> int:
    """Attach every configured external schema at its catalog location
    (reference commands.py:1374-1398 CreateExternalSchemasCommand →
    data_warehouse.create_external_schemas)."""
    import fnmatch

    cfg = _config(args)
    externals = cfg.external_schemas
    if args.patterns:
        names = {s.name for s in externals}
        for pat in args.patterns:
            if not any(fnmatch.fnmatch(n, pat.lower()) for n in names):
                print(
                    f"error: selected schema is not external: {pat}",
                    file=sys.stderr,
                )
                return 2
        externals = [
            s
            for s in externals
            if any(fnmatch.fnmatch(s.name, p.lower()) for p in args.patterns)
        ]
    if not externals:
        print("no external schemas configured", file=sys.stderr)
        return 1
    from .errors import ETLRuntimeError
    from .loader import attach_external_schema

    spark = _spark(args)
    ctx = _ctx(args, spark)
    rc = 0
    for schema in externals:
        if not schema.s3_path:
            print(
                f"error: external schema {schema.name} has no s3_path",
                file=sys.stderr,
            )
            rc = 1
            continue
        try:
            attached = attach_external_schema(ctx, schema.name, schema.s3_path)
        except ETLRuntimeError as exc:
            print(f"error: {exc}", file=sys.stderr)
            rc = 1
            continue
        for identifier in attached:
            print(f"attached {identifier}")
    return rc


def cmd_run_sql_template(args) -> int:
    """Render a SQL template with settings substitution and EXECUTE it via
    the dialect shim (reference commands.py:775-820 RunSqlCommand —
    render_sql + run_statement_with_args + print_result)."""
    from .config import flatten_vars, render_template
    from .errors import ETLConfigError
    from .functions.compat import rewrite_redshift_sql

    tdir = os.path.join(args.repo, "templates")
    if args.list:
        names = (
            sorted(
                f
                for f in os.listdir(tdir)
                if f.endswith(".sql") and not f.startswith(".")
            )
            if os.path.isdir(tdir)
            else []
        )
        for name in names:
            print(name)
        return 0
    if args.template is None:
        print("error: template name required (or --list)", file=sys.stderr)
        return 2
    name = args.template
    if not name.endswith(".sql"):
        name += ".sql"
    path = (
        args.template
        if os.path.sep in args.template and os.path.exists(args.template)
        else os.path.join(tdir, name)
    )
    if not os.path.exists(path):
        print(f"error: no such SQL template: {args.template}", file=sys.stderr)
        return 1
    with open(path) as fh:
        text = fh.read()
    try:
        rendered = render_template(text, flatten_vars(_config(args)))
    except ETLConfigError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    spark = _spark(args)
    df = spark.sql(rewrite_redshift_sql(rendered))
    print(f"Running template: '{args.template}'")
    df.show(args.limit, truncate=False)
    return 0


def cmd_list_tags(args) -> int:
    """All schema tags in the configuration (reference commands.py:1868-1885
    ListTagsCommand → config.get_tags)."""
    from .config import get_tags

    tags = get_tags(_config(args))
    if tags:
        print("Tags:\n" + ", ".join(f"'{t}'" for t in tags))
    else:
        print("No tags found")
    return 0


def cmd_disk_usage(args) -> int:
    """Per-table lake storage report (reference
    templates/sql/disk_usage.sql over svv_table_info, recomputed from the
    lake + catalog instead of warehouse system tables): production tables
    with file count, storage MB, and whether a backup/staging copy holds
    additional versions."""
    import fnmatch

    from .loader import table_location
    from .names import BACKUP_PREFIX, is_staging

    spark = _spark(args)
    dbs = [r["namespace"] for r in spark.sql("SHOW DATABASES").collect()]
    prod = [
        d
        for d in dbs
        if not d.startswith(BACKUP_PREFIX) and not is_staging(d) and d != "default"
    ]

    def table_bytes(identifier):
        try:
            loc = table_location(spark, identifier)
        except Exception:
            return None, 0, 0
        if not loc:
            return None, 0, 0
        if "://" in loc:
            scheme = loc.split("://", 1)[0]
            # Non-local location (s3a://, hdfs://...): measure through the
            # Hadoop FileSystem API — os.walk would silently report 0 and
            # an empty table is indistinguishable from an unmeasured one.
            try:
                jvm = spark._jvm
                jsc = spark.sparkContext._jsc
                p = jvm.org.apache.hadoop.fs.Path(loc)
                fs = p.getFileSystem(jsc.hadoopConfiguration())
                summary = fs.getContentSummary(p)
                return loc, int(summary.getFileCount()), int(summary.getLength())
            except Exception:
                print(
                    f"warning: cannot measure {loc} ({scheme}://) — "
                    "reporting storage_mb=null",
                    file=sys.stderr,
                )
                return loc, None, None
        n_files = total = 0
        for root, _, files in os.walk(loc):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                n_files += 1
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return loc, n_files, total

    rows = []
    for db in sorted(prod):
        for trow in spark.sql(f"SHOW TABLES IN {db}").collect():
            name = trow["tableName"]
            ident = f"`{db}`.`{name}`"
            if args.patterns and not any(
                fnmatch.fnmatch(f"{db}.{name}", p.lower()) for p in args.patterns
            ):
                continue
            loc, n_files, total = table_bytes(ident)
            if loc is None:
                continue
            from .names import as_backup, as_staging

            rows.append(
                {
                    "schema": db,
                    "table": name,
                    "n_files": n_files,
                    "storage_mb": None
                    if total is None
                    else round(total / (1 << 20), 3),
                    "has_backup": f"etl_backup__{db}" in dbs
                    and spark.catalog.tableExists(f"{as_backup(db)}.{name}"),
                    "has_staging": f"etl_staging__{db}" in dbs
                    and spark.catalog.tableExists(f"{as_staging(db)}.{name}"),
                }
            )
    for r in rows:
        print(json.dumps(r, sort_keys=True))
    if not rows:
        print("no tables found", file=sys.stderr)
        return 1
    return 0


def cmd_terminate_builds(args) -> int:
    """List or cancel registered builds (the warehouse-session kill analog,
    reference TerminateSessionsCommand): every load/upgrade/update runs
    under a registered Spark job group; dropping its cancel marker makes
    the building process cancel that group, interrupting in-flight jobs."""
    from .jobcontrol import list_builds, request_cancel

    builds = list_builds(args.repo)
    targets = list(args.groups)
    if args.all:
        targets = [b["group"] for b in builds if b["alive"]]
    if not targets:
        if not builds:
            print("no registered builds")
            return 0
        for b in builds:
            state = "running" if b["alive"] else "stale"
            if b["cancel_requested"]:
                state += ", cancel requested"
            print(f"{b['group']}  pid={b['pid']}  [{state}]")
        return 0
    rc = 0
    for group in targets:
        if request_cancel(args.repo, group):
            print(f"cancel requested: {group}")
        else:
            print(f"error: no such build: {group}", file=sys.stderr)
            rc = 1
    return rc


class _ArgumentParser(argparse.ArgumentParser):
    def error(self, message):
        # argparse words a mutually exclusive group conflict as "not allowed with"
        super().error(message.replace("not allowed with", "mutually exclusive with"))


def build_parser() -> argparse.ArgumentParser:
    p = _ArgumentParser(prog="arthur-spark", description=__doc__)
    p.add_argument("--repo", default=".", help="design repository root")
    p.add_argument("--version", action="version", version=__version__)
    sub = p.add_subparsers(dest="command", required=True)

    def add(name, fn, patterns=True, **kw):
        sp = sub.add_parser(name, **kw)
        if patterns:
            sp.add_argument("patterns", nargs="*", help="schema[.table] glob patterns")
        sp.set_defaults(fn=fn)
        return sp

    add("initialize", cmd_initialize, patterns=False)
    add("ls", cmd_ls)
    add("ping", cmd_ping, patterns=False)
    add("selftest", cmd_selftest, patterns=False)
    sp = add("validate", cmd_validate)
    sp.add_argument(
        "--upstream-url",
        help="JDBC url; also check source designs against live upstream metadata",
    )
    sp.add_argument("--upstream-driver", help="JDBC driver class for --upstream-url")
    sp = add("load", cmd_load)
    sp.add_argument("--required", nargs="*", help="required-for-success patterns")
    sp.add_argument("--job-group", help="cancellable job-group name "
                                        "(see terminate_builds)")
    sp = add("upgrade", cmd_upgrade)
    sp.add_argument("--only-selected", action="store_true")
    sp.add_argument("--continue-from")
    sp.add_argument("--job-group", help="cancellable job-group name")
    sp = add("update", cmd_update)
    sp.add_argument("--merge-delta", help="parquet path of a delta to MERGE")
    sp.add_argument("--merge-keys", default="", help="comma-separated merge keys")
    sp.add_argument("--refresh-partitions", metavar="PREDICATE",
                    help="SQL filter over the partition columns: re-run the "
                         "transformation for that slice and dynamically "
                         "overwrite only the touched partitions")
    sp.add_argument("--with-maintain", action="store_true",
                    help="run the threshold-gated compaction sweep after "
                         "publish (reference run_vacuum analog; default "
                         "leaves it to the scheduled `maintain` verb)")
    sp.add_argument("--job-group", help="cancellable job-group name")
    sp = add("scrub", cmd_scrub)
    sp.add_argument("--requests", required=True,
                    help="parquet path holding the request keys")
    sp.add_argument("--key", required=True, help="key column to scrub on")
    sp = add("extract", cmd_extract)
    sp.add_argument("--use-sampling", action="store_true",
                    help="extract 10%% of rows (MOD(key, 10) = 1) from "
                         "tables whose probed size is over 100 MiB; the "
                         "dry plan assumes 640 MiB")
    sp.add_argument("--incremental-column",
                    help="watermark column for delta-only extract")
    sp.add_argument("--last-seen",
                    help="previous high-water mark (int or ISO timestamp)")
    sp.add_argument("--last-seen-type", default="auto",
                    choices=["auto", "string", "int", "float"],
                    help="how to interpret --last-seen; 'string' stops "
                         "numeric-looking varchar marks ('0050', '1e5') "
                         "being coerced to numbers")
    upstream = sp.add_mutually_exclusive_group()
    upstream.add_argument("--duckdb-path",
                          help="RUN the extract against this DuckDB upstream "
                               "instead of only printing the plan")
    upstream.add_argument("--sqlite-path",
                          help="RUN the extract against this SQLite upstream "
                               "(same plan, second transport)")
    sp.add_argument("--output-dir",
                    help="lake directory for upstream extracts "
                         "(<dir>/<schema>/<table> parquet per relation)")
    sp = add("replicate", cmd_replicate, patterns=False)
    sp.add_argument("--duckdb-path", required=True)
    sp.add_argument("--table", required=True)
    sp.add_argument("--cursor-column", required=True,
                    help="strictly-increasing id/event-time column; the "
                         "checkpoint stores it as the stream offset")
    sp.add_argument("--target-dir", required=True)
    sp.add_argument("--checkpoint-dir",
                    help="default: <target-dir>_checkpoint")
    sp.add_argument("--firehose", action="store_true",
                    help="drain through the partitioned batch extract "
                         "(executor-parallel Arrow reads, same "
                         "exactly-once cursor protocol) instead of the "
                         "driver-side stream reader — use for bulk "
                         "tables (measured 8.6x driver tax on the "
                         "stream path)")
    sp.add_argument("--num-partitions", type=int, default=4,
                    help="key ranges per firehose drain (default 4)")
    sp = add("unload", cmd_unload)
    sp.add_argument("--force", action="store_true")
    sp = add("run_query", cmd_run_query, patterns=False)
    sp.add_argument("relation")
    sp.add_argument("--metrics", action="store_true",
                    help="print scan/output SQLMetrics of the executed plan")
    sp.add_argument("--limit", type=int, default=20)
    add("check_constraints", cmd_check_constraints)
    sp = add("build_vector_index", cmd_build_vector_index, patterns=False)
    sp.add_argument("--embeddings", required=True,
                    help="parquet path of the (id, vector) corpus")
    sp.add_argument("--index-dir", required=True,
                    help="output directory for the index artifacts")
    sp.add_argument("--centroids", type=int, default=4,
                    help="IVF coarse centroids / PQ codewords (default 4)")
    sp.add_argument("--subspaces", type=int, default=4,
                    help="PQ subspaces; must divide the vector dim")
    sp.add_argument("--train-iters", type=int, default=2,
                    help="exact-integer Lloyd steps for the PQ codebooks "
                         "(0 = seed-only; measured recall lift in SCALE.md)")
    sp.add_argument("--train-centroids", type=int, default=2,
                    help="Lloyd steps for the COARSE quantizer (whole-"
                         "vector L2 kmeans; 0 = seed centroids + cosine "
                         "assignment, the pre-r13 behavior)")
    sp.add_argument("--if-stale", action="store_true",
                    help="skip the rebuild when an index already exists "
                         "whose corpus fingerprint matches the embeddings")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp = add("search_vectors", cmd_search_vectors, patterns=False)
    sp.add_argument("--embeddings", required=True,
                    help="parquet path of the indexed corpus")
    sp.add_argument("--index-dir", required=True,
                    help="directory written by build_vector_index")
    g = sp.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="comma-separated float vector")
    g.add_argument("--query-id", type=int,
                   help="use this corpus row's vector as the query")
    g.add_argument("--queries-file",
                   help="JSON file {query_id: [floats]} — the whole set "
                        "runs through ONE plan (batch path)")
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--nprobe", type=int, default=2,
                    help="coarse lists to probe (recall/cost knob)")
    sp.add_argument("--rerank-pool", type=int, default=25,
                    help="ADC candidates kept for the exact rerank")
    sp.add_argument("--query-plan", default="auto",
                    choices=["auto", "literal", "broadcast"],
                    help="batch path only: how the query set reaches the "
                         "executors (auto switches at the measured "
                         "literal-vs-broadcast crossover)")
    sp.add_argument("--no-verify", action="store_true",
                    help="skip the corpus-fingerprint staleness check")
    sp = add("diff", cmd_diff, patterns=False)
    sp.add_argument("relation_a", help="table identifier or parquet path (old)")
    sp.add_argument("relation_b", help="table identifier or parquet path (new)")
    sp.add_argument("--keys", nargs="+", required=True, help="join key columns")
    sp.add_argument("--show", action="store_true", help="print drifted keys")
    sp.add_argument("--limit", type=int, default=20)
    sp = add("explain", cmd_explain)
    sp.add_argument("--cost", action="store_true",
                    help="show CBO row-count/size statistics per operator")
    add("show_lineage", cmd_show_lineage)
    add("show_ddl", cmd_show_ddl)
    add("show_downstream_dependents", cmd_show_downstream)
    add("show_upstream_dependencies", cmd_show_upstream)
    sp = add("show_dbt_downstream", cmd_show_dbt_downstream)
    sp.add_argument("--manifest", help="path to a dbt manifest.json artifact")
    sp.add_argument(
        "--dbt-sql-root", help="dbt project dir to scan for db_source() leaf models"
    )
    add("create_schemas", cmd_create_schemas)
    add("promote_schemas", cmd_promote_schemas)
    add("restore_schemas", cmd_restore_schemas)
    add("vacuum", cmd_vacuum, patterns=False)
    add("show_versions", cmd_show_versions)
    sp = add("serve_events", cmd_serve_events, patterns=False)
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8086)
    sp = add("rollback", cmd_rollback)
    sp.add_argument("--to-etl-id", required=True,
                    help="the lake version (etl_id) to make current")
    sp = add("compact", cmd_compact)
    sp.add_argument("--target-mb", type=int, default=128,
                    help="target file size in MiB (default 128)")
    sp = add("maintain", cmd_maintain)
    sp.add_argument("--target-mb", type=int, default=128,
                    help="target file size in MiB (default 128)")
    add("create_index", cmd_create_index)
    sp = add("bootstrap_transformations", cmd_bootstrap_transformations, patterns=False)
    sp.add_argument("relation")
    sp.add_argument("sql_file")
    sp.add_argument("--as-view", action="store_true")
    sp = add("bootstrap_sources", cmd_bootstrap_sources, patterns=False)
    sp.add_argument("relation")
    sp.add_argument("data")
    sp.add_argument("--source-name")
    sp = add("sync", cmd_sync, patterns=False)
    sp.add_argument("--to", help="deploy target directory (validate-only if omitted)")
    sp = add("query_events", cmd_events, patterns=False)
    sp.add_argument("--target")
    add("summarize_events", cmd_events, patterns=False)
    sp = add("tail_events", cmd_events, patterns=False)
    sp.add_argument("--limit", type=int, default=10)
    sp.add_argument("--follow", action="store_true",
                    help="stream new events as the ETL appends them")
    sp.add_argument("--poll-interval", type=float, default=0.5)
    sp.add_argument("--follow-seconds", type=float, default=None,
                    help="stop following after this many seconds "
                         "(default: follow until interrupted)")
    sp = add("show_value", cmd_show_value, patterns=False)
    sp.add_argument("name", help="dotted setting path, e.g. settings.etl.max_concurrency")
    sp.add_argument("default", nargs="?", help="value if the setting is unset")
    sp = add("show_vars", cmd_show_vars, patterns=False)
    sp.add_argument("names", nargs="*", help="restrict to these settings")
    sp = add("render_template", cmd_render_template, patterns=False)
    sp.add_argument("template", nargs="?", help="name under <repo>/templates or a path")
    sp.add_argument("-l", "--list", action="store_true", help="list available templates")
    add("create_external_schemas", cmd_create_external_schemas)
    sp = add("run_sql_template", cmd_run_sql_template, patterns=False)
    sp.add_argument("template", nargs="?",
                    help="SQL template under <repo>/templates or a path")
    sp.add_argument("-l", "--list", action="store_true",
                    help="list available SQL templates")
    sp.add_argument("--limit", type=int, default=50,
                    help="max result rows to print")
    add("list_tags", cmd_list_tags, patterns=False)
    add("disk_usage", cmd_disk_usage)
    sp = add("terminate_builds", cmd_terminate_builds, patterns=False)
    sp.add_argument("groups", nargs="*", help="job-group names to cancel "
                                              "(none: list builds)")
    sp.add_argument("--all", action="store_true",
                    help="cancel every live registered build")
    return p


def main(argv: Optional[List[str]] = None) -> int:
    try:
        args = build_parser().parse_args(argv)
    except SystemExit as exc:  # usage error, --help or --version
        return exc.code
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())


def main_entry() -> None:  # console-script entry point (pyproject.toml)
    sys.exit(main())
