#!/usr/bin/env python3
"""Duplicate-heavy MinHash-LSH stress at the next tier (500k docs).

Builds a corpus of ``TARGET_DOCS`` documents from the sf0.1 documents table:
each source doc is replicated into near-dup groups of 10 (variant k deletes
the k-th token), so the true pair inventory is known up front
(``groups × 45``).  Runs the full ``minhash_dedup_pairs`` pipeline through
the lake-checkpoint path (``materialize_dir``) — the configuration the
100 TB deployment would use, where the shingle intermediate outlives
executor memory and task retries re-read parquet instead of recomputing the
shingle pipeline.

Usage:  python scripts/dedup_stress.py [--docs 500000] [--inject-kill]

``--inject-kill`` proves the checkpoint-recovery claim: the session runs
with ``local[N,2]`` (task retries allowed) and an Arrow passthrough stage
injected AFTER the shingle materialization raises on the first attempt of
partition 0 of the verify stage.  Every task attempt drops a
``stage{S}-part{P}-attempt{A}`` marker, and the shingle parquet files'
(mtime, size) are snapshotted right after materialization — so the output
shows (a) the killed task re-ran as attempt 1 in the SAME stage, (b) no
other stage re-executed, and (c) the materialized shingles were re-READ,
not recomputed (files untouched).

Prints one JSON line with stage timings and pair counts; paste the row into
SCALE.md's measured-scaling table.

Cores: SPARK_GRAFT_CPUS, else the process's cores (session.default_cpus).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from arthur_redshift_etl_spark.operators import dedup as dd  # noqa: E402
from arthur_redshift_etl_spark.session import build_session, default_cpus  # noqa: E402

GROUP = 10  # near-dup variants per group


def build_corpus(spark, sf_dir: str, target_docs: int):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").alias("id"), "text"
    )
    n_source = docs.count()
    groups = target_docs // GROUP
    if groups <= n_source:
        base = docs.filter(F.col("id") < groups)
        reps = 1
    else:
        reps = -(-groups // n_source)  # ceil
        base = docs
    replicated = (
        base.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .withColumn("group_id", F.col("id") * reps + F.col("rep"))
        .filter(F.col("group_id") < groups)
        .select("group_id", "text")
    )
    # Salt every token with the group id: groups sharing a base doc become
    # shingle-disjoint, so the true pair inventory is exactly groups × 45
    # (without this, two groups cloned from the same source doc would be
    # near-dups of each other and the inventory would blow up ~100×).
    # Then 10 variants per group: variant v deletes token v (token arrays
    # are longer than GROUP for every doc in this corpus).
    variants = (
        replicated.withColumn(
            "toks",
            F.transform(
                F.split("text", " "),
                lambda x: F.concat(x, F.lit("~"), F.col("group_id").cast("string")),
            ),
        )
        .select(
            "group_id",
            "toks",
            F.posexplode(F.array_repeat(F.lit(1), GROUP)).alias("v", "_one"),
        )
        .select(
            (F.col("group_id") * GROUP + F.col("v")).alias("id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.slice("toks", 1, F.col("v")),
                    F.expr(f"slice(toks, v + 2, size(toks))"),
                ),
            ).alias("text"),
        )
    )
    return variants, groups * GROUP, groups * (GROUP * (GROUP - 1) // 2)


def attempt_tracking_passthrough(df, attempts_dir: str, inject_kill: bool):
    """Arrow passthrough that records (stage, partition, attempt) markers and
    optionally fails partition 0's first attempt to force a task retry."""

    def run(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        marker = os.path.join(
            attempts_dir,
            f"stage{tc.stageId()}-part{tc.partitionId()}"
            f"-attempt{tc.attemptNumber()}",
        )
        open(marker, "w").close()
        if inject_kill and tc.partitionId() == 0 and tc.attemptNumber() == 0:
            raise RuntimeError(
                "injected task kill (dedup-stress checkpoint recovery test)"
            )
        for pdf in batches:
            yield pdf

    return df.mapInPandas(run, df.schema)


def snapshot_files(path: str):
    out = {}
    for root, _dirs, names in os.walk(path):
        for f in names:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=default_cpus())
    ap.add_argument("--inject-kill", action="store_true")
    args = ap.parse_args()

    # local[N,2]: allow one task retry so the injected failure recovers the
    # way a lost executor would on a real cluster
    master = (
        f"local[{args.cpus},2]" if args.inject_kill else f"local[{args.cpus}]"
    )
    spark = build_session(
        app_name="dedup-stress",
        master=master,
        shuffle_partitions=int(args.cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    workdir = tempfile.mkdtemp(prefix="dedup_stress_")
    try:
        t0 = time.perf_counter()
        corpus, n_docs, expected_pairs = build_corpus(
            spark, args.sf_dir, args.docs
        )
        corpus_path = os.path.join(workdir, "corpus")
        # spread the corpus across one file per core — the variant expansion
        # starts from a single source file, and a 1-file corpus would
        # serialize the shingle scan downstream
        corpus.repartition(int(args.cpus)).write.parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        t_build = time.perf_counter() - t0

        shingle_dir = os.path.join(workdir, "shingles")
        t0 = time.perf_counter()
        pairs = dd.minhash_dedup_pairs(
            corpus, id_col="id", materialize_dir=shingle_dir
        )
        # materialization happened inside the call above — snapshot the
        # checkpoint BEFORE the verify job so any recompute would show up
        shingle_snapshot = snapshot_files(shingle_dir)

        attempts_dir = os.path.join(workdir, "attempts")
        os.makedirs(attempts_dir, exist_ok=True)
        pairs = attempt_tracking_passthrough(
            pairs, attempts_dir, inject_kill=args.inject_kill
        )
        n_pairs = pairs.count()
        t_dedup = time.perf_counter() - t0

        shingle_files = len(
            [f for f in os.listdir(shingle_dir) if f.endswith(".parquet")]
        )
        attempts = sorted(os.listdir(attempts_dir))
        retried = [a for a in attempts if not a.endswith("-attempt0")]
        result = {
            "docs": n_docs,
            "expected_near_dup_pairs": expected_pairs,
            "verified_pairs": n_pairs,
            "build_sec": round(t_build, 2),
            "dedup_sec": round(t_dedup, 2),
            "checkpoint_part_files": shingle_files,
            "pairs_per_sec": round(n_pairs / t_dedup),
        }
        if args.inject_kill:
            result["recovery"] = {
                "task_attempts_beyond_first": retried,
                "verify_stage_partitions": len(
                    {a.split("-")[1] for a in attempts}
                ),
                "checkpoint_untouched_after_retry": (
                    snapshot_files(shingle_dir) == shingle_snapshot
                ),
            }
        print(json.dumps(result))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
