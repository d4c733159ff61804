"""Semantic invariants for the corpus-preparation operators
(operators/corpus.py) beyond the oracle equality checks:

- packing: bins are contiguous in id order, every bin but a shard's last
  starts before the budget boundary it fills past;
- funnel: remaining counts are monotone non-increasing and drops sum to
  total minus final remaining;
- domain mix: n_after <= n_before, and the smallest domain survives whole;
- decontamination: eval documents never appear in the output.
"""

import pytest
from pyspark.sql import functions as F

from arthur_redshift_etl_spark.operators import corpus as cp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pack_bins_fill_to_budget(spark, docs):
    budget = 512
    out = cp.pack_sequences(docs, budget=budget, shards=8).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.bin_id)
        # bins are consecutive from 0 (contiguous stream chunking)
        assert [r.bin_id for r in rows] == list(range(len(rows)))
        # every non-final bin's started tokens reach past its budget
        # boundary (the straddling doc starts in it), i.e. >= budget - max
        # doc size; with contiguous cumsum a bin only closes when crossed
        for r in rows[:-1]:
            assert r.tokens_started > 0
        # token accounting: per-shard sum equals the shard's total tokens
        total = (
            docs.filter(F.col("doc_id") % 8 == shard)
            .select(F.sum(F.size(F.split("text", " "))).alias("s"))
            .collect()[0].s
        )
        assert sum(r.tokens_started for r in rows) == total


def test_funnel_monotone_and_accounted(spark, docs):
    toks = F.split(F.col("text"), " ")
    rules = [
        ("min_tokens", F.size(toks) >= 10),
        ("max_tokens", F.size(toks) <= 40),
        ("distinct", F.size(F.array_distinct(toks)) >= 5),
    ]
    rows = sorted(cp.quality_funnel(docs, rules).collect(), key=lambda r: r.rule_idx)
    total = docs.count()
    prev = total
    for r in rows:
        assert r.dropped >= 0
        assert r.remaining == prev - r.dropped
        prev = r.remaining
    assert total - rows[-1].remaining == sum(r.dropped for r in rows)


def test_domain_mix_bounds(spark, docs):
    rows = cp.domain_mix_resample(docs).collect()
    assert rows, "at least one domain"
    min_before = min(r.n_before for r in rows)
    for r in rows:
        assert 0 <= r.n_after <= r.n_before
        if r.n_before == min_before:
            # rate = 1.0 for the smallest domain: hash < 1.0 * 1e6 always
            assert r.n_after == r.n_before


def test_decontaminate_excludes_eval_docs(spark, docs):
    out = cp.decontaminate_overlap(docs, eval_mod=97)
    assert out.filter(F.col("doc_id") % 97 == 0).count() == 0
    # overlap counts never exceed the doc's own distinct-shingle count
    joined = out.join(
        cp.doc_shingle_hashes(docs).groupBy("doc_id").agg(F.count("*").alias("n_sh")),
        "doc_id",
    )
    assert joined.filter(F.col("n_overlap") > F.col("n_sh")).count() == 0


def test_repetition_stats_ranges(spark, docs):
    rows = cp.repetition_stats(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 < r.top_bigram_frac <= 1.0
        assert 0.0 < r.distinct_token_ratio <= 1.0


def test_short_empty_null_docs_are_safe(spark):
    """sequence(1, size-n+1) counts DOWN when size < n — short/empty/null
    docs must yield empty shingle/bigram sets, not index-0 stage failures."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, ""),
            (3, None),
            (4, "x"),
            (5, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    from arthur_redshift_etl_spark.operators import dedup as dd

    rep = {r.doc_id for r in cp.repetition_stats(df).collect()}
    assert rep == {1, 5}  # no bigrams → no repetition row, no crash
    assert dd.doc_shingle_hashes(df).filter("doc_id in (2,3,4)").count() == 0
    pairs = dd.minhash_dedup_pairs(df).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 5)]


def test_shuffle_shard_is_a_partition_of_the_corpus(spark):
    """corpus_shuffle_shard must be a true permutation: every doc appears
    exactly once, each shard's positions are contiguous 1..n, and the
    within-shard order is deterministic across runs."""
    from arthur_redshift_etl_spark.workload import REGISTRY

    fn = REGISTRY["corpus_shuffle_shard"].fn
    out = fn(spark, "/root/testdata/sf0.001").collect()
    docs = [r["doc_id"] for r in out]
    assert len(docs) == len(set(docs)) == 500
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1)), shard
    # deterministic: a second run returns the identical assignment
    again = fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---- chunk-level dedup + rebuild -----------------------------------------

def test_chunk_dedup_unique_corpus_keeps_everything(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in cp.chunk_dedup_rebuild(docs).collect()}
    # no chunk repeats anywhere -> every chunk kept, rebuild == original
    assert out[1].n_chunks == 2 and out[1].kept_chunks == 2
    assert out[2].n_chunks == 1 and out[2].kept_chunks == 1
    import hashlib

    assert out[1].rebuilt_md5 == hashlib.md5(b"a b c d e f g h i j").hexdigest()


def test_chunk_dedup_verbatim_copy_fully_stripped(spark):
    text = "a b c d e f g h " + "x y z w v u t s"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "fresh tokens only here pad pad pad pad")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in cp.chunk_dedup_rebuild(docs).collect()}
    # doc 2 is a verbatim copy of doc 1 -> every chunk already seen
    assert out[1].kept_chunks == out[1].n_chunks
    assert out[2].kept_chunks == 0
    assert out[2].rebuilt_md5 is None
    assert out[3].kept_chunks == out[3].n_chunks


def test_chunk_dedup_within_doc_repeat_kept_once(spark):
    # the same 8-token chunk twice WITHIN one doc: second occurrence drops
    chunk = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame([(7, chunk + " " + chunk)], ["doc_id", "text"])
    row = cp.chunk_dedup_rebuild(docs).collect()[0]
    assert row.n_chunks == 2 and row.kept_chunks == 1
    import hashlib

    assert row.rebuilt_md5 == hashlib.md5(chunk.encode()).hexdigest()


def test_mix_epochs_exact_beyond_int64(spark, tmp_path):
    """Regression: corpus_mix_epochs' 3*total*w_int intermediate wrapped
    silently in int64 once total char mass passed ~2e8 (w_int ~
    sqrt(chars)*1e6).  The 128-bit (decimal(38,0)) arithmetic must match
    Python's arbitrary-precision integers exactly at a char mass where
    the old path produced garbage."""
    import math

    from arthur_redshift_etl_spark.workload import training

    rows = [
        # (doc_id, text, lang, source, n_chars) — 6e8 total chars
        (1, "x", "en", "web", 500_000_000),
        (2, "x", "en", "books", 90_000_000),
        (3, "x", "en", "code", 10_000_000),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    chars = {"web": 500_000_000, "books": 90_000_000, "code": 10_000_000}
    w = {s: math.floor(math.sqrt(c) * 1_000_000) for s, c in chars.items()}
    total, wsum = sum(chars.values()), sum(w.values())
    # the old int64 intermediate provably wraps at this mass
    assert 3 * total * max(w.values()) > 2**63 - 1
    expect = {}
    for s in chars:
        target = (3 * total * w[s]) // wsum  # exact in Python ints
        epochs = min((target + chars[s] - 1) // chars[s], 4)
        achieved = min(target, 4 * chars[s])
        shortfall = max(target - 4 * chars[s], 0)
        expect[s] = (chars[s], target, epochs, achieved, shortfall)

    out = {
        r["source"]: (
            r["chars"],
            r["target_chars"],
            r["epochs"],
            r["achieved_chars"],
            r["shortfall_chars"],
        )
        for r in training.corpus_mix_epochs(spark, str(tmp_path)).collect()
    }
    assert out == expect
    assert all(v[1] > 0 for v in out.values())  # the wrap produced negatives


def test_temperature_mix_quota_exact_beyond_int64(spark, tmp_path):
    """Same regression for corpus_temperature_mix's n_target*w_int quota
    product: at large doc counts x char mass it exceeded 2^63.  The
    quotas must implement exact largest-remainder (sum == n_target) at a
    scale where int64 would wrap."""
    import math

    from arthur_redshift_etl_spark.workload import training

    # few docs, astronomically heavy: forces w_int ~ 3.1e13 so that even a
    # tiny n_target (2 docs per source here is irrelevant — the product
    # n_target*w_int is what wraps) exercises the decimal path.
    n_docs_per_source = 400_000
    # only quota math touches n_chars aggregates; docs themselves are rows
    chars = {"web": 10**15, "books": 10**13}
    rows = []
    for i, (s, c) in enumerate(sorted(chars.items())):
        per_doc = c // n_docs_per_source
        rows.append((i, s, per_doc))
    # build the doc table compactly with explode to avoid 800k python rows
    src = spark.createDataFrame(rows, ["sid", "source", "per_doc"])
    df = (
        src.withColumn("seq", F.explode(F.sequence(F.lit(1), F.lit(n_docs_per_source))))
        .select(
            (F.col("sid") * n_docs_per_source + F.col("seq")).alias("doc_id"),
            F.lit("x").alias("text"),
            F.lit("en").alias("lang"),
            "source",
            F.col("per_doc").alias("n_chars"),
        )
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    w = {s: math.floor(math.sqrt(c) * 1_000_000) for s, c in chars.items()}
    n_total = 2 * n_docs_per_source
    n_target = (2 * n_total) // 5
    assert n_target * max(w.values()) > 2**63 - 1  # old path wrapped here
    wsum = sum(w.values())
    base = {s: (n_target * w[s]) // wsum for s in chars}
    rem = {s: (n_target * w[s]) % wsum for s in chars}
    extras = n_target - sum(base.values())
    order = sorted(chars, key=lambda s: (-rem[s], s))
    quota = {
        s: base[s] + (1 if order.index(s) < extras else 0) for s in chars
    }

    out = (
        training.corpus_temperature_mix(spark, str(tmp_path))
        .groupBy("source")
        .count()
        .collect()
    )
    got = {r["source"]: r["count"] for r in out}
    assert got == quota
    assert sum(got.values()) == n_target
