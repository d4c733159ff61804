"""Unit tests for the dedup operator family (reference has no analogue —
these are the north-star scale operators; see COVERAGE.md).

The key property for ``ngram_jaccard_join``: prefix filtering is EXACT —
identical pairs to brute-force Jaccard over all document pairs.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from arthur_redshift_etl_spark.operators import dedup as dd


def brute_force_jaccard(docs, n=3, threshold=0.5):
    """All-pairs shingle Jaccard in plain Python."""
    def shingles(text):
        toks = text.split(" ")
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {doc_id: shingles(text) for doc_id, text in docs}
    out = {}
    for (ida, sa), (idb, sb) in itertools.combinations(sorted(sets.items()), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out[(ida, idb)] = j
    return out


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
    (4, "completely different text with no overlap whatsoever here at all"),
    (5, "another unrelated document about spark dataframes and shuffles"),
    (6, "the quick brown fox naps under the lazy dog today somehow"),  # partial
    (7, "a b c"),  # single shingle
    (8, "a b c"),  # its duplicate
]


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_ngram_jaccard_join_matches_brute_force(spark, threshold):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_join(df, threshold=threshold).collect()
    }
    want = brute_force_jaccard(CORPUS, threshold=threshold)
    assert set(got) == set(want)
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)


def test_ngram_jaccard_prefix_prunes_common_shingles(spark):
    """Documents sharing only a very common shingle (below threshold) must
    not survive; rare-shingle near-dups must."""
    docs = [(i, f"common shingle here unique{i} word{i} tail{i}") for i in range(20)]
    docs.append((100, "rare alpha beta gamma delta epsilon"))
    docs.append((101, "rare alpha beta gamma delta zeta"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_join(df, threshold=0.5).collect()}
    assert got == {(100, 101)}


class TestKeepLatest:
    def test_keeps_max_order_per_key(self, spark):
        rows = [
            (1, "a", 10, 100.0),
            (1, "a", 20, 200.0),   # winner for (1, a): higher seq
            (1, "b", 5, 50.0),
            (2, "a", 20, 999.0),
            (2, "a", 20, 111.0),   # same seq — needs a deterministic tiebreak
        ]
        df = spark.createDataFrame(rows, ["k", "sub", "seq", "val"])
        out = dd.keep_latest(df, ["k", "sub"], ["seq", "val"])
        got = {(r["k"], r["sub"]): (r["seq"], r["val"]) for r in out.collect()}
        assert got == {
            (1, "a"): (20, 200.0),
            (1, "b"): (5, 50.0),
            (2, "a"): (20, 999.0),  # val desc breaks the seq tie
        }


class TestConnectedComponents:
    def test_path_graph_needs_iterations(self, spark):
        # a 6-node path: min-label must propagate the full diameter
        from arthur_redshift_etl_spark.operators.clustering import (
            connected_components,
        )

        nodes = spark.createDataFrame([(i,) for i in range(1, 10)], ["node"])
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (8, 9)], ["src", "dst"]
        )
        out = {
            r["node"]: r["component"]
            for r in connected_components(nodes, edges).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7, 8: 8, 9: 8}


class TestSampling:
    def test_split_is_deterministic_and_partitions(self, spark):
        from arthur_redshift_etl_spark.operators.sampling import split_assign

        df = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
        out = split_assign(df, "doc_id").groupBy("split").count().collect()
        counts = {r["split"]: r["count"] for r in out}
        assert sum(counts.values()) == 1000
        # multiplicative hash is roughly uniform: train ~800, valid/test ~100
        assert 700 < counts["train"] < 900
        assert 50 < counts["valid"] < 150
        assert 50 < counts["test"] < 150

    def test_stratified_exact_fraction(self, spark):
        from arthur_redshift_etl_spark.operators.sampling import (
            stratified_sample_exact,
        )

        rows = [(i, "big" if i < 90 else "small") for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = stratified_sample_exact(df, ["source"], "doc_id", 0.2)
        counts = {
            r["source"]: r["count"]
            for r in out.groupBy("source").count().collect()
        }
        assert counts == {"big": 18, "small": 2}  # ceil(0.2 * 90), ceil(0.2 * 10)


def test_merge_upsert_and_scd2(spark):
    from arthur_redshift_etl_spark.operators.merge import (
        latest_per_key,
        scd2_merge,
        upsert,
    )
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, amt int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 21), (4, "d", 40)], "k int, v string, amt int"
    )
    got = {tuple(r) for r in upsert(base, updates, ["k"]).collect()}
    assert got == {(1, "a", 10), (2, "B", 21), (3, "c", 30), (4, "d", 40)}

    cdc = spark.createDataFrame(
        [(1, 5, "x"), (1, 7, "y"), (2, 3, "z")], "k int, seq int, v string"
    )
    latest = {tuple(r) for r in latest_per_key(cdc, ["k"], ["seq"]).collect()}
    assert latest == {(1, 7, "y"), (2, 3, "z")}

    hist = spark.createDataFrame(
        [(1, "old", 0, None), (2, "keep", 0, None)],
        "k int, v string, valid_from int, valid_to int",
    )
    upd = spark.createDataFrame([(1, "new", 5)], "k int, v string, ts int")
    merged = scd2_merge(hist, upd, ["k"], "ts", "valid_from", "valid_to")
    rows = {tuple(r) for r in merged.select("k", "v", "valid_from", "valid_to").collect()}
    assert rows == {
        (1, "old", 0, 5),   # closed by the update
        (2, "keep", 0, None),
        (1, "new", 5, None),
    }


def test_merge_properties_random(spark):
    """Property: upsert(base, delta) == per-key last-writer-wins model.

    Random key/value tables checked against a pure-Python dict model —
    hypothesis-style coverage without per-example Spark session cost (one
    session, many random tables would be slow; a seeded sweep hits the same
    edge cases: empty sides, full overlap, no overlap, duplicate update
    keys collapsed first).
    """
    import random

    from arthur_redshift_etl_spark.operators.merge import latest_per_key, upsert

    rng = random.Random(42)
    for trial in range(8):
        n_base, n_upd = rng.choice([(0, 5), (5, 0), (8, 8), (20, 6)])
        base_rows = [(k, f"b{trial}_{k}") for k in rng.sample(range(30), n_base)]
        upd_rows = [
            (rng.randrange(30), f"u{trial}_{i}", i) for i in range(n_upd)
        ]
        base = spark.createDataFrame(base_rows, "k int, v string") if base_rows else \
            spark.createDataFrame([], "k int, v string")
        upd = spark.createDataFrame(upd_rows, "k int, v string, seq int") if upd_rows else \
            spark.createDataFrame([], "k int, v string, seq int")
        collapsed = latest_per_key(upd, ["k"], ["seq"]).drop("seq")
        got = {(r.k, r.v) for r in upsert(base, collapsed, ["k"]).collect()}
        model = dict(base_rows)
        best = {}
        for k, v, seq in upd_rows:
            if k not in best or seq >= best[k][1]:
                best[k] = (v, seq)
        model.update({k: v for k, (v, _) in best.items()})
        assert got == set(model.items()), f"trial {trial}"


def test_minhash_materialize_dir_equals_persist(spark, tmp_path):
    """The lake-checkpoint path (materialize_dir) returns identical pairs
    to the in-memory persist path."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.minhash_dedup_pairs(docs).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dd.minhash_dedup_pairs(
            docs, materialize_dir=str(tmp_path / "shingles")
        ).collect()
    )
    assert a == b and len(a) > 0


def test_keep_latest_property_matches_pandas_argmax(spark):
    """The max_by-aggregate formulation must pick exactly the row a
    brute-force pandas argmax picks, including under order-column ties
    broken by the trailing column."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        import pytest

        pytest.skip("hypothesis unavailable")

    import pandas as pd

    from arthur_redshift_etl_spark.operators import dedup as dd

    @settings(max_examples=15, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 4),      # key
                st.integers(0, 3),      # ts (deliberately collision-heavy)
                st.integers(0, 1000),   # seq (tie-break)
                st.integers(-5, 5),     # payload
            ),
            min_size=1,
            max_size=60,
            unique_by=lambda r: (r[0], r[1], r[2]),  # (key, ts, seq) unique
        )
    )
    def check(rows):
        pdf = pd.DataFrame(rows, columns=["k", "ts", "seq", "payload"])
        df = spark.createDataFrame(pdf)
        got = {
            r["k"]: (r["ts"], r["seq"], r["payload"])
            for r in dd.keep_latest(df, ["k"], ["ts", "seq"]).collect()
        }
        want = {
            k: tuple(g.sort_values(["ts", "seq"]).iloc[-1][["ts", "seq", "payload"]])
            for k, g in pdf.groupby("k")
        }
        assert got == want

    check()


# ---- two-phase per-group top-k (operators/sampling.py) --------------------

def test_topk_per_group_matches_single_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.sampling import topk_per_group

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("_ord", F.md5(F.col("doc_id").cast("string")))
        # adversarial partitioning: many tiny input partitions, so phase 1
        # produces the max shard count and phase 2 must still dedup ranks
        .repartition(17)
    )
    two_phase = {
        (r.source, r.doc_id): r.sample_rank
        for r in topk_per_group(docs, ["source"], ["_ord", "doc_id"], k=5).collect()
    }
    w = Window.partitionBy("source").orderBy("_ord", "doc_id")
    single = {
        (r.source, r.doc_id): r.rk
        for r in docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    assert two_phase == single


# ---- mergeable HLL sketch (operators/sketch.py) ---------------------------

def test_hll_sketch_merge_and_error_bound(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    whole = sk.hll_registers(events, "user_id")

    # mergeability: sketch(A) UNION sketch(B) re-MAXed == sketch(A ∪ B),
    # even though A and B overlap (MAX is idempotent)
    a = sk.hll_registers(events.filter(F.col("event_id") % 2 == 0), "user_id")
    b = sk.hll_registers(events.filter((F.col("event_id") % 2 == 1) | (F.col("event_id") % 3 == 0)), "user_id")
    merged = (
        a.unionAll(b)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))

    est_row = sk.hll_estimate(whole).collect()[0]
    exact = events.select("user_id").distinct().count()
    # classic HLL standard error is 1.04/sqrt(m) ~ 6.5%; allow 4 sigma
    assert abs(est_row.hll_estimate - exact) <= 4 * sk.hll_error_bound() * exact
    # register state is exact integers and bounded
    assert est_row.m == 256 and 0 < est_row.m_used <= 256
    assert isinstance(est_row.int_sum, int) and est_row.int_sum > 0


# ---- count-min sketch heavy hitters (operators/sketch.py) ------------------

def test_cms_overestimates_and_merges(spark):
    """CMS point estimates never underestimate; sketches over disjoint
    batches merge additively (UNION ALL + SUM == sketch of the union)."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    exact = {r["tok"]: r["n"] for r in
             toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    flat = sk.collect_cms(sk.cms_table(toks, "tok"))
    ests = {
        r["tok"]: r["est"]
        for r in toks.select("tok").distinct()
        .withColumn("est", sk.cms_estimate_col(flat, F.col("tok")))
        .collect()
    }
    assert all(ests[t] >= c for t, c in exact.items())

    a = sk.cms_table(toks.filter(F.length("tok") <= 4), "tok")
    b = sk.cms_table(toks.filter(F.length("tok") > 4), "tok")
    merged = {
        (r["row"], r["col"]): r["cnt"]
        for r in a.unionAll(b).groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt")).collect()
    }
    whole = {
        (r["row"], r["col"]): r["cnt"]
        for r in sk.cms_table(toks, "tok").collect()
    }
    assert merged == whole


def test_heavy_hitters_exact_matches_naive(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    for threshold in (5, 25):
        naive = {
            (r["tok"], r["cnt"])
            for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= threshold).collect()
        }
        fast = {
            (r["tok"], r["cnt"])
            for r in sk.heavy_hitters_exact(toks, "tok", threshold).collect()
        }
        assert fast == naive and len(fast) > 0


# ---- overlapping chunker (operators/text.py) -------------------------------

def test_chunk_overlapping_covers_and_reconstructs(spark):
    """Concatenating chunk[0] + each later chunk minus its overlap prefix
    reconstructs the document exactly; short docs yield one chunk."""
    from arthur_redshift_etl_spark.operators.text import chunk_overlapping

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = chunk_overlapping(docs.select("doc_id", "text"), size=120, overlap=20)
    rows = out.orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(by_doc) == set(originals)
    for doc_id, chunks in by_doc.items():
        rebuilt = chunks[0] + "".join(c[20:] for c in chunks[1:])
        assert rebuilt == originals[doc_id], doc_id

    tiny = spark.createDataFrame([(1, "short")], "doc_id long, text string")
    one = chunk_overlapping(tiny, size=120, overlap=20).collect()
    assert len(one) == 1 and one[0]["chunk"] == "short"


def test_chunk_overlapping_rejects_bad_overlap(spark):
    from arthur_redshift_etl_spark.operators.text import chunk_overlapping
    import pytest as _pytest

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_overlapping(df, size=10, overlap=10)


def test_chunk_overlapping_property_random_params(spark):
    """Random (size, overlap, text length) vs a Python reference: same
    chunk count, same chunk contents, full coverage."""
    import random

    from arthur_redshift_etl_spark.operators.text import chunk_overlapping

    rng = random.Random(7)
    cases = []
    for i in range(40):
        size = rng.randint(2, 40)
        overlap = rng.randint(0, size - 1)
        n = rng.randint(0, 120)
        text = "".join(rng.choice("abcdef ") for _ in range(n))
        cases.append((i, size, overlap, text))

    def ref_chunks(text, size, overlap):
        step = size - overlap
        import math

        n_chunks = max(1, math.ceil(max(0, len(text) - overlap) / step))
        return [text[i * step : i * step + size] for i in range(n_chunks)]

    # group cases by (size, overlap) since the operator takes them as args
    by_params = {}
    for i, size, overlap, text in cases:
        by_params.setdefault((size, overlap), []).append((i, text))
    for (size, overlap), rows in by_params.items():
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in chunk_overlapping(df, size=size, overlap=overlap).collect():
            got.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk"]))
        for doc_id, text in rows:
            chunks = [c for _, c in sorted(got[doc_id])]
            assert chunks == ref_chunks(text, size, overlap), (
                doc_id, size, overlap, text,
            )


def test_sketch_merge_algebra_properties(spark):
    """Hypothesis-style randomized check of the sketch algebras over many
    random 3-way splits: HLL registers merge by MAX (associative,
    idempotent — re-merging a part changes nothing), CMS counters merge
    by SUM (associative; double-merge exactly doubles the delta).  Uses
    one Spark job per sketch and pure-Python recombination so the 60
    random cases stay fast."""
    import random

    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    ).withColumn("h", F.abs(F.xxhash64("tok")))

    # per-row (register, rho) and (cms row, col) — collected once
    h = F.md5(F.col("tok").cast("string"))
    rows = toks.select(
        "h",
        sk._register(h).alias("reg"),
        sk._rho(h).alias("rho"),
        *[sk._cms_col(F.col("tok"), i).alias(f"c{i}") for i in range(sk.CMS_DEPTH)],
    ).collect()

    rng = random.Random(13)
    for _ in range(60):
        # random 3-way split by hash threshold
        t1, t2 = sorted(rng.sample(range(1, 100), 2))
        parts = [[], [], []]
        for r in rows:
            b = 0 if r["h"] % 100 < t1 else (1 if r["h"] % 100 < t2 else 2)
            parts[b].append(r)

        def hll(part):
            regs = {}
            for r in part:
                regs[r["reg"]] = max(regs.get(r["reg"], 0), r["rho"])
            return regs

        def merge_hll(a, b):
            out = dict(a)
            for k, v in b.items():
                out[k] = max(out.get(k, 0), v)
            return out

        whole = hll(rows)
        p = [hll(x) for x in parts]
        assert merge_hll(merge_hll(p[0], p[1]), p[2]) == whole
        assert merge_hll(p[0], merge_hll(p[1], p[2])) == whole
        assert merge_hll(whole, p[1]) == whole  # idempotent re-merge

        def cms(part):
            c = {}
            for r in part:
                for i in range(sk.CMS_DEPTH):
                    key = (i, r[f"c{i}"])
                    c[key] = c.get(key, 0) + 1
            return c

        def merge_cms(a, b):
            out = dict(a)
            for k, v in b.items():
                out[k] = out.get(k, 0) + v
            return out

        whole_c = cms(rows)
        pc = [cms(x) for x in parts]
        assert merge_cms(merge_cms(pc[0], pc[1]), pc[2]) == whole_c
        doubled = merge_cms(whole_c, pc[1])
        assert all(
            doubled[k] == whole_c[k] + pc[1].get(k, 0) for k in doubled
        )


def test_chunk_paragraph_aware_packs_greedily(spark):
    """Paragraph packing vs Python reference on random docs: boundaries
    never split a paragraph, chunks respect the budget (except solo
    oversized paragraphs), order preserved, all text covered."""
    import random

    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.text import chunk_paragraph_aware

    rng = random.Random(3)
    docs = []
    for i in range(30):
        paras = [
            "".join(rng.choice("abcd ") for _ in range(rng.randint(1, 80))).strip() or "x"
            for _ in range(rng.randint(1, 12))
        ]
        docs.append((i, "\n\n".join(paras)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    max_chars = 100

    def ref_pack(text):
        paras = [p.strip() for p in __import__("re").split(r"\n\s*\n", text)]
        paras = [p for p in paras if p]
        chunks, cur, used = [], [], 0
        for p in paras:
            if cur and used + 1 + len(p) <= max_chars:
                cur.append(p)
                used += 1 + len(p)
            else:
                if cur:
                    chunks.append("\n".join(cur))
                cur, used = [p], len(p)
        if cur:
            chunks.append("\n".join(cur))
        return chunks

    got = {}
    for r in chunk_paragraph_aware(df, max_chars=max_chars).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk"]))
    for doc_id, text in docs:
        chunks = [c for _, c in sorted(got[doc_id])]
        assert chunks == ref_pack(text), doc_id


def test_chunk_paragraph_aware_oversized_paragraph_solo(spark):
    from arthur_redshift_etl_spark.operators.text import chunk_paragraph_aware

    df = spark.createDataFrame(
        [(1, "short one\n\n" + "y" * 500 + "\n\nshort two")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["chunk_id"], r["chunk"])
        for r in chunk_paragraph_aware(df, max_chars=100).collect()
    )
    assert [c[:9] for _, c in rows] == ["short one", "yyyyyyyyy", "short two"]


def test_chunk_paragraph_aware_handles_duplicate_rows(spark):
    """Two identical input rows must yield two identical chunk sets —
    chunk assembly is row-local, never a groupBy over input columns
    (which would collapse duplicates and interleave their paragraphs)."""
    from arthur_redshift_etl_spark.operators.text import chunk_paragraph_aware

    df = spark.createDataFrame(
        [("aaa\n\nbbb",), ("aaa\n\nbbb",)], "text string"
    )
    rows = chunk_paragraph_aware(df, max_chars=100).collect()
    assert len(rows) == 2
    assert all(r["chunk"] == "aaa\nbbb" and r["chunk_id"] == 0 for r in rows)
    # empty doc: zero chunks (no paragraphs to pack)
    empty = spark.createDataFrame([("",), ("  \n\n  ",)], "text string")
    assert chunk_paragraph_aware(empty, max_chars=100).count() == 0


def test_heavy_hitters_per_group_matches_naive(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    for threshold in (5, 20):
        naive = {
            (r["lang"], r["tok"], r["cnt"])
            for r in toks.groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= threshold)
            .collect()
        }
        # property: BOTH prefilter sketches are one-sided, so both paths
        # must reproduce the naive GROUP BY ... HAVING exactly
        for mode in ("composite", "global"):
            fast = {
                (r["lang"], r["tok"], r["cnt"])
                for r in sk.heavy_hitters_per_group_exact(
                    toks, "tok", "lang", threshold, prefilter=mode
                ).collect()
            }
            assert fast == naive and len(fast) > 0


def test_heavy_hitters_per_group_composite_prunes_spread_keys(spark):
    """The regime that defeats the global sketch (VERDICT r3): keys globally
    heavy but locally light in every group.  The composite sketch must prune
    their rows before the exact recount; the global sketch cannot."""
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators import sketch as sk

    G, per_key, n_keys, threshold = 16, 4096, 12, 3000
    # every key appears per_key times, spread evenly over G groups ->
    # global count 4096 >= threshold, per-group count 256 << threshold
    df = spark.range(n_keys * per_key).select(
        (F.col("id") % n_keys).alias("k"),
        (F.col("id") % G).alias("g"),
    )
    # both modes agree with the (empty) naive answer
    for mode in ("composite", "global"):
        assert (
            sk.heavy_hitters_per_group_exact(df, "k", "g", threshold, mode).count()
            == 0
        )
    # pruning power: composite survivor set is empty BEFORE the recount,
    # global passes every row (its bound is the global count)
    comp_key = F.concat_ws(
        "\x1f", F.col("g").cast("string"), F.col("k").cast("string")
    )
    comp_est = sk.cms_estimate_col(sk.collect_cms(sk.cms_table(df, comp_key)), comp_key)
    glob_est = sk.cms_estimate_col(
        sk.collect_cms(sk.cms_table(df, "k")), F.col("k")
    )
    n = df.count()
    comp_surv = df.filter(comp_est >= threshold).count()
    glob_surv = df.filter(glob_est >= threshold).count()
    assert comp_surv == 0
    assert glob_surv == n


def test_label_spread_constructed_neighborhood(spark, tmp_path):
    """Hand-built corpus: doc 0 (label hidden, doc_id%5==0) is a near-dup
    of two 'en' seeds and one 'de' seed -> majority vote predicts 'en'
    with 2 votes; an isolated hidden doc gets NULL/0."""
    from arthur_redshift_etl_spark.workload import REGISTRY

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, base + " iota", "??"),          # hidden (0 % 5 == 0)
        (1, base + " kappa", "en"),         # near-dup seed
        (2, base + " lmbda", "en"),         # near-dup seed
        (3, base + " mu", "de"),            # near-dup seed
        (5, "totally different words here nothing shared at all", "??"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in REGISTRY["label_spread_similarity_graph"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {0, 5}
    assert out[0]["pred_lang"] == "en" and out[0]["n_votes"] == 2
    assert out[5]["pred_lang"] is None and out[5]["n_votes"] == 0


def test_stratified_sample_keeps_null_strata(spark):
    """Regression (round-8 review): the grouped-rank join must be
    null-safe — a NULL stratum is a normal partition to the window and
    the SQL oracles, and a plain equi-join silently dropped it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.sampling import (
        hash_bucket,
        stratified_sample_exact,
    )

    rows = [(i, None if i % 2 == 0 else "web") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = stratified_sample_exact(df, ["source"], "doc_id", 0.5)
    by = {r["source"]: 1 for r in got.collect()}
    assert None in by and "web" in by
    # exact equality with the naive window on the same total order
    w = Window.partitionBy("source")
    ranked = (
        df.withColumn("_hb", hash_bucket(F.col("doc_id")))
        .withColumn(
            "_rn",
            F.row_number().over(w.orderBy(F.col("_hb"), F.col("doc_id"))),
        )
        .withColumn("_n", F.count(F.lit(1)).over(w))
    )
    want = ranked.filter(
        F.col("_rn") <= F.ceil(F.lit(0.5) * F.col("_n"))
    ).select("doc_id", "source")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestGroupedSplit:
    def test_grouped_split_no_group_straddles_splits(self, spark):
        """Leakage-safety is structural: every group (source) maps to
        exactly one split, deterministically across calls."""
        from arthur_redshift_etl_spark.operators.sampling import (
            grouped_split_assign,
        )
        from arthur_redshift_etl_spark.workload import t

        docs = t(spark, "/root/testdata/sf0.001", "documents")
        out = grouped_split_assign(docs, "source")
        per_group = (
            out.groupBy("source")
            .agg(F.countDistinct("split").alias("k"))
            .collect()
        )
        assert per_group and all(r["k"] == 1 for r in per_group)
        # deterministic across invocations
        a = sorted(
            (r["source"], r["split"])
            for r in out.select("source", "split").distinct().collect()
        )
        b = sorted(
            (r["source"], r["split"])
            for r in grouped_split_assign(docs, "source")
            .select("source", "split")
            .distinct()
            .collect()
        )
        assert a == b
        # all three splits realized over the 20-source corpus would be
        # luck-dependent at n=20; require at least train plus one other
        splits = {s for _, s in a}
        assert "train" in splits and len(splits) >= 2

    def test_grouped_split_shares_near_nominal_on_many_groups(self, spark):
        """With many synthetic groups the realized group-count shares
        approach 80/10/10 (cut points are within 0.002% of nominal)."""
        from arthur_redshift_etl_spark.operators.sampling import (
            grouped_split_assign,
        )

        df = spark.range(5000).select(
            F.concat(F.lit("g"), F.col("id")).alias("grp")
        )
        got = {
            r["split"]: r["n"]
            for r in grouped_split_assign(df, "grp")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        total = sum(got.values())
        assert total == 5000
        assert abs(got["train"] / total - 0.80) < 0.02
        assert abs(got.get("valid", 0) / total - 0.10) < 0.02
        assert abs(got.get("test", 0) / total - 0.10) < 0.02


def test_simhash_64bit_blocks_and_recall(spark):
    """64-bit signatures (the measured production point, SCALE.md r12):
    the top pigeonhole block's mask exceeds signed-long range and must be
    wrapped; near-identical docs must surface as a low-hamming pair while
    unrelated docs stay out at hamming <= 2."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        ("a", base),
        ("b", base + "extra token"),  # near-dup of a
        ("c", "completely different content about spark shuffle exchanges "
              "and arrow record batches in a columnar engine " * 6),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = dd.simhash(docs, "doc_id", "text", bits=64)
    got = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert len(got) == 3
    # signatures use the full 64-bit range (top bit exercised across docs
    # or not — but values are valid signed longs)
    assert all(-(1 << 63) <= v < (1 << 63) for v in got.values())
    pairs = dd.simhash_near_pairs(sims, max_hamming=2, bits=64).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ("a", "b") in found and found[("a", "b")] <= 2
    assert all(set(k) != {"a", "c"} and set(k) != {"b", "c"} for k in found)
    # candidate stage is a superset of the verified pairs
    cand = {
        (r["id_a"], r["id_b"])
        for r in dd.simhash_candidate_pairs(sims, max_hamming=2, bits=64)
        .select("id_a", "id_b")
        .collect()
    }
    assert set(found) <= cand


def test_bloom_filter_no_false_negatives_and_merge(spark):
    """The Bloom contract: a member is NEVER reported not-member; filters
    over disjoint batches merged by union+distinct answer for the union."""
    from arthur_redshift_etl_spark.operators import sketch as sk

    a = spark.range(0, 300).select(F.col("id").alias("k"))
    b = spark.range(300, 600).select(F.col("id").alias("k"))
    bits_a = sk.bloom_bits(a, "k")
    bits_b = sk.bloom_bits(b, "k")
    # no false negatives: probing the build set finds zero definite-misses
    assert sk.bloom_not_member(a, bits_a, "k").count() == 0
    # bounded state
    assert bits_a.count() <= sk.BLOOM_BITS
    # merge = set union of bit positions
    merged = bits_a.unionAll(bits_b).distinct()
    both = a.unionAll(b)
    assert sk.bloom_not_member(both, merged, "k").count() == 0
    direct = sk.bloom_bits(both, "k")
    assert merged.count() == direct.count()
    assert merged.exceptAll(direct).count() == 0
    # non-members are mostly rejected (FPR far below 1 at this fill)
    far = spark.range(1_000_000, 1_000_500).select(F.col("id").alias("k"))
    n_rejected = sk.bloom_not_member(far, bits_a, "k").count()
    assert n_rejected > 400  # 500 probes, fill ~1070/4096 -> fpr ~0.5%


def test_containment_join_prefix_equals_naive(spark):
    """The asymmetric prefix filter must return EXACTLY the naive
    all-shared-shingle join's rows — exactness is the operator's whole
    claim (like the Jaccard PPJoin pin above).  Random corpus with
    planted containments: short docs spliced verbatim into long ones."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(30):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))))
    # plant: doc 100+i = doc i's text embedded in noise (superset)
    for i in range(5):
        noise = " ".join(rng.choice(vocab) for _ in range(10))
        docs.append((100 + i, docs[i][1] + " " + noise))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        tuple(r)
        for r in dd.containment_join(df, "doc_id", "text", threshold=0.8, min_size=5)
        .select("contained_id", "container_id", "containment_micro")
        .collect()
    }
    # naive reference
    sh = dd.doc_shingles(df, "doc_id", "text").distinct()
    sizes = {r["doc_id"]: r["cnt"] for r in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    sets = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    want = set()
    for a, sa in sets.items():
        if len(sa) < 5:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            cm = inter * 1000000 // len(sa)
            if cm >= 800000:
                want.add((a, b, cm))
    assert got == want
    # the planted supersets must be found (doc i fully contained in 100+i)
    found_directed = {(a, b) for a, b, _ in got}
    planted = {(i, 100 + i) for i in range(5) if sizes.get(i, 0) >= 5}
    assert planted <= found_directed


def _containment_reference(df, threshold, min_size):
    """Exact Python set reference: every (contained, container, inter) with
    |A ∩ B| / |A| >= threshold and |A| >= min_size."""
    sets = {}
    for r in dd.doc_shingles(df, "doc_id", "text").distinct().collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    thr_micro = int(round(threshold * 1_000_000))
    return {
        (a, b, len(sa & sb))
        for a, sa in sets.items()
        if len(sa) >= min_size
        for b, sb in sets.items()
        if a != b and len(sa & sb) * 1_000_000 // len(sa) >= thr_micro
    }


def _containment_rows(df, threshold, min_size):
    return {
        tuple(r)
        for r in dd.containment_join(
            df, "doc_id", "text", threshold=threshold, min_size=min_size
        )
        .select("contained_id", "container_id", "inter_size")
        .collect()
    }


def test_containment_join_exact_on_both_corpus_shapes(spark):
    """The prefix-filtered join equals the exact set reference on BOTH
    corpus shapes: the sparse-answer shape with planted supersets, and the
    duplicate-saturated shape (4x near-copies), where answer density is
    close to candidate density."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    # sparse: mostly-unique shingles plus planted supersets (non-vacuous)
    sparse_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(25))) for i in range(30)
    ]
    sparse_rows += [
        (100 + i, sparse_rows[i][1] + " " + " ".join(
            rng.choice(vocab) for _ in range(8)))
        for i in range(5)
    ]
    sparse = spark.createDataFrame(sparse_rows, ["doc_id", "text"])
    # saturated: 10 base docs, each near-duplicated 3x (the 4x-copies shape)
    base = [" ".join(rng.choice(vocab) for _ in range(25)) for _ in range(10)]
    saturated = spark.createDataFrame(
        [
            (100 * c + i, txt + f" copymark{c}")
            for i, txt in enumerate(base)
            for c in range(4)
        ],
        ["doc_id", "text"],
    )
    for df in (sparse, saturated):
        got = _containment_rows(df, 0.8, 5)
        spark.catalog.clearCache()
        assert got == _containment_reference(df, 0.8, 5)
        assert got, "corpus produced no pairs — test is vacuous"


def test_containment_join_property_random(spark):
    """Property sweep: across several random corpora and thresholds, the
    prefix-filtered containment join equals the exact set reference (the
    single-seed planted test above pins one corpus; this pins the
    parameter space)."""
    import random

    for seed, thr in [(1, 0.7), (2, 0.8), (3, 0.9)]:
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(25)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 25))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = _containment_rows(df, thr, 4)
        assert got == _containment_reference(df, thr, 4), (seed, thr)


def test_containment_join_exact_boundary_threshold(spark):
    """ADVICE r12 regression: thresholds whose double product rounds up
    past the exact integer (0.56 at 25 shingles: 0.56*25 =
    14.000000000000002) must NOT over-prune exact-boundary pairs.  The
    old float size filter t*|A| <= |B| dropped the pair below; the
    integer micro-unit form keeps it.

    Construction: A has 25 distinct 3-shingles (27 distinct words); B is
    A's first 16 words, so |B| = 14 and B ⊂ A shingle-wise.  C(A→B) =
    |A∩B|/|A| = 14/25 = 0.56 exactly, with |B| = 14 sitting exactly on
    the size filter t*|A| <= |B| boundary (0.56*25 = 14); C(B→A) = 1.0."""
    words = [f"u{i}" for i in range(27)]
    doc_a = " ".join(words)            # 25 distinct shingles
    doc_b = " ".join(words[:16])       # 14 distinct shingles, all in A
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    got = {
        (r["contained_id"], r["container_id"], r["containment_micro"])
        for r in dd.containment_join(
            df, "doc_id", "text", threshold=0.56, min_size=5
        ).collect()
    }
    # (A contained in B at exactly 0.56) and (B fully contained in A)
    assert (1, 2, 560000) in got, got
    assert (2, 1, 1000000) in got, got


def test_ngram_jaccard_exact_boundary_threshold(spark):
    """Same float-boundary class for the SYMMETRIC PPJoin: J(A,B) exactly
    at a threshold whose double arithmetic rounds badly.  t = 0.56 with
    |A| = 20, |B| = 25, inter = 16: union = 29... pick instead
    |A| = |B| = 25 sharing 14... J = 14/36.  Simplest exact case:
    identical docs (J = 1.0) pass at any t; the size-filter boundary is
    t*|B| <= |A| with |A| = 14, |B| = 25, t = 0.56 -> 0.56*25 =
    14.000000000000002 > 14 under float, = 14_000_000 <= 14_000_000
    under integer.  Such a pair has J <= 14/25 = 0.56 exactly when
    A ⊂ B — i.e. J = |A∩B|/|A∪B| = 14/25 = 0.56, ON the Jaccard
    threshold too."""
    words = [f"v{i}" for i in range(27)]
    doc_b = " ".join(words)            # 25 shingles
    doc_a = " ".join(words[:16])       # 14 shingles, all in B
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_join(
            df, "doc_id", "text", threshold=0.56
        ).collect()
    }
    # J(A,B) = 14/25 = 0.56 exactly — the pair must survive the length
    # filter and the verification
    assert (1, 2) in got, got
