"""Salted-join correctness + vectorized kNN equivalence/speed."""

import re
import time

import pytest
from pyspark.sql import functions as F

from arthur_redshift_etl_spark.operators.similarity import brute_force_knn
from arthur_redshift_etl_spark.operators.skew import detect_skewed_keys, salted_join
from arthur_redshift_etl_spark.operators.vectorized import brute_force_knn_vectorized
from arthur_redshift_etl_spark.plans.lint import plan_text

SF = "/root/testdata/sf0.001"


def plan_shape(df):
    """The plans without expression and exchange ids, which differ per build."""
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan_text(df, "extended"))


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").cast("long").alias("q")
    ).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", salt_factor=4).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").cast("long").alias("q")
    ).collect()[0]
    assert (plain["n"], plain["q"]) == (salted["n"], salted["q"])


def test_detect_skewed_keys(spark):
    df = spark.createDataFrame(
        [(1,)] * 900 + [(2,)] * 50 + [(k,) for k in range(3, 53)], "k long"
    )
    hot = detect_skewed_keys(df, "k", min_share=0.1)
    rows = hot.collect()
    assert [r["k"] for r in rows] == [1]
    assert rows[0]["share"] > 0.8


def test_vectorized_knn_matches_jvm(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    jvm = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    q_local = queries.select("vec_id", "embedding").toPandas()
    vec = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn_vectorized(emb, q_local, k=5).collect()
    }
    assert jvm == vec


def test_kmeans_invariants(spark):
    from arthur_redshift_etl_spark.operators.clustering import kmeans
    from arthur_redshift_etl_spark.operators.similarity import as_double_array, dot

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    assignment, centroids = kmeans(emb, k=8, iterations=2)
    counts = assignment.groupBy("centroid_id").count().collect()
    assert sum(r["count"] for r in counts) == n  # partition of the data
    assert assignment.select("vec_id").distinct().count() == n
    assert 1 <= len(counts) <= 8
    assert centroids.count() == len(counts)
    # centroids are 64-dim vectors
    dims = centroids.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64]


def test_morton_interleave_matches_python_model(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.zorder import morton_interleave

    def py_morton(a, b, bits=21):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(3, 5), (0, 0), (2**21 - 1, 2**21 - 1), (123456, 654321), (1, 0), (0, 1)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", morton_interleave(F.col("a"), F.col("b")).alias("z")
    ).collect()
    for r in got:
        assert r.z == py_morton(r.a, r.b), (r.a, r.b)


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Files of a z-ordered write are tight in BOTH key dimensions."""
    from arthur_redshift_etl_spark.operators.zorder import write_zordered
    from arthur_redshift_etl_spark.workload import t as load_table

    path = str(tmp_path / "zordered")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey"
    )
    write_zordered(orders, path, ["o_orderkey", "o_custkey"], num_files=8)
    import pyarrow.parquet as pq
    import glob as g

    files = sorted(g.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    n_rows = orders.count()
    # per-file spans: z-ordering should make every file cover a fraction of
    # BOTH dimensions (a single-column sort would leave the other column's
    # span ≈ the full domain in every file)
    spans_a, spans_b = [], []
    for f in files:
        t = pq.read_table(f, columns=["o_orderkey", "o_custkey"])
        a = t.column("o_orderkey").to_pylist()
        b = t.column("o_custkey").to_pylist()
        if len(a) < n_rows / 32:   # ignore tiny tail files
            continue
        spans_a.append((max(a) - min(a)))
        spans_b.append((max(b) - min(b)))
    full_a = max(spans_a) if spans_a else 1
    # at least half the substantial files span < 70% of each dimension
    import statistics

    dom_a = orders.agg({"o_orderkey": "max"}).collect()[0][0]
    dom_b = orders.agg({"o_custkey": "max"}).collect()[0][0]
    frac_a = statistics.median(s / dom_a for s in spans_a)
    frac_b = statistics.median(s / dom_b for s in spans_b)
    assert frac_a < 0.7 and frac_b < 0.7, (frac_a, frac_b)


def test_ivf_multiprobe_recall_monotone(spark):
    """recall@k must not DECREASE as nprobe grows (supersets of candidates),
    and nprobe = num_buckets must equal brute force exactly."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_knn(emb, queries, k=3).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivf_search(
                emb, centroids, queries, k=3, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2, r8 = recall(1), recall(2), recall(8)
    assert r1 <= r2 <= r8
    assert r8 == 1.0  # probing every bucket IS brute force


def test_ntile_exact_matches_builtin(spark):
    """ntile_exact must reproduce NTILE's front-loaded bucket sizes exactly,
    for n % k != 0, ties in the value column, and n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.quantiles import ntile_exact

    for n, k in [(1003, 7), (40, 4), (5, 9), (96, 8)]:
        base = spark.range(0, n, 1, 6).select(
            F.col("id"), (F.col("id") * 37 % 11).alias("v")  # heavy ties in v
        )
        mine = ntile_exact(base, k, ["v", "id"], bucket_column="b")
        ref = base.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("b")
        )
        diff = (
            mine.select("id", "b")
            .join(ref.withColumnRenamed("b", "rb"), "id")
            .filter(F.col("b") != F.col("rb"))
            .count()
        )
        assert diff == 0, (n, k)


def test_ntile_exact_empty_and_validation(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.quantiles import ntile_exact

    empty = spark.range(0).select(F.col("id").alias("v"))
    assert ntile_exact(empty, 4, ["v"]).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ntile_exact(empty, 0, ["v"])


def test_global_row_number_dense_and_ordered(spark):
    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.identity import global_row_number

    df = spark.range(0, 500, 1, 8).select((F.col("id") * 13 % 997).alias("k"))
    out, total = global_row_number(df, ["k"], row_number_column="rn")
    assert total == 500
    rows = out.orderBy("k").collect()
    assert [r["rn"] for r in rows] == list(range(1, 501))
    ks = [r["k"] for r in rows]
    assert ks == sorted(ks)


def test_gemm_knn_bit_identical_to_jvm(spark):
    """brute_force_knn_gemm's rescore pass makes it EXACTLY equal to the
    JVM baseline — (query_id, rank) -> neighbor_id agree on every row,
    including tie-breaks (not just 'identical in practice')."""
    from arthur_redshift_etl_spark.operators.similarity import brute_force_knn_gemm

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    jvm = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn_gemm(emb, queries, k=5).collect()
    }
    assert gemm == jvm and len(gemm) == 50


def test_gemm_knn_empty_queries(spark):
    from arthur_redshift_etl_spark.operators.similarity import brute_force_knn_gemm

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = brute_force_knn_gemm(emb, emb.filter(F.col("vec_id") < 0), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "neighbor_id", "rank"]


def test_gemm_knn_excludes_self(spark):
    from arthur_redshift_etl_spark.operators.similarity import brute_force_knn_gemm

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    rows = brute_force_knn_gemm(emb, queries, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_gemm_knn_zero_norm_query_is_deterministic(spark):
    """A zero-norm vector normalizes to the zero vector (sim 0.0 to all,
    not NaN), so the mass tie resolves by neighbor id identically in the
    JVM window, the numpy batch selection, and any external engine."""
    from arthur_redshift_etl_spark.operators.similarity import (
        brute_force_knn,
        brute_force_knn_gemm,
    )

    rows = [(0, [0.0] * 8)] + [
        (i, [float((i * j) % 5 - 2) for j in range(1, 9)]) for i in range(1, 400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)  # includes the zero vector
    jvm = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn(df, queries, k=5).collect()
    }
    gemm = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn_gemm(df, queries, k=5).collect()
    }
    assert gemm == jvm
    # the zero query ties everywhere -> lowest ids win deterministically
    assert [jvm[(0, r)] for r in range(1, 6)] == [1, 2, 3, 4, 5]


def test_knn_incremental_merge_is_batch_order_invariant(spark):
    """Splitting the corpus into batches in ANY order and merging
    incrementally equals single-shot brute force — top-k lists are
    mergeable state."""
    from arthur_redshift_etl_spark.operators.similarity import (
        brute_force_knn,
        knn_merge_incremental,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    empty = spark.createDataFrame([], "query_id long, neighbor_id long, sim double")
    batches = [emb.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    for order in ([0, 1, 2], [2, 0, 1]):
        state = empty
        for i in order:
            state = knn_merge_incremental(state, batches[i], queries, k=5)
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"] for r in state.collect()
        }
        assert got == full, order


def test_global_running_sum_matches_naive(spark):
    import random

    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.operators.identity import global_running_sum

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    out, total = global_running_sum(df, ["k"], "v", sum_column="cs")
    got = {r["k"]: r["cs"] for r in out.collect()}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert got[k] == acc, (k, got[k], acc)
    assert total == acc

    empty = spark.createDataFrame([], "k long, v long")
    out_e, total_e = global_running_sum(empty, ["k"], "v")
    assert total_e == 0 and out_e.count() == 0


def test_global_running_max_matches_naive(spark):
    import random

    from arthur_redshift_etl_spark.operators.identity import global_running_max

    rng = random.Random(11)
    rows = [(i, rng.randint(-40, 40)) for i in range(400)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)

    out = global_running_max(df, ["k"], "v", max_column="rm")
    got = {r["k"]: r["rm"] for r in out.collect()}
    best = None
    for k, v in sorted(rows):
        best = v if best is None else max(best, v)
        assert got[k] == best, (k, got[k], best)

    out_x = global_running_max(df, ["k"], "v", max_column="rm", exclusive=True)
    got_x = {r["k"]: r["rm"] for r in out_x.collect()}
    best = None
    for k, v in sorted(rows):
        assert got_x[k] == best, (k, got_x[k], best)  # first row: NULL
        best = v if best is None else max(best, v)

    empty = spark.createDataFrame([], "k long, v long")
    assert global_running_max(empty, ["k"], "v").count() == 0


def test_pareto_frontier_equals_bruteforce_dominance(spark):
    """The sort-based skyline must equal the all-pairs dominance definition
    (minimize n_chars, maximize tokens; strict in at least one dim)."""
    import random

    from arthur_redshift_etl_spark.operators.identity import global_running_max
    from pyspark.sql import functions as F

    rng = random.Random(5)
    pts = [
        (i, rng.randint(1, 30), rng.randint(1, 30)) for i in range(300)
    ]  # (id, n_chars, tokens) with many ties
    df = spark.createDataFrame(pts, "doc_id long, n_chars long, tokens long")
    g = df.groupBy("n_chars").agg(F.max("tokens").alias("tmax"))
    r = global_running_max(g, ["n_chars"], "tmax", "m", exclusive=True)
    fr = r.filter(F.col("m").isNull() | (F.col("tmax") > F.col("m"))).select(
        F.col("n_chars").alias("fc"), F.col("tmax").alias("ft")
    )
    got = {
        r["doc_id"]
        for r in df.join(
            fr,
            (F.col("n_chars") == F.col("fc")) & (F.col("tokens") == F.col("ft")),
        ).collect()
    }
    want = {
        i
        for (i, c, t) in pts
        if not any(
            c2 <= c and t2 >= t and (c2 < c or t2 > t) for (_, c2, t2) in pts
        )
    }
    assert got == want


def test_peak_concurrency_two_pass_fallback_matches_packed(spark, monkeypatch):
    """Shrinking PEAK_PACK_BASE forces the two-running-sum fallback; both
    paths must agree with each other (and the packed path with a naive
    sweep) on the same data.  The plans must differ, or the patch missed
    and the "fallback" was the packed path again."""
    from arthur_redshift_etl_spark.workload import recall_sources, t

    sf = "/root/testdata/sf0.001"
    packed_df = recall_sources.peak_concurrent_sessions(spark, sf)
    packed = packed_df.collect()[0]

    monkeypatch.setattr(recall_sources, "PEAK_PACK_BASE", 1)
    fallback_df = recall_sources.peak_concurrent_sessions(spark, sf)
    fallback = fallback_df.collect()[0]
    assert packed == fallback
    assert plan_shape(packed_df) != plan_shape(fallback_df)

    # naive sweep on the driver (sf0.001 is tiny)
    ev = t(spark, sf, "events").select("user_id", "ts").collect()
    iv = {}
    for r in ev:
        key = (r["user_id"], r["ts"].date())
        s, e = iv.get(key, (r["ts"], r["ts"]))
        iv[key] = (min(s, r["ts"]), max(e, r["ts"]))
    deltas = {}
    for s, e in iv.values():
        a, b = deltas.get(s, (0, 0)); deltas[s] = (a + 1, b)
        a, b = deltas.get(e, (0, 0)); deltas[e] = (a, b + 1)
    cum_s = cum_e = 0
    best = (-1, None)
    for ts in sorted(deltas):
        s_here, e_here = deltas[ts]
        cum_s += s_here
        cum_e += e_here
        c = cum_s - cum_e + e_here
        if c > best[0]:
            best = (c, ts)
    assert packed["n_intervals"] == len(iv)
    assert packed["peak_concurrency"] == best[0]
    assert packed["peak_at"] == best[1]


def test_weighted_median_known_answer(spark, monkeypatch):
    """Hand-checkable weighted median: values 1..4 with weights 1,1,1,7 ->
    total 10, first value whose 2*cum >= 10 is 4."""
    from arthur_redshift_etl_spark.operators.identity import global_running_sum
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)], "val double, w long"
    )
    cum, wtot = global_running_sum(df, ["val"], "w", "cumw")
    row = cum.agg(
        F.min(F.when(F.lit(2) * F.col("cumw") >= F.lit(wtot), F.col("val"))).alias(
            "m"
        )
    ).collect()[0]
    assert wtot == 10 and row["m"] == 4.0

    # balanced case: 2*cum hits W exactly at the lower median
    df2 = spark.createDataFrame([(1.0, 5), (9.0, 5)], "val double, w long")
    cum2, w2 = global_running_sum(df2, ["val"], "w", "cumw")
    row2 = cum2.agg(
        F.min(F.when(F.lit(2) * F.col("cumw") >= F.lit(w2), F.col("val"))).alias(
            "m"
        )
    ).collect()[0]
    assert row2["m"] == 1.0


def test_peak_concurrency_property_random_intervals(spark, tmp_path):
    """Property: the distributed sweep equals a naive Python sweep on
    arbitrary event sets — coincident starts/ends, single-event intervals
    (start == end), and multi-day users included."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:  # pragma: no cover - environment gate
        pytest.skip("hypothesis unavailable")

    import datetime

    from pyspark.sql import functions as F

    from arthur_redshift_etl_spark.workload import recall_sources

    base = datetime.datetime(2024, 3, 1)
    events_strategy = st.lists(
        st.tuples(
            st.integers(0, 5),    # user
            st.integers(0, 2),    # day
            st.integers(0, 20),   # coarse hour-slot -> many exact ties
        ),
        min_size=1,
        max_size=40,
    )

    case_no = [0]

    @settings(max_examples=8, deadline=None)
    @given(evs=events_strategy)
    def check(evs):
        case_no[0] += 1
        rows = [
            (i, base + datetime.timedelta(days=d, hours=h), u, "e", 0.0, "{}")
            for i, (u, d, h) in enumerate(evs)
        ]
        d = str(tmp_path / f"case{case_no[0]}")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = recall_sources.peak_concurrent_sessions(spark, d).collect()[0]

        iv = {}
        for _, ts, u, *_ in rows:
            key = (u, ts.date())
            s, e = iv.get(key, (ts, ts))
            iv[key] = (min(s, ts), max(e, ts))
        deltas = {}
        for s, e in iv.values():
            a, b = deltas.get(s, (0, 0)); deltas[s] = (a + 1, b)
            a, b = deltas.get(e, (0, 0)); deltas[e] = (a, b + 1)
        cum_s = cum_e = 0
        best = (-1, None)
        for ts in sorted(deltas):
            sh, eh = deltas[ts]
            cum_s += sh
            cum_e += eh
            c = cum_s - cum_e + eh
            if c > best[0]:
                best = (c, ts)
        assert got["n_intervals"] == len(iv), evs
        assert got["peak_concurrency"] == best[0], evs
        assert got["peak_at"] == best[1], evs

    check()


def test_ivfpq_recall_monotone_in_nprobe(spark):
    """CANDIDATE recall must be non-decreasing in nprobe (probed lists
    nest — the IVF lever's guarantee).  ADC-ranked recall is deliberately
    NOT pinned monotone: widening the probe admits quantization-error
    impostors that can displace true neighbors from the approximate
    top-10 (observed at sf0.01: nprobe 1 -> 2 drops ADC recall 0.2 ->
    0.1 while candidate recall rises).  ADC recall is bounded above by
    candidate recall: a neighbor can only be ADC-ranked if probed."""
    from arthur_redshift_etl_spark.workload.pq import ivfpq_recall_eval

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = {
            r["nprobe"]: r for r in ivfpq_recall_eval(spark, sf).collect()
        }
        assert set(rows) == {1, 2, 4}
        assert (
            rows[1]["n_cand_hit"]
            <= rows[2]["n_cand_hit"]
            <= rows[4]["n_cand_hit"]
        )
        for r in rows.values():
            assert r["recall_at_10"] == r["n_overlap"] / 10
            assert r["cand_recall_at_10"] == r["n_cand_hit"] / 10
            assert r["n_overlap"] <= r["n_cand_hit"]


def test_rendezvous_sharding_minimal_disruption(spark):
    """Growing N -> N+1 shards must move ~1/(N+1) of keys, every moved key
    landing on the NEW shard (survivors never reshuffle among old shards);
    assignments are deterministic across evaluations."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import rendezvous_shard

    docs = t(spark, "/root/testdata/sf0.001", "documents")
    n = 8
    both = docs.select(
        "doc_id",
        rendezvous_shard(F.col("doc_id"), n).alias("s8"),
        rendezvous_shard(F.col("doc_id"), n + 1).alias("s9"),
    ).collect()
    total = len(both)
    moved = [r for r in both if r["s8"] != r["s9"]]
    # every moved key went TO the new shard
    assert all(r["s9"] == n for r in moved)
    # moved fraction ~ 1/(N+1): binomial 5-sigma band around total/9
    import math

    exp = total / (n + 1)
    sigma = math.sqrt(total * (1 / (n + 1)) * (n / (n + 1)))
    assert abs(len(moved) - exp) < 5 * sigma, (len(moved), exp, sigma)
    # deterministic: a second evaluation reproduces the assignment
    again = {
        r["doc_id"]: r["s8"]
        for r in docs.select(
            "doc_id", rendezvous_shard(F.col("doc_id"), n).alias("s8")
        ).collect()
    }
    assert all(again[r["doc_id"]] == r["s8"] for r in both)


def test_ivfpq_codes_table_partition_prunes(spark, tmp_path):
    """Substantiates the ivfpq_search scale claim: a codes table written
    bucket-partitioned (partitionBy centroid) turns the IVF prune into a
    PARTITION-PRUNED scan — the probed bucket's filter reaches the file
    listing (PartitionFilters), so unprobed buckets' files are never
    opened, and the pruned read returns exactly the bucket's codes."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.operators import quantization as qz
    from arthur_redshift_etl_spark.operators import similarity as sim
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import PQ_K, PQ_M, PQ_SUB

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    centroids = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = sim.ivf_assign(emb, centroids)
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    codes = qz.pq_encode(emb, codebooks, PQ_M, PQ_SUB).join(assign, "vec_id")
    out = str(tmp_path / "codes")
    codes.write.partitionBy("centroid_id").parquet(out)

    qc = assign.filter(F.col("vec_id") == 42).collect()[0]["centroid_id"]
    pruned = spark.read.parquet(out).filter(F.col("centroid_id") == qc)
    text = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in text
    assert "centroid_id" in text.split("PartitionFilters")[1][:200]
    expected = {
        r["vec_id"]
        for r in assign.filter(F.col("centroid_id") == qc).collect()
    }
    got = {r["vec_id"] for r in pruned.collect()}
    assert got == expected and len(got) > 0


def test_ivfpq_full_probe_equals_plain_pq(spark):
    """Probing EVERY coarse bucket removes the IVF prune entirely, so
    IVF-PQ top-k must equal plain PQ/ADC top-k bit-for-bit — the
    equivalence that proves the composition only ever drops candidates,
    never rescores them differently."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.operators import quantization as qz
    from arthur_redshift_etl_spark.operators import similarity as sim
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import (
        PQ_K,
        PQ_M,
        PQ_QUERY_ID,
        PQ_SUB,
        _pq_probe_ids,
        pq_adc_topk,
    )

    sf = "/root/testdata/sf0.001"
    emb = t(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = sim.ivf_assign(emb, centroids)
    probe_ids = _pq_probe_ids(emb, PQ_K)  # all buckets
    assert sorted(probe_ids) == list(range(PQ_K))
    cand = emb.join(
        assign.filter(F.col("centroid_id").isin(probe_ids)).select("vec_id"),
        "vec_id",
    )
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    full_probe = (
        qz.pq_encode(cand, codebooks, PQ_M, PQ_SUB)
        .select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
        .collect()
    )
    plain = pq_adc_topk(spark, sf).collect()
    assert [tuple(r) for r in full_probe] == [tuple(r) for r in plain]


def test_ivfpq_search_operator_full_probe_full_pool_is_exact(spark):
    """The reusable three-stage operator (quantization.ivfpq_search,
    promoted from the ivfpq_rerank_search entry) degrades gracefully to
    EXACT search when nothing prunes: probing every bucket and widening
    the rerank pool to the whole corpus must return the true micro-unit
    L2 top-k — codebook quality cannot matter once the exact rerank sees
    every candidate."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.operators import quantization as qz
    from arthur_redshift_etl_spark.operators import similarity as sim
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import (
        PQ_K,
        PQ_M,
        PQ_QUERY_ID,
        PQ_SUB,
        _pq_probe_ids,
    )

    sf = "/root/testdata/sf0.001"
    emb = t(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = sim.ivf_assign(emb, centroids)
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    n = emb.count()
    got = qz.ivfpq_search(
        emb,
        assign,
        _pq_probe_ids(emb, PQ_K),  # every bucket -> no IVF prune
        codebooks,
        query,
        PQ_M,
        PQ_SUB,
        rerank_pool=n,  # whole corpus -> no ADC prune
        k=10,
    ).collect()

    # exact ground truth: micro-unit int64 L2 over the full corpus
    qlits = F.array(*[F.lit(c).cast("long") for c in query])
    exact_d = F.aggregate(
        F.zip_with(
            qz.micro_components(), qlits, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    truth = (
        emb.select("vec_id", exact_d.alias("exact_dist"))
        .orderBy("exact_dist", "vec_id")
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in truth]


def test_ivfpq_search_operator_pool_monotone(spark):
    """Widening only the rerank pool can never lose a true neighbor the
    smaller pool had surfaced: recall vs the exact top-k is monotone in
    rerank_pool at fixed probe schedule (candidate-set monotonicity —
    the invariant that survived r10's ADC-recall finding)."""
    from pyspark.sql import functions as F
    from arthur_redshift_etl_spark.operators import quantization as qz
    from arthur_redshift_etl_spark.operators import similarity as sim
    from arthur_redshift_etl_spark.workload import t
    from arthur_redshift_etl_spark.workload.pq import (
        PQ_K,
        PQ_M,
        PQ_QUERY_ID,
        PQ_SUB,
        _pq_probe_ids,
    )

    sf = "/root/testdata/sf0.001"
    emb = t(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = sim.ivf_assign(emb, centroids)
    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    probe = _pq_probe_ids(emb, 2)
    qlits = F.array(*[F.lit(c).cast("long") for c in query])
    exact_d = F.aggregate(
        F.zip_with(
            qz.micro_components(), qlits, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    truth = {
        r["vec_id"]
        for r in emb.select("vec_id", exact_d.alias("d"))
        .orderBy("d", "vec_id")
        .limit(5)
        .collect()
    }
    recalls = []
    for pool in (5, 25, 100):
        got = {
            r["vec_id"]
            for r in qz.ivfpq_search(
                emb, assign, probe, codebooks, query,
                PQ_M, PQ_SUB, rerank_pool=pool, k=5,
            ).collect()
        }
        recalls.append(len(got & truth))
    assert recalls == sorted(recalls), recalls
