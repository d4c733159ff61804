"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; IVF (inverted-file) bucketing
is the scale path: assign vectors to their nearest centroid once, then search
only within the probe's bucket(s).

All math is built-in higher-order functions (``zip_with`` + ``aggregate``)
— JVM-evaluated, no Python UDF.  Dot products are sequential left-to-right
sums so an external oracle computes bit-identical doubles.

Scale notes: brute force is a broadcast of the (small) query set against the
full collection — a map-only job, no shuffle.  IVF assignment is likewise a
broadcast of centroids; search shuffles only on bucket id.  Top-k uses a
window over per-query partitions (bounded by k × queries, never a global
sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalized(df: DataFrame, id_col: str, id_alias: str,
               vec_col: str = "embedding", out_col: str = "vn") -> DataFrame:
    """Project (id, unit-normalized vector).

    Normalizing once per vector makes every subsequent pair similarity a
    single dot product (vs 3 dots + sqrt per pair when cosine recomputes
    norms) — the dominant cost in kNN/dedup at scale.  Two-step select so
    the norm is evaluated once per row, not once per element.

    A zero-norm vector normalizes to the zero vector (similarity 0 to
    everything) rather than NaN: NaN sims would rank NaN-first in Spark's
    descending sort but order arbitrarily in numpy partial sorts, making
    degenerate inputs engine-dependent.  Zero keeps every path — JVM,
    GEMM, external oracle — on exact, identical arithmetic.
    """
    v = as_double_array(F.col(vec_col))
    staged = df.select(F.col(id_col).alias(id_alias), v.alias("__v")).withColumn(
        "__n", norm(F.col("__v"))
    )
    return staged.select(
        id_alias,
        F.transform(
            F.col("__v"),
            lambda x: F.when(F.col("__n") == 0.0, F.lit(0.0)).otherwise(
                x / F.col("__n")
            ),
        ).alias(out_col),
    )


def brute_force_knn(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, neighbor_id, rank).

    The query set is broadcast; each executor scans its slice of the
    collection — no shuffle until the (tiny) per-query top-k window.
    Ties break by neighbor id for determinism.
    """
    q = normalized(queries, id_col, "query_id", vec_col, "qv")
    c = normalized(collection, id_col, "neighbor_id", vec_col, "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_assign(
    collection: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (ties: id asc).

    Centroids are broadcast; output is (vec_id, centroid_id).

    The argmax is a ``max_by`` AGGREGATE, not a rank window: a window would
    shuffle all n·k scored rows by vec_id and sort each group, while the
    aggregate combines map-side — each vector's k candidate rows collapse to
    one inside the scan partition (the broadcast join preserves row
    locality), so only n rows cross the wire.  Tie-break matches the rank
    formulation exactly: max (sim, -centroid_id) = highest similarity, then
    lowest centroid id.
    """
    c = collection.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    )
    cent = centroids.select(
        F.col(centroid_id_col), as_double_array(F.col(vec_col)).alias("cv")
    )
    scored = c.crossJoin(F.broadcast(cent)).select(
        id_col, centroid_id_col, cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col(centroid_id_col),
            F.struct(F.col("sim"), -F.col(centroid_id_col)),
        ).alias(centroid_id_col)
    )


def ivf_search(
    collection: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate search probing the query's ``nprobe`` nearest buckets.

    Returns (query_id, neighbor_id, rank) among probed-bucket vectors.
    ``nprobe`` is the standard recall lever: recall rises with the number
    of probed inverted lists while cost stays ``nprobe/k_buckets`` of
    brute force.  Collection vectors live in exactly one bucket, so
    multi-probe needs no candidate dedup.  The probe list is
    queries × nprobe rows — still broadcast-sized.
    """
    # persist: assign feeds both the collection side and the query side of
    # the bucket join — unpinned, each consumer re-runs the broadcast
    # crossJoin + argmin aggregate over the whole collection.  The pinned
    # state is (vec_id, centroid_id) longs: two words per collection row
    # (r13 pin sweep 2, the lazy-persist convention of that sweep).
    assign = ivf_assign(
        collection, centroids, id_col, vec_col, centroid_id_col
    ).persist()
    coll = normalized(collection, id_col, "neighbor_id", vec_col, "cv").join(
        assign.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    qn = normalized(queries, id_col, "query_id", vec_col, "qv")
    if nprobe <= 1:
        q = qn.join(assign.withColumnRenamed(id_col, "query_id"), "query_id")
    else:
        cent = normalized(centroids, centroid_id_col, centroid_id_col, vec_col, "pv")
        probe_w = Window.partitionBy("query_id").orderBy(
            F.col("psim").desc(), F.col(centroid_id_col).asc()
        )
        q = (
            qn.crossJoin(F.broadcast(cent))
            .select(
                "query_id", "qv", centroid_id_col,
                dot(F.col("qv"), F.col("pv")).alias("psim"),
            )
            .withColumn("prk", F.row_number().over(probe_w))
            .filter(F.col("prk") <= nprobe)
            .select("query_id", "qv", centroid_id_col)
        )
    scored = (
        coll.join(F.broadcast(q), centroid_id_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_dedup_pairs(
    collection: DataFrame,
    block_col: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs within blocks: (id_a, id_b, sim ≥ threshold).

    Blocking (e.g. on an IVF bucket or label) keeps the pair space linear in
    the largest block rather than quadratic in the corpus.
    """
    blocks = collection.select(F.col(id_col), F.col(block_col).alias("__blk"))
    vn = normalized(collection, id_col, id_col, vec_col, "v").join(blocks, id_col)
    a = vn.select(F.col(id_col).alias("id_a"), "__blk", F.col("v").alias("va"))
    b = vn.select(F.col(id_col).alias("id_b"), "__blk", F.col("v").alias("vb"))
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_bucket(vec_col: Column, planes) -> Column:
    """Random-hyperplane LSH bucket key: one sign bit per plane.

    ``planes`` is a list of python float lists (deterministic, seeded by the
    caller) — they compile to literal arrays, evaluated JVM-side.  Vectors
    whose cosine is high land in the same bucket with probability
    ``1 - theta/pi`` per bit.
    """
    bits = []
    for plane in planes:
        p = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.when(dot(vec_col, p) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_search(
    collection: DataFrame,
    queries: DataFrame,
    planes,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search within random-hyperplane LSH buckets.

    Returns (query_id, neighbor_id, rank) among same-bucket vectors.  The
    bucket key is computed in one projection pass (no shuffle); the join is
    keyed on the bucket so the pair space is bounded by bucket occupancy.
    """
    c = normalized(collection, id_col, "neighbor_id", vec_col, "cv").withColumn(
        "bucket", hyperplane_bucket(F.col("cv"), planes)
    )
    q = normalized(queries, id_col, "query_id", vec_col, "qv").withColumn(
        "bucket", hyperplane_bucket(F.col("qv"), planes)
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def brute_force_knn_gemm(
    collection: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_margin: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors via an Arrow-batched GEMM candidate scan.

    Relationship to ``vectorized.brute_force_knn_vectorized``: that variant
    ranks by the GEMM doubles directly ("identical in practice"); this one
    adds a candidate margin + an error-bound near-tie band + deterministic
    JVM rescore so the ranking is bit-identical to :func:`brute_force_knn`
    under the tie conditions stated below — the driver-checkable flavor of
    the same kernel.  ``candidate_margin`` defaults to ``max(4, k)``.

    Same contract and output as :func:`brute_force_knn` — (query_id,
    neighbor_id, rank), ties by neighbor id — but the scoring kernel is one
    BLAS matmul per Arrow batch instead of a crossJoin: the JVM path
    materializes n x q rows and evaluates a higher-order-function dot per
    row, while here each executor multiplies its (batch x d) slice against
    the broadcast (d x q) query matrix and only the per-batch top
    ``k + candidate_margin`` survivors per query leave Python.  At 100 TB
    that is the difference between shipping n*q rows through the shuffle-free
    plan and shipping ~num_batches * q * (k+margin) candidate rows.

    Exactness: GEMM doubles can differ from the sequential JVM dot by a
    bounded rounding error delta (ulp-scale for unit vectors).  A true
    top-k member x therefore satisfies ``gemm(x) >= v - 2*delta`` where v
    is the batch's take-th largest GEMM score — so besides the margin-
    padded top-take slice, EVERY row in the open band
    ``[v - NEAR_TIE_EPS, v)`` is kept as a candidate (untruncated; with
    NEAR_TIE_EPS = 2e-12 >> 2*delta for unit vectors this provably covers
    near-tie crowding, where more than ``margin`` distinct scores sit
    within rounding noise of the k-th — previously a heuristic gap).
    Rows EXACTLY equal to v are thresholded in together and lexsorted by
    (sim desc, id asc) before the take-truncation, so mass exact ties
    (a degenerate zero-norm query scores 0.0 against everything) stay
    bounded and select the same ids every engine would — exact for ties
    that rescore to equal values (duplicate vectors, zero queries), the
    only case mass GEMM ties arise in practice.  Surviving candidates are
    RE-SCORED with the same deterministic sequential ``dot`` used by
    brute_force_knn before the final rank, so output ordering matches the
    JVM baseline under those stated tie conditions.  (Agreement with an
    EXTERNAL oracle additionally requires the data's similarity gaps to
    exceed the cross-engine ulp difference — the same caveat
    brute_force_knn itself carries, since the oracle's cosine arithmetic
    differs in rounding.)

    Two narrow scans of the collection (candidate scan + rescore join with
    the tiny broadcast candidate set), zero wide shuffles; the final window
    sees only the candidate rows.  Queries must be broadcast-small (same
    contract as brute_force_knn) with integral ids.
    """
    spark = collection.sparkSession
    qn = normalized(queries, id_col, "query_id", vec_col, "qv").withColumn(
        "query_id", F.col("query_id").cast("long")
    )
    q_pdf = qn.toPandas()

    out_schema = "query_id long, neighbor_id long, rank int"
    if q_pdf.empty:
        return spark.createDataFrame([], out_schema)

    import numpy as np

    qids = q_pdf["query_id"].to_numpy(dtype="int64")
    qm = np.stack(q_pdf["qv"].to_numpy()).astype("float64")
    bq = spark.sparkContext.broadcast((qids, qm))
    kk = k + (max(4, k) if candidate_margin is None else candidate_margin)

    cn = normalized(collection, id_col, "neighbor_id", vec_col, "cv").withColumn(
        "neighbor_id", F.col("neighbor_id").cast("long")
    )

    def scan(batches):
        import numpy as np  # noqa: F811 - worker-side import
        import pandas as pd

        b_qids, b_qm = bq.value
        qm_t = b_qm.T  # (d, q)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf["cv"].to_numpy()).astype("float64")  # (n, d)
            nb = pdf["neighbor_id"].to_numpy(dtype="int64")
            sims = cm @ qm_t  # (n, q) — one BLAS call
            # Exclude self-pairs before the partition so they never surface
            # as candidates (rescore filters again, belt and braces).
            sims[nb[:, None] == b_qids[None, :]] = -np.inf
            take = min(kk, sims.shape[0])
            out_q, out_n = [], []
            for j in range(b_qids.shape[0]):
                s = sims[:, j]
                # Tie-EXACT batch top-take by (sim desc, neighbor_id asc):
                # threshold at the take-th largest sim, keep every row at
                # or above it (so equal-sim ties are never split by the
                # partial sort's arbitrary order), then lexsort just that
                # candidate slice.  Normal case: slice ≈ take rows; a mass
                # tie (e.g. a zero query: all sims exactly 0.0) degrades
                # gracefully to sorting the batch for that query only.
                v = np.partition(s, s.shape[0] - take)[s.shape[0] - take]
                cand = np.flatnonzero(s >= v)
                order = np.lexsort((nb[cand], -s[cand]))[:take]
                sel = cand[order]
                # Near-tie band: every row with score in [v - eps, v) is a
                # potential true top-k member displaced only by GEMM-vs-
                # sequential rounding noise — keep ALL of them (untruncated)
                # so crowding beyond the margin can never evict a true
                # neighbor before the deterministic rescore.  eps = 2e-12 is
                # orders of magnitude above the rounding bound for unit
                # vectors yet tight enough that real data contributes ~0
                # extra rows.
                band = np.flatnonzero((s >= v - 2e-12) & (s < v))
                if band.shape[0]:
                    sel = np.concatenate([sel, band])
                out_q.append(np.full(sel.shape[0], b_qids[j]))
                out_n.append(nb[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                }
            )

    candidates = cn.mapInPandas(scan, "query_id long, neighbor_id long")
    rescored = (
        cn.join(F.broadcast(candidates), "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def knn_merge_incremental(
    old_topk: DataFrame,
    new_batch: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maintain exact per-query top-k when a NEW vector batch arrives.

    Top-k lists are mergeable state: the previous result (query_id,
    neighbor_id, sim) rows stay valid because cosine scores never change,
    so an arriving batch only needs ITS OWN vectors scored (broadcast
    queries × new batch — linear in the batch), unioned with the old
    rows, and re-ranked per query.  Cost per ingest is O(|batch|·|q|)
    + a window over ≤ (k + |batch-survivors|)·|q| rows — the corpus is
    never rescanned.  (Incremental top-k maintenance in interactive
    sessions is a studied pattern, e.g. EDBT 2020's incremental top-k
    framework; this is the mergeable-state formulation of it.)

    ``old_topk`` must carry (query_id, neighbor_id, sim) — the sim column
    is the mergeable part; re-ranking without it would need a rescan.
    """
    q = normalized(queries, id_col, "query_id", vec_col, "qv")
    nb = normalized(new_batch, id_col, "neighbor_id", vec_col, "cv")
    scored_new = (
        nb.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    merged = old_topk.select("query_id", "neighbor_id", "sim").unionByName(
        scored_new
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def filtered_knn(
    collection: DataFrame,
    queries: DataFrame,
    filter_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attribute-filtered exact top-k: neighbors must share the query's
    ``filter_col`` value (filtered vector search — the metadata-constrained
    retrieval shape: per-tenant, per-language, per-license search).

    The filter joins INTO the candidate generation (pre-filter), not over
    the result (post-filter): a post-filtered top-k returns FEWER than k
    rows whenever the unfiltered top-k contains other-attribute vectors,
    while the pre-filter ranks inside the constrained subset — exact
    recall at k with cost |queries| x |matching slice| instead of
    |queries| x |corpus|.  At scale the equality predicate is the shuffle
    key: both sides hash-partition on ``filter_col`` so each task scores
    one attribute slice; nothing data-scaled broadcasts.
    """
    q = normalized(queries, id_col, "query_id", vec_col, "qv").join(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(filter_col).alias("__qf"),
        ),
        "query_id",
    )
    c = normalized(collection, id_col, "neighbor_id", vec_col, "cv").join(
        collection.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(filter_col).alias("__cf"),
        ),
        "neighbor_id",
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("__cf") == F.col("__qf"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "knn_rank")
    )
