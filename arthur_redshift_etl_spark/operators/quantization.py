"""Scalar (int8-style) embedding quantization and quantized similarity search.

The memory lever for ANN at 100 TB: a float32 embedding column shrinks 4×
when stored as int8 codes, the integer dot products are exact (no float
summation-order nondeterminism — scores are bit-reproducible across
engines, retries and partitionings), and SIMD integer math is faster than
float on scan-heavy search.

Scheme: symmetric global-max scaling.  ``scale = max(|x|)`` over the whole
corpus (one scalar), ``q_j = floor(x_j * qmax / scale + 0.5)``.  The
``floor(x+0.5)`` form (not ``round``) is deliberate: every engine
evaluates the identical IEEE expression, so quantized codes match
bit-for-bit across Spark/DuckDB — round() half-case conventions differ
between engines.  The corpus max enters the plan as a broadcast 1-row
aggregate cross join (no driver collect, same pattern as
``daily_event_anomaly_zscore``).

Integer dot products of qmax=127 codes over ≤8k dims stay under 2^53, so
even a double-typed SQL engine computes them exactly — which is what makes
the quantized-ANN oracle entry value-hashable while the float ANN entries
can only compare ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def corpus_abs_max(df: DataFrame, col: str = "embedding") -> DataFrame:
    """1-row DataFrame with the corpus-wide max |component| (as double)."""
    elem_abs = F.transform(F.col(col), lambda x: F.abs(x.cast("double")))
    return df.select(F.array_max(elem_abs).alias("row_max")).agg(
        F.max("row_max").cast("double").alias("scale")
    )


def quantize(
    df: DataFrame, col: str = "embedding", qmax: int = 127, out_col: str = "q"
) -> DataFrame:
    """Add an int-code array column; keeps all other columns.

    The scale joins in as a broadcast single-row aggregate — one job, no
    driver round-trip, and every executor quantizes against the identical
    scalar.
    """
    scale = F.broadcast(corpus_abs_max(df, col))
    q = F.transform(
        F.col(col),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(qmax)) / F.col("scale") + F.lit(0.5)
        ).cast("int"),
    )
    return df.crossJoin(scale).withColumn(out_col, q).drop("scale")


def dequantize(
    df: DataFrame, scale: float, q_col: str = "q", qmax: int = 127,
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse map (lossy): q * scale / qmax as double array."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda v: v.cast("double") * F.lit(scale) / F.lit(float(qmax)),
        ),
    )


def int_dot(a, b):
    """Exact integer dot product of two int-array columns (long-safe)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("long") * y.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_knn(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    q_col: str = "q",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k by exact integer dot product of quantized codes.

    Same shape as the float brute-force baseline (broadcast query set →
    map-only scoring scan → per-query top-k window) but the score column is
    a deterministic BIGINT, so results are value-comparable across engines,
    not just rank-comparable.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(q_col).alias("query_q")
        )
    )
    scored = (
        collection.select(F.col(id_col).alias("neighbor_id"), F.col(q_col))
        .join(q, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            int_dot(F.col("query_q"), F.col(q_col)).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "knn_rank", "score")
    )


# ---------------------------------------------------------------------------
# Product quantization (the OTHER memory lever: M subspace codes per vector
# instead of one scalar scale — the billion-vector IVF-PQ layout).  All
# arithmetic is micro-unit int64 (floor(x*1e6) per component), so codes,
# LUTs, and ADC scores are bit-identical across engines, retries and
# partitionings; the workload entries pq_adc_topk / pq_recall_eval /
# pq_train_codebooks oracle-verify these helpers end to end.
# ---------------------------------------------------------------------------

MICRO = 1_000_000


def micro_components(col=None):
    """array<long> of micro-unit components: floor(x * 1e6) per element."""
    col = F.col("embedding") if col is None else col
    return F.transform(col, lambda x: F.floor(x.cast("double") * MICRO).cast("long"))


def micro_list(vals) -> list:
    """Driver-side twin of :func:`micro_components` (identical IEEE ops)."""
    import math

    return [int(math.floor(float(x) * MICRO)) for x in vals]


def pq_subspace_distance(xm_col, codebook_vec: list, m: int, sub: int):
    """Exact int64 squared L2 between a row's m-th subvector (of ``xm_col``,
    a micro-unit array column) and a literal codebook subvector."""
    lits = F.array(
        *[F.lit(c).cast("long") for c in codebook_vec[m * sub : (m + 1) * sub]]
    )
    diffs = F.zip_with(
        F.slice(xm_col, m * sub + 1, sub), lits, lambda a, b: (a - b) * (a - b)
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, v: acc + v)


def pq_code(xm_col, codebooks: dict, m: int, sub: int):
    """The m-th PQ code for a row: argmin centroid by exact distance, ties
    to the lowest centroid id (lexicographic min of (d, cid) structs — no
    window, no shuffle; the codebook is a baked literal).  A null vector, or
    a null component in the subspace, has a null distance, which sorts
    first: such a row gets a null code, not the lowest centroid id."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    pq_subspace_distance(xm_col, codebooks[cid], m, sub).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid in sorted(codebooks)
            ]
        )
    )
    return F.when(best.getField("d").isNotNull(), best.getField("cid"))


def pq_encode(
    df: DataFrame,
    codebooks: dict,
    n_subspaces: int,
    sub_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code0..code{M-1}) — a pure map over the corpus (plan-pinned in
    test_plan_quality: no exchange, no join, no window).

    r14: delegates to :func:`pq_encode_arrow` — byte-identical codes to
    the :func:`pq_code` expression form (parity pinned in
    tests/test_pii_quantization.py), measured 5.7x faster at 2k vectors and
    10.1x at 640k (OPTIMIZATION_r14.md; the expression form's
    interpreted-HOF floor is ~2-3 s at ANY size, guide §4.2)."""
    return pq_encode_arrow(
        df, codebooks, n_subspaces, sub_dims, id_col, vec_col
    )


def pq_encode_arrow(
    df: DataFrame,
    codebooks: dict,
    n_subspaces: int,
    sub_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy twin of :func:`pq_encode` — byte-identical codes.

    Guide §4.2 shape: Spark distributes the scan, a ``mapInPandas`` stage
    hands whole batches to vectorized numpy, and only (id, vector) crosses
    the boundary.  Exactness argument, term by term vs the expression form:

    - micro units: ``np.floor(float64(x) * 1e6)`` — float32→float64 is an
      exact widening, the multiply and floor are the same IEEE-double ops
      Spark's ``floor(cast(x as double) * 1e6)`` performs;
    - distances: int64 differences/squares/sums, exact in both engines
      (micro components ~1e6 → per-subspace sums ~1e13, far inside int64);
    - argmin tie-break: ``np.argmin`` returns the FIRST minimum and the
      codebook axis is ordered by ascending centroid id — identical to the
      expression form's lexicographic ``array_min`` over (d, cid) structs.

    Parity with the expression form is pinned by test (multiset equality).
    """
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cids = sorted(codebooks)
    cb = np.array([codebooks[c] for c in cids], dtype=np.int64)  # K x dims
    cid_arr = np.array(cids, dtype=np.int64)
    # the id keeps its input type (int or long), as in the expression form
    schema = StructType(
        [df.schema[id_col]]
        + [StructField(f"code{m}", IntegerType()) for m in range(n_subspaces)]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            # micro units, exact in float64, on a NaN-filled rows x dims
            # grid: a null vector, a null component and the components a
            # short vector lacks read as NaN, and each gets a null code in
            # the subspaces it touches; components past dims are dropped.
            # Both match the expression form's per-subspace slices.
            vecs = pdf[vec_col].to_numpy()
            null = pdf[vec_col].isna().to_numpy()
            lens = np.zeros(len(pdf), dtype=np.int64)
            lens[~null] = [len(v) for v in vecs[~null]]
            xf = np.full((len(pdf), cb.shape[1]), np.nan)
            if lens.any():
                flat = np.concatenate(list(vecs[lens > 0])).astype(np.float64)
                row = np.repeat(np.arange(len(pdf)), lens)
                col = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
                keep = col < cb.shape[1]
                xf[row[keep], col[keep]] = np.floor(flat[keep] * 1e6)
            out = {id_col: pdf[id_col].to_numpy()}
            for m in range(n_subspaces):
                sub = xf[:, m * sub_dims:(m + 1) * sub_dims]
                missing = np.isnan(sub).any(axis=1)
                xm = np.where(missing[:, None], 0, sub).astype(np.int64)
                cm = cb[:, m * sub_dims:(m + 1) * sub_dims]
                d = ((xm[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
                code = cid_arr[np.argmin(d, axis=1)].astype(np.int32)
                out[f"code{m}"] = pd.arrays.IntegerArray(code, missing)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_adc_lut(query_micro: list, codebooks: dict, n_subspaces: int, sub_dims: int):
    """{(m, cid): exact int distance} computed driver-side in plain Python —
    the 32-entry table ADC scoring bakes in as map literals."""
    def d(m, cvec):
        return sum(
            (query_micro[i] - cvec[i]) ** 2
            for i in range(m * sub_dims, (m + 1) * sub_dims)
        )

    return {
        (m, cid): d(m, codebooks[cid])
        for m in range(n_subspaces)
        for cid in sorted(codebooks)
    }


def pq_adc_score(lut: dict, n_subspaces: int):
    """Column: asymmetric distance of an ENCODED row to the LUT's query —
    one map-literal lookup per subspace, summed.  Apply over the output of
    :func:`pq_encode`."""
    total = None
    for m in range(n_subspaces):
        lut_m = F.create_map(
            *[
                item
                for (mm, cid), dist in sorted(lut.items())
                if mm == m
                for item in (F.lit(cid), F.lit(dist).cast("long"))
            ]
        )
        term = lut_m[F.col(f"code{m}").cast("int")]
        total = term if total is None else total + term
    return total.cast("long")


def pq_train_iterations(
    df: DataFrame,
    codebooks: dict,
    n_subspaces: int,
    sub_dims: int,
    n_iters: int,
    vec_col: str = "embedding",
    micro_col: str = None,
) -> dict:
    """``n_iters`` Lloyd steps of per-subspace PQ codebook training; returns
    the refined codebooks dict (same keys, micro-unit int lists).

    Pass ``micro_col`` to train over an ALREADY-micro array column (e.g.
    the residuals from :func:`residual_micro`) instead of deriving micro
    components from ``vec_col``.

    Each iteration is fully distributed: assignment is a pure map over the
    corpus (current codebook baked as literals, the same argmin as
    :func:`pq_code`), the centroid update is ONE partial-combined groupBy
    producing M*K*SUB cells — output bounded by the codebook size
    regardless of corpus size — and only those cells (a few hundred longs)
    come back to the driver to bake the next iteration's literals.  The
    per-iteration driver traffic is O(M*K*SUB), not O(corpus).

    Centroid means are exact int64: SUM(xm) div n (truncating integer
    division — DuckDB's ``//`` and Spark's ``div`` agree on negatives,
    both toward zero), so iterated codebooks are bit-identical across
    engines, retries, and partitionings.  An empty (subspace, code) cell
    keeps its previous centroid (the standard Lloyd dead-centroid rule,
    and what the unrolled SQL oracle's LEFT JOIN + COALESCE encodes).
    """
    base = (
        df.select(F.col(micro_col).alias("xm"))
        if micro_col
        else df.select(micro_components(F.col(vec_col)).alias("xm"))
    )
    cb = {cid: list(vec) for cid, vec in codebooks.items()}
    for _ in range(n_iters):
        # r14 (guide §4.2 + §2.3): one Arrow pass per iteration replaces M
        # corpus scans through the interpreted pq_code HOFs plus an
        # M*SUB-rows-per-vector posexplode shuffle.  The numpy kernel is
        # the pq_encode_arrow assignment (same argmin, same int64
        # distances, np.argmin first-min == lexicographic (d, cid) min)
        # and the per-batch PARTIAL aggregation bounds the Python->JVM
        # rows and the shuffle at M*K*SUB cells per batch — corpus rows
        # never cross the boundary back.  Exactness: int64 component sums
        # in numpy == Spark's SUM(long); the final combine and the
        # toward-zero `div` stay in Spark exactly as before.
        cells = (
            _train_assign_cells_arrow(base, cb, n_subspaces, sub_dims)
            .groupBy("m", "code", "sub_dim")
            .agg(
                F.sum("s").cast("long").alias("s"),
                F.sum("n").cast("long").alias("n"),
            )
            .withColumn("cm", F.expr("s div n"))
            .collect()
        )
        new = {cid: list(vec) for cid, vec in cb.items()}
        for r in cells:
            new[r["code"]][r["m"] * sub_dims + r["sub_dim"]] = r["cm"]
        cb = new
    return cb


def _train_assign_cells_arrow(
    base: DataFrame, codebooks: dict, n_subspaces: int, sub_dims: int
) -> DataFrame:
    """Per-batch partial Lloyd cells for PQ training: (m, code, sub_dim,
    s, n) where s/n are the int64 component sum and count of the batch's
    vectors assigned to (m, code).  One corpus pass, output bounded by
    M*K*SUB rows per Arrow batch."""
    import numpy as np

    cids = sorted(codebooks)
    cb = np.array([codebooks[c] for c in cids], dtype=np.int64)
    cid_arr = np.array(cids, dtype=np.int64)

    def cells(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["xm"].to_numpy()).astype(np.int64)
            out_m, out_code, out_dim, out_s, out_n = [], [], [], [], []
            for m in range(n_subspaces):
                xm = x[:, m * sub_dims:(m + 1) * sub_dims]
                cm = cb[:, m * sub_dims:(m + 1) * sub_dims]
                d = ((xm[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
                code = cid_arr[np.argmin(d, axis=1)]
                for ci in cids:
                    mask = code == ci
                    n = int(mask.sum())
                    if not n:
                        continue
                    s = xm[mask].sum(axis=0)  # int64, exact
                    out_m.extend([m] * sub_dims)
                    out_code.extend([ci] * sub_dims)
                    out_dim.extend(range(sub_dims))
                    out_s.extend(int(v) for v in s)
                    out_n.extend([n] * sub_dims)
            yield pd.DataFrame(
                {
                    "m": pd.Series(out_m, dtype="int64"),
                    "code": pd.Series(out_code, dtype="int64"),
                    "sub_dim": pd.Series(out_dim, dtype="int32"),
                    "s": pd.Series(out_s, dtype="int64"),
                    "n": pd.Series(out_n, dtype="int64"),
                }
            )

    return base.mapInPandas(
        cells, "m long, code long, sub_dim int, s long, n long"
    )


def pq_adc_pool(
    coded: DataFrame,
    lut: dict,
    n_subspaces: int,
    pool_size: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Stage-2 candidate pool: map-only ADC rank over PQ codes -> the
    ``pool_size`` best candidate ids (ties to the lowest id).

    The input is :func:`pq_encode` output (4-byte codes, never float
    vectors); the score is a pure map (baked LUT literals), so the only
    gather is the bounded top-``pool_size`` — TakeOrderedAndProject, no
    shuffle, at any corpus size.
    """
    return (
        coded.select(id_col, pq_adc_score(lut, n_subspaces).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(pool_size)
        .select(id_col)
    )


def pq_exact_rerank(
    collection: DataFrame,
    pool: DataFrame,
    query_micro: list,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stage-3 exact rerank: micro-unit int64 squared-L2 rescore of ONLY
    the pool's float vectors -> the pool's true top-``k``.

    (id, exact_dist) with ties to the lowest id.  The float vectors are
    read for pool-size rows (a broadcast-joinable id list), never
    corpus-wide — recall becomes bounded by pool membership instead of
    codebook error (the fix for ADC's non-monotone-in-nprobe recall,
    SCALE.md r10).
    """
    qlits = F.array(*[F.lit(c).cast("long") for c in query_micro])
    exact_d = F.aggregate(
        F.zip_with(
            micro_components(F.col(vec_col)), qlits, lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        collection.join(pool, id_col)
        .select(id_col, exact_d.alias("exact_dist"))
        .orderBy("exact_dist", id_col)
        .limit(k)
    )


def ivfpq_search(
    collection: DataFrame,
    assignment: DataFrame,
    probe_ids: list,
    codebooks: dict,
    query_micro: list,
    n_subspaces: int,
    sub_dims: int,
    rerank_pool: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The complete three-stage IVF-PQ serving pipeline as ONE reusable
    operator (promoted from the ivfpq_rerank_search entry, VERDICT r10 #4):

    1. IVF coarse prune — keep only vectors whose inverted list is in the
       ``probe_ids`` schedule (per-query metadata, nprobe ids);
    2. ADC pool — encode the survivors to PQ codes and rank by the baked
       query LUT, down to ``rerank_pool`` candidates (map + TakeOrdered);
    3. exact rerank — rescore only the pool's float vectors, return the
       true top-``k``.

    Each stage touches an order of magnitude less data than the last
    (corpus -> nprobe/nlist of it as 4-byte codes -> pool-size floats) —
    the standard billion-vector serving layout.  ``assignment`` is the
    (id, centroid_id) coarse IVF assignment (e.g. ``similarity.ivf_assign``
    output, typically precomputed as the index build).
    """
    cand_ids = assignment.filter(
        F.col("centroid_id").isin(list(probe_ids))
    ).select(id_col)
    cand = collection.join(cand_ids, id_col)
    coded = pq_encode(cand, codebooks, n_subspaces, sub_dims, id_col, vec_col)
    lut = pq_adc_lut(query_micro, codebooks, n_subspaces, sub_dims)
    pool = pq_adc_pool(coded, lut, n_subspaces, rerank_pool, id_col)
    return pq_exact_rerank(collection, pool, query_micro, k, id_col, vec_col)


# --- residual IVF-PQ (the FAISS-standard layout) ---------------------------
# PQ over COARSE RESIDUALS x - c(x) instead of raw vectors: residual
# distributions are far tighter than the raw corpus, so the same code
# budget quantizes finer.  All micro-unit int64 (residual = int - int),
# which keeps every stage hash-oracle-able.


def residual_micro(
    df: DataFrame,
    assignment: DataFrame,
    centroids_micro: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, rm) — micro-unit residual arrays vs each row's
    assigned coarse centroid.

    ``centroids_micro`` is {centroid_id: micro vector} (a bounded driver
    literal, like PQ codebooks); the subtraction is a pure zip_with after
    a when-chain selects the assigned centroid's literal array — no
    second join for the centroid payload.  The only join is id->centroid
    (the IVF index itself); at scale the residual/codes table is the
    index build artifact, computed once.
    """
    cm = None
    for cid in sorted(centroids_micro):
        arr = F.array(
            *[F.lit(v).cast("long") for v in centroids_micro[cid]]
        )
        cm = (
            F.when(F.col("centroid_id") == cid, arr)
            if cm is None
            else cm.when(F.col("centroid_id") == cid, arr)
        )
    return (
        df.join(assignment, id_col)
        .select(
            F.col(id_col),
            "centroid_id",
            F.zip_with(
                micro_components(F.col(vec_col)), cm, lambda a, b: a - b
            ).alias("rm"),
        )
    )


def pq_encode_micro(
    df: DataFrame,
    micro_col: str,
    codebooks: dict,
    n_subspaces: int,
    sub_dims: int,
    id_col: str = "vec_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """:func:`pq_encode` over an ALREADY-micro array column (e.g. the
    residuals from :func:`residual_micro`) — same pure-map shape."""
    return df.select(
        id_col,
        *extra_cols,
        *[
            pq_code(F.col(micro_col), codebooks, m, sub_dims).alias(f"code{m}")
            for m in range(n_subspaces)
        ],
    )


def residual_adc_score(
    luts_by_bucket: dict,
    n_subspaces: int,
    centroid_col: str = "centroid_id",
):
    """Column: residual-ADC distance of an encoded row to the query.

    In residual IVF-PQ the query residual differs per inverted list
    (q - c_b), so there is one LUT per probed bucket; the score selects
    the row's own bucket's LUT via a when-chain and sums its M lookups —
    still a pure map (|probed buckets| x M x K literals, bounded)."""
    expr = None
    for b in sorted(luts_by_bucket):
        score_b = pq_adc_score(luts_by_bucket[b], n_subspaces)
        expr = (
            F.when(F.col(centroid_col) == b, score_b)
            if expr is None
            else expr.when(F.col(centroid_col) == b, score_b)
        )
    return expr.cast("long")
