"""Product quantization and IVF-PQ search: codebooks, ADC, probes,
residual and rerank search, rendezvous sharding, hybrid RRF."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import similarity as sim
from .core import query, t
from .pipeline import _init_centroids, _IVF_ASSIGN_CTE


# PQ layout: M subspaces x SUB dims (64-dim embeddings), K centroids per
# subspace; codebook = the first K vectors' subvectors (deterministic
# init-only codebook — the operator shape, not codebook quality, is what
# the oracle verifies).  All arithmetic in micro-unit int64: FLOOR(x*1e6)
# per component, squared-distance sums bounded by 16 * (4e6)^2 ~ 2.6e14.
PQ_M = 4
PQ_SUB = 16
PQ_K = 8
PQ_QUERY_ID = 42

# Every vector component in micro units, (vec_id, dim0, xm): the body of the
# ``ex`` CTE that the integer-exact embedding oracles start from.
_EX_MICRO = """SELECT vec_id, t.i - 1 AS dim0,
             CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS xm
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)"""
_EX_CTE = f"""ex AS (
      {_EX_MICRO}
    )"""
# Over ``ex``: the init-only codebook (the first PQ_K vectors) and every
# vector's squared distance to each centroid, per subspace ...
_PQ_DIST_CTES = f"""cb AS (SELECT vec_id AS cid, dim0, xm AS cm FROM ex WHERE vec_id < {PQ_K}),
    dist AS (
      SELECT e.vec_id, e.dim0 // {PQ_SUB} AS m, c.cid,
             SUM((e.xm - c.cm) * (e.xm - c.cm)) AS d
      FROM ex e JOIN cb c ON e.dim0 = c.dim0
      GROUP BY e.vec_id, e.dim0 // {PQ_SUB}, c.cid
    )"""
# ... and each vector's code: its nearest centroid per subspace, ties to the
# lowest centroid id.
_PQ_CODES_CTES = f"""{_PQ_DIST_CTES},
    codes AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM dist
      ) WHERE rk = 1
    )"""


def _init_codebooks(emb) -> tuple:
    """The init-only codebooks (the first PQ_K vectors) and the query
    vector, in micro units, collected to the driver in that order."""
    from ..operators import quantization as qz

    codebooks = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    return codebooks, query


@query(
    "pq_adc_topk",
    oracle=f"""
    WITH {_EX_CTE},
    {_PQ_CODES_CTES},
    lut AS (SELECT m, cid, d AS qd FROM dist WHERE vec_id = {PQ_QUERY_ID}),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
    description=(
        "product-quantization ANN search (the IVF-PQ memory half): "
        "4x16-dim subspaces, 8-centroid codebook per subspace (init-only "
        "deterministic codebook — first K vectors), asymmetric-distance "
        "(ADC) top-10 for a fixed query.  INTEGER-exact end to end "
        "(micro-unit components, squared-distance int64 sums), so the "
        "oracle verifies codes AND distances bit-for-bit.  The Spark "
        "plan is the PQ scale story itself: the codebook and the "
        "query's 32-entry LUT are LITERALS baked into row-local "
        "expressions (zip_with/aggregate over array slices, argmin as "
        "array_min over (d, cid) structs — ties to the lowest centroid "
        "like the rank formulation), so encoding + ADC scoring is a "
        "pure map over the corpus with ZERO data-scaled shuffles; the "
        "only gather is the top-k's TakeOrderedAndProject.  At 100 TB "
        "each vector costs M*K integer dot-sums in-scan and ships only "
        "its 4-byte code row — the same reason PQ is the standard "
        "billion-vector layout"
    ),
)
def pq_adc_topk(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    codebooks, query = _init_codebooks(emb)
    coded = qz.pq_encode(emb, codebooks, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    return (
        coded.select(
            "vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist")
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@query(
    "pq_recall_eval",
    oracle=f"""
    WITH {_EX_CTE},
    q AS (SELECT dim0, xm AS qm FROM ex WHERE vec_id = {PQ_QUERY_ID}),
    exact AS (
      SELECT e.vec_id, SUM((e.xm - q.qm) * (e.xm - q.qm)) AS d
      FROM ex e JOIN q ON e.dim0 = q.dim0
      GROUP BY e.vec_id
      ORDER BY d, vec_id LIMIT 10
    ),
    {_PQ_CODES_CTES},
    lut AS (SELECT m, cid, d AS qd FROM dist WHERE vec_id = {PQ_QUERY_ID}),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
      ORDER BY adc_dist, vec_id LIMIT 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / 10 AS recall_at_10
    FROM adc JOIN exact ON adc.vec_id = exact.vec_id
    """,
    description=(
        "recall@10 of the PQ/ADC search against the exact micro-unit L2 "
        "top-10 (same query, same integer arithmetic) — the index-"
        "quality loop that decides M/K/codebook refresh, mirroring "
        "ann_ivf_recall_eval for the IVF half.  Both rankings are "
        "integer-exact with vec_id tiebreaks, so the overlap count is "
        "deterministic; the exact side is itself map-only (query "
        "literal in a zip_with) + TakeOrdered, the ADC side is the "
        "pq_adc_topk plan, and the final overlap joins two 10-row sets"
    ),
)
def pq_recall_eval(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    xm = qz.micro_components()
    qlits = F.array(*[F.lit(c).cast("long") for c in query])
    exact_d = F.aggregate(
        F.zip_with(xm, qlits, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact = (
        emb.select("vec_id", exact_d.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    approx = pq_adc_topk(spark, sf_dir).select("vec_id")
    n = F.count(F.lit(1)).cast("long")
    return approx.join(exact, "vec_id").agg(
        n.alias("n_overlap"),
        (n.cast("double") / F.lit(10)).alias("recall_at_10"),
    )


@query(
    "pq_train_codebooks",
    oracle=f"""
    WITH {_EX_CTE},
    {_PQ_CODES_CTES}
    SELECT c.m, c.code, e.dim0,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(e.xm) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid
    FROM codes c
    JOIN ex e ON e.vec_id = c.vec_id AND e.dim0 // {PQ_SUB} = c.m
    GROUP BY c.m, c.code, e.dim0
    """,
    description=(
        "ONE Lloyd step of per-subspace PQ codebook training: assign "
        "every subvector to its nearest current centroid (the same "
        "integer-exact argmin as pq_adc_topk), then the element-wise "
        "mean of each (subspace, code) cell's members — micro-unit "
        "sums stay integer, one division per output cell.  This is the "
        "quality lever the ADC entries deliberately hold fixed: "
        "iterate it to convergence and the recall measured by "
        "pq_recall_eval rises.  Scale shape mirrors "
        "kmeans_single_iteration at subspace grain: assignment is a "
        "map over the corpus (literal codebook), the mean aggregation "
        "shuffles one row per (vector, subspace, dim) partial-combined "
        "down to M*K*SUB output cells — bounded output regardless of "
        "corpus size"
    ),
)
def pq_train_codebooks(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    first = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    base = emb.select("vec_id", qz.micro_components().alias("xm"))

    # one output row per (subspace, dim) per vector, tagged with the
    # vector's code in that subspace: posexplode the subvector so the mean
    # aggregation is a single partial-combined groupBy
    per_m = []
    for m in range(PQ_M):
        code = qz.pq_code(F.col("xm"), first, m, PQ_SUB)
        per_m.append(
            base.select(
                F.lit(m).cast("long").alias("m"),
                code.cast("long").alias("code"),
                F.slice(F.col("xm"), m * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            .select(
                "m", "code", F.posexplode(F.col("sub")).alias("sub_dim", "x")
            )
            .select(
                "m",
                "code",
                (F.col("sub_dim") + m * PQ_SUB).cast("long").alias("dim0"),
                "x",
            )
        )
    ex = per_m[0]
    for df in per_m[1:]:
        ex = ex.unionAll(df)
    return ex.groupBy("m", "code", "dim0").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum("x").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)
        ).alias("centroid"),
    )


@query(
    "weighted_median_by_flag",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag, l_extendedprice AS val,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    c AS (
      SELECT flag, val, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS cumw
      FROM v
    ),
    tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS wg FROM v GROUP BY flag)
    SELECT c.flag, MIN(CASE WHEN 2 * c.cumw >= tot.wg THEN c.val END)
             AS weighted_median,
           tot.wg AS total_weight
    FROM c JOIN tot ON c.flag = tot.flag
    GROUP BY c.flag, tot.wg
    """,
    description=(
        "per-group (return flag) quantity-weighted median of the "
        "line-item price — the grouped counterpart of "
        "weighted_median_price, and the skew-proof alternative to the "
        "per-stratum cumsum window the round-8 audit banned: ONE global "
        "running sum over (group, value) — groups are contiguous in the "
        "range layout, so each group's cumulative weight is the global "
        "one minus a per-group offset, recovered as min(cum - w) per "
        "group (the running sum just before the group's first row; "
        "exact because the sum is monotone in the pinned layout).  The "
        "offsets/totals table is |groups| rows, budget-gate broadcast "
        "back; the crossing rule 2*(cum-off) >= W_g stays integer.  A "
        "90%-mass group costs the same as a balanced one — the range "
        "shuffle splits it across partitions, where PARTITION BY flag "
        "would sort it in one task.  Grouping keys here are non-null "
        "(returnflag); a nullable key would need the null-safe join of "
        "the grouped-rank helper"
    ),
)
def weighted_median_by_flag(spark, sf_dir):
    from ..operators.identity import global_running_sum
    from ..plans.broadcast import broadcast_within_budget

    li = t(spark, sf_dir, "lineitem")
    v = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("val"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    cum, _ = global_running_sum(v, ["flag", "val"], "w", "gcum")
    offsets = cum.groupBy("flag").agg(
        F.min(F.col("gcum") - F.col("w")).alias("off"),
        F.sum("w").cast("long").alias("wg"),
    )
    n_groups = offsets.count()
    j = cum.join(
        broadcast_within_budget(
            offsets.select(
                F.col("flag").alias("__g_flag"), "off", "wg"
            ),
            n_groups,
        ),
        F.col("flag") == F.col("__g_flag"),
    )
    return (
        j.filter(
            F.lit(2) * (F.col("gcum") - F.col("off")) >= F.col("wg")
        )
        .groupBy("flag", "wg")
        .agg(F.min("val").alias("weighted_median"))
        .select("flag", "weighted_median", F.col("wg").alias("total_weight"))
    )


@query(
    "ivfpq_search",
    oracle=_IVF_ASSIGN_CTE
    + f"""
    , qbucket AS (
      SELECT centroid_id FROM assign WHERE vec_id = {PQ_QUERY_ID}
    ),
    cand AS (
      SELECT a.vec_id FROM assign a JOIN qbucket q
        ON a.centroid_id = q.centroid_id
    ),
    {_EX_CTE},
    cb AS (SELECT vec_id AS cid, dim0, xm AS cm FROM ex WHERE vec_id < {PQ_K}),
    dist AS (
      SELECT e.vec_id, e.dim0 // {PQ_SUB} AS m, c.cid,
             SUM((e.xm - c.cm) * (e.xm - c.cm)) AS d
      FROM ex e JOIN cb c ON e.dim0 = c.dim0
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
         OR e.vec_id = {PQ_QUERY_ID}
      GROUP BY e.vec_id, e.dim0 // {PQ_SUB}, c.cid
    ),
    codes AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM dist WHERE vec_id IN (SELECT vec_id FROM cand)
      ) WHERE rk = 1
    ),
    lut AS (SELECT m, cid, d AS qd FROM dist WHERE vec_id = {PQ_QUERY_ID}),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 5
    """,
    description=(
        "IVF-PQ search — the composed billion-vector architecture: the "
        "coarse IVF quantizer (cosine nearest-centroid, the proven "
        "ann_ivf_* assignment) prunes the corpus to the query's bucket, "
        "and PQ/ADC (integer-exact codes + the baked query LUT) ranks "
        "only those candidates; top-5 by ADC distance with vec_id "
        "tiebreak.  The two prunes compose multiplicatively at scale: "
        "IVF cuts candidates to ~1/nlist of the corpus (a "
        "partition-pruned scan when the codes table is written "
        "bucket-partitioned), ADC then reads 4 bytes per survivor "
        "instead of the float vector.  Everything data-scaled is a map "
        "or a broadcast-pruned scan; the only gather is the top-k"
    ),
)
def ivfpq_search(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    # the probe bucket is a 1-row driver lookup (same pattern as the
    # winsorized-mean rank cuts), so the candidate filter is a literal —
    # no broadcast of a fact-derived subtree, plain hash join on vec_id
    qc = assign.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0][
        "centroid_id"
    ]
    cand_ids = assign.filter(F.col("centroid_id") == qc).select("vec_id")
    cand = emb.join(cand_ids, "vec_id")
    codebooks, query = _init_codebooks(emb)
    coded = qz.pq_encode(cand, codebooks, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    return (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(5)
    )


def _pq_probe_ids(emb, nprobe: int) -> list:
    """Ordered list of the query's ``nprobe`` nearest IVF centroid ids
    (cosine desc, centroid_id tiebreak) — the multiprobe schedule.

    Computed with the SAME Spark expressions as the coarse assignment
    (normalized + sequential dot), then collected: a bounded driver
    lookup of at most ``nprobe`` ids (the probe schedule is per-query
    metadata, like ivfpq_search's single bucket id — never data-scaled).
    """
    cent = sim.normalized(
        emb.filter(F.col("vec_id") < PQ_K),
        "vec_id",
        "centroid_id",
        "embedding",
        "cv",
    )
    q = sim.normalized(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID),
        "vec_id",
        "query_id",
        "embedding",
        "qv",
    )
    rows = (
        cent.crossJoin(F.broadcast(q))
        .select(
            "centroid_id", sim.dot(F.col("cv"), F.col("qv")).alias("s")
        )
        .orderBy(F.desc("s"), "centroid_id")
        .limit(nprobe)
        .collect()
    )
    return [r["centroid_id"] for r in rows]


_IVFPQ_PROBE_CTE = f"""
    , probe AS (
      SELECT centroid_id, prk FROM (
        SELECT cent.centroid_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(qv.vv, cent.cv) DESC,
                          cent.centroid_id
               ) AS prk
        FROM cent, (SELECT vv FROM v WHERE vec_id = {PQ_QUERY_ID}) qv
      ) WHERE prk <= 4
    )
"""

_PQ_CODES_CTE = f"""
    , {_EX_CTE},
    {_PQ_CODES_CTES},
    lut AS (SELECT m, cid, d AS qd FROM dist WHERE vec_id = {PQ_QUERY_ID})
"""


@query(
    "ivfpq_multiprobe",
    oracle=_IVF_ASSIGN_CTE
    + _IVFPQ_PROBE_CTE
    + _PQ_CODES_CTE
    + f"""
    , cand AS (
      SELECT a.vec_id FROM assign a
      JOIN probe p ON a.centroid_id = p.centroid_id AND p.prk <= 2
    ),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM cand cd
      JOIN codes c ON c.vec_id = cd.vec_id
      JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 5
    """,
    description=(
        "IVF-PQ search probing the query's 2 nearest coarse buckets "
        "(nprobe — the recall lever the single-bucket ivfpq_search "
        "lacks, and the known recall cliff of one-probe IVF-PQ): the "
        "probe schedule is the cosine-ranked top-nprobe centroid list "
        "(bounded driver lookup, per-query metadata), candidates are "
        "the union of the probed inverted lists (disjoint by "
        "construction — each vector lives in exactly one bucket, no "
        "dedup), and PQ/ADC ranks the survivors integer-exactly; "
        "top-5 with vec_id tiebreak.  Cost scales as nprobe/nlist of "
        "the corpus per query while the ADC read stays 4 bytes per "
        "candidate — the standard recall/latency dial of the "
        "billion-vector layout"
    ),
)
def ivfpq_multiprobe(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    probe_ids = _pq_probe_ids(emb, 2)
    cand_ids = assign.filter(F.col("centroid_id").isin(probe_ids)).select(
        "vec_id"
    )
    cand = emb.join(cand_ids, "vec_id")
    codebooks, query = _init_codebooks(emb)
    coded = qz.pq_encode(cand, codebooks, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    return (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(5)
    )


@query(
    "ivfpq_recall_eval",
    oracle=_IVF_ASSIGN_CTE
    + _IVFPQ_PROBE_CTE
    + _PQ_CODES_CTE
    + f"""
    , nps AS (SELECT * FROM (VALUES (1), (2), (4)) t(np)),
    cand AS (
      SELECT n.np, a.vec_id
      FROM assign a
      JOIN probe p ON a.centroid_id = p.centroid_id
      JOIN nps n ON p.prk <= n.np
    ),
    adc AS (
      SELECT cd.np, c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM cand cd
      JOIN codes c ON c.vec_id = cd.vec_id
      JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY cd.np, c.vec_id
    ),
    ranked AS (
      SELECT np, vec_id FROM (
        SELECT np, vec_id,
               ROW_NUMBER() OVER (PARTITION BY np ORDER BY adc_dist, vec_id)
                 AS rk
        FROM adc
      ) WHERE rk <= 10
    ),
    q2 AS (SELECT dim0, xm AS qm FROM ex WHERE vec_id = {PQ_QUERY_ID}),
    exact AS (
      SELECT e.vec_id
      FROM ex e JOIN q2 ON e.dim0 = q2.dim0
      GROUP BY e.vec_id
      ORDER BY SUM((e.xm - q2.qm) * (e.xm - q2.qm)), e.vec_id
      LIMIT 10
    ),
    adc_hit AS (
      SELECT r.np,
             CAST(COUNT(e.vec_id) AS BIGINT) AS n_overlap,
             CAST(COUNT(e.vec_id) AS DOUBLE) / 10 AS recall_at_10
      FROM ranked r LEFT JOIN exact e ON r.vec_id = e.vec_id
      GROUP BY r.np
    ),
    cand_hit AS (
      SELECT cd.np, CAST(COUNT(*) AS BIGINT) AS n_cand_hit
      FROM cand cd JOIN exact e ON cd.vec_id = e.vec_id
      GROUP BY cd.np
    )
    SELECT CAST(a.np AS BIGINT) AS nprobe, a.n_overlap, a.recall_at_10,
           CAST(COALESCE(c.n_cand_hit, 0) AS BIGINT) AS n_cand_hit,
           CAST(COALESCE(c.n_cand_hit, 0) AS DOUBLE) / 10
             AS cand_recall_at_10
    FROM adc_hit a LEFT JOIN cand_hit c ON a.np = c.np
    """,
    description=(
        "recall@10 of the composed IVF-PQ index at nprobe 1/2/4 against "
        "the exact micro-unit L2 top-10 — closes the quality loop on "
        "the composed index the way ann_ivf_recall_eval and "
        "pq_recall_eval do for its halves, measuring the whole nprobe "
        "curve in one pass (candidate sets nest, so the corpus is "
        "encoded ONCE for the widest probe schedule and each narrower "
        "nprobe is a filter on the probe rank).  TWO recalls per "
        "nprobe, because they answer different questions: CANDIDATE "
        "recall (exact-top-10 members inside the probed lists) is "
        "monotone in nprobe by construction — the IVF lever, pinned by "
        "test — while ADC-ranked recall is NOT guaranteed monotone: "
        "widening the probe admits quantization-error impostors that "
        "can displace true neighbors from the approximate top-10 (the "
        "gap between the two columns is exactly the codebook error the "
        "trained-codebook entries attack).  Integer-exact distances "
        "and vec_id tiebreaks keep every number deterministic; the "
        "per-nprobe top-10 window is bounded by the probed lists"
    ),
)
def ivfpq_recall_eval(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    probe_ids = _pq_probe_ids(emb, 4)
    prk_map = F.create_map(
        *[
            item
            for i, cid in enumerate(probe_ids)
            for item in (F.lit(cid), F.lit(i + 1))
        ]
    )
    # persist: cand feeds three consumers (the encode filter, the ADC-score
    # join, and cand_hit via expanded) — unpinned each re-runs the corpus
    # ivf_assign broadcast-argmin chain (r13 pin sweep 2)
    cand = (
        assign.filter(F.col("centroid_id").isin(probe_ids))
        .select("vec_id", prk_map[F.col("centroid_id")].alias("prk"))
        .persist()
    )
    codebooks, query = _init_codebooks(emb)
    coded = qz.pq_encode(
        emb.join(cand.select("vec_id"), "vec_id"), codebooks, PQ_M, PQ_SUB
    )
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    # persist: scored feeds both the per-nprobe top-10 window chain and
    # cand_hit; unpinned each re-runs pq_encode + the ADC LUT aggregate
    scored = (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .join(cand, "vec_id")
        .persist()
    )
    expanded = scored.select(
        "vec_id",
        "adc_dist",
        "prk",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("np"),
    ).filter(F.col("prk") <= F.col("np"))
    w = Window.partitionBy("np").orderBy("adc_dist", "vec_id")
    ranked = (
        expanded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("np", "vec_id")
    )
    xm = qz.micro_components()
    qlits = F.array(*[F.lit(c).cast("long") for c in query])
    exact_d = F.aggregate(
        F.zip_with(xm, qlits, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # persist: the 10-row exact top-k joins twice (adc_hit, cand_hit);
    # unpinned each join side re-runs the full-corpus exact-distance scan
    exact = (
        emb.select("vec_id", exact_d.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id", F.lit(1).alias("in_exact"))
        .persist()
    )
    adc_hit = (
        ranked.join(exact, "vec_id", "left")
        .groupBy("np")
        .agg(
            F.sum(F.coalesce(F.col("in_exact"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
            (
                F.sum(F.coalesce(F.col("in_exact"), F.lit(0))).cast("double")
                / F.lit(10)
            ).alias("recall_at_10"),
        )
    )
    cand_hit = (
        expanded.select("np", "vec_id")
        .join(exact, "vec_id")
        .groupBy("np")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cand_hit"))
    )
    return (
        adc_hit.join(cand_hit.withColumnRenamed("np", "c_np"),
                     F.col("np") == F.col("c_np"), "left")
        .select(
            F.col("np").cast("long").alias("nprobe"),
            "n_overlap",
            "recall_at_10",
            F.coalesce(F.col("n_cand_hit"), F.lit(0))
            .cast("long")
            .alias("n_cand_hit"),
            (
                F.coalesce(F.col("n_cand_hit"), F.lit(0)).cast("double")
                / F.lit(10)
            ).alias("cand_recall_at_10"),
        )
    )


def _pq_train_sql_ctes(n_iters: int, k: int = PQ_K, sub: int = PQ_SUB) -> tuple:
    """Unrolled SQL for ``n_iters`` Lloyd steps over the PQ codebook —
    the oracle twin of quantization.pq_train_iterations.  Returns
    (cte_sql, last_cb_name, last_dist_name): each iteration assigns codes
    against the previous codebook, updates centroids as exact truncating
    integer means (``s // n`` — DuckDB and Spark ``div`` agree toward
    zero), and keeps the previous centroid for empty cells (LEFT JOIN +
    COALESCE)."""
    parts = [
        f"""
    WITH {_EX_CTE},
    cb0 AS (
      SELECT vec_id AS cid, dim0, dim0 // {sub} AS m, xm AS cm
      FROM ex WHERE vec_id < {k}
    )"""
    ]
    prev = "cb0"
    last_dist = None
    for i in range(1, n_iters + 1):
        parts.append(
            f""",
    dist{i} AS (
      SELECT e.vec_id, e.dim0 // {sub} AS m, b.cid,
             SUM((e.xm - b.cm) * (e.xm - b.cm)) AS d
      FROM ex e JOIN {prev} b ON e.dim0 = b.dim0
      GROUP BY e.vec_id, e.dim0 // {sub}, b.cid
    ),
    codes{i} AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM dist{i}
      ) WHERE rk = 1
    ),
    means{i} AS (
      SELECT c.m, c.code AS cid, e.dim0,
             SUM(e.xm) AS s, COUNT(*) AS n
      FROM codes{i} c
      JOIN ex e ON e.vec_id = c.vec_id AND e.dim0 // {sub} = c.m
      GROUP BY c.m, c.code, e.dim0
    ),
    cb{i} AS (
      SELECT b.cid, b.dim0, b.m, COALESCE(mm.s // mm.n, b.cm) AS cm
      FROM {prev} b
      LEFT JOIN means{i} mm
        ON mm.m = b.m AND mm.cid = b.cid AND mm.dim0 = b.dim0
    )"""
        )
        prev = f"cb{i}"
        last_dist = f"dist{i}"
    return "".join(parts), prev, last_dist


PQ_TRAIN_ITERS = 2

_PQ_TRAIN_CTES_2, _PQ_TRAIN_CB_2, _ = _pq_train_sql_ctes(PQ_TRAIN_ITERS)
# one extra unrolled step: dist3/codes3 are the encode+LUT of the
# 2-iteration-trained codebook (cb2), which is what the trained search uses
_PQ_TRAIN_CTES_3, _, _PQ_TRAIN_DIST_3 = _pq_train_sql_ctes(PQ_TRAIN_ITERS + 1)


_PQ_TRAINED_MEMO: dict = {}


def _trained_pq_codebooks(spark, sf_dir, m: int = None, sub: int = None, k: int = None):
    """(init, trained) codebooks for this corpus, memoized per process.

    The trained-search entries (pq_train_iterated, pq_adc_topk_trained,
    ivfpq_trained_multiprobe, pq_adc_topk_trained_big) consume the
    identical deterministic training run; in one driver process (the
    correctness gate, bench) only the first pays the two Lloyd passes —
    the production shape, where a trained codebook is an artifact
    amortized across every query, not a per-query cost.  Keyed by the
    corpus file identity ((path, mtime_ns, size), like the duckdb mirror
    cache) plus the codebook geometry, so a regenerated corpus — or a
    different (M, K) — retrains.
    """
    from ..operators import quantization as qz

    m = PQ_M if m is None else m
    sub = PQ_SUB if sub is None else sub
    k = PQ_K if k is None else k
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = (os.path.abspath(src), st.st_mtime_ns, st.st_size,
           PQ_TRAIN_ITERS, m, sub, k)
    if key in _PQ_TRAINED_MEMO:
        return _PQ_TRAINED_MEMO[key]
    emb = t(spark, sf_dir, "embeddings")
    init = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < k).collect()
    }
    trained = qz.pq_train_iterations(emb, init, m, sub, PQ_TRAIN_ITERS)
    _PQ_TRAINED_MEMO[key] = (init, trained)
    return init, trained


@query(
    "pq_train_iterated",
    oracle=_PQ_TRAIN_CTES_2
    + f"""
    SELECT CAST(b.m AS BIGINT) AS m, CAST(b.cid AS BIGINT) AS code,
           CAST(b.dim0 AS BIGINT) AS dim0, CAST(b.cm AS BIGINT) AS cm_micro
    FROM {_PQ_TRAIN_CB_2} b
    """,
    description=(
        "PQ codebook after TWO full Lloyd iterations (assign -> exact "
        "integer centroid update -> reassign -> update), wired through "
        "quantization.pq_train_iterations — the codebook-production path "
        "the trained ADC search consumes, vs pq_train_codebooks' single "
        "isolated step.  Per iteration: assignment is a pure map "
        "(current codebook baked as literals), the update is one "
        "partial-combined groupBy down to M*K*SUB cells, and only those "
        "~512 longs return to the driver to bake the next iteration — "
        "driver traffic is codebook-sized, never corpus-sized.  "
        "Centroid means are truncating int64 division (s div n), empty "
        "cells keep their previous centroid, so the trained codebook is "
        "bit-identical across engines and the oracle verifies both "
        "iterations end to end"
    ),
)
def pq_train_iterated(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    _, trained = _trained_pq_codebooks(spark, sf_dir)
    rows = [
        (m, int(cid), m * PQ_SUB + j, int(vec[m * PQ_SUB + j]))
        for cid, vec in sorted(trained.items())
        for m in range(PQ_M)
        for j in range(PQ_SUB)
    ]
    schema = StructType(
        [
            StructField("m", LongType()),
            StructField("code", LongType()),
            StructField("dim0", LongType()),
            StructField("cm_micro", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "pq_adc_topk_trained",
    oracle=_PQ_TRAIN_CTES_3
    + f"""
    , lutq AS (
      SELECT m, cid, d AS qd FROM {_PQ_TRAIN_DIST_3} WHERE vec_id = {PQ_QUERY_ID}
    ),
    codesq AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM {_PQ_TRAIN_DIST_3}
      ) WHERE rk = 1
    ),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codesq c JOIN lutq l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
    description=(
        "ADC top-10 over codes from the 2-iteration TRAINED codebook — "
        "pq_adc_topk with the quality lever engaged: "
        "pq_train_iterations produces the codebook (distributed Lloyd "
        "steps, bounded driver traffic), then the search plan is "
        "identical to the init-only entry — literal codebook + 32-entry "
        "LUT, encode+score as a pure map, TakeOrdered top-k.  Training "
        "cost amortizes across every query; the per-query plan shape "
        "(and its 100 TB story) is unchanged.  The measured recall "
        "delta vs the init-only codebook is in SCALE.md "
        "(scripts/pq_trained_recall_ab.py)"
    ),
)
def pq_adc_topk_trained(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    _, trained = _trained_pq_codebooks(spark, sf_dir)
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    coded = qz.pq_encode(emb, trained, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, trained, PQ_M, PQ_SUB)
    return (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# Bigger-codebook tier (VERDICT r10 #5): M=8 subspaces x K=16 centroids
# over the same 64-dim embeddings (sub=8 dims/subspace, 32-bit codes) vs
# the 12-bit demo (M=4 x K=8).  The recall table in SCALE.md showed the
# 12-bit codebook is the quality bottleneck (ADC recall 0.2 vs candidate
# 0.8); this tier measures what codebook size buys at identical pipeline.
PQ_BIG_M = 8
PQ_BIG_SUB = 8
PQ_BIG_K = 16

_PQ_BIG_CTES_3, _, _PQ_BIG_DIST_3 = _pq_train_sql_ctes(
    PQ_TRAIN_ITERS + 1, k=PQ_BIG_K, sub=PQ_BIG_SUB
)


@query(
    "pq_adc_topk_trained_big",
    oracle=_PQ_BIG_CTES_3
    + f"""
    , lutq AS (
      SELECT m, cid, d AS qd FROM {_PQ_BIG_DIST_3} WHERE vec_id = {PQ_QUERY_ID}
    ),
    codesq AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM {_PQ_BIG_DIST_3}
      ) WHERE rk = 1
    ),
    adc AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codesq c JOIN lutq l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
    description=(
        "ADC top-10 with the 32-bit trained codebook (M=8 x K=16, sub=8) "
        "— the codebook-quality lever the 12-bit demo left on the table: "
        "same 2-iteration Lloyd training (pq_train_iterations, bounded "
        "M*K*SUB driver traffic), same pure-map encode+LUT search plan, "
        "4x the code bits.  Measured recall@10 next to the 12-bit curve "
        "in SCALE.md (scripts/pq_codebook_size_ab.py): the production "
        "fix when ADC-ranked recall plateaus in nprobe is a bigger/"
        "better codebook, not more probes.  Per-row LUT cost is M map "
        "lookups (8 vs 4) — still constant per row at any corpus size"
    ),
)
def pq_adc_topk_trained_big(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    _, trained = _trained_pq_codebooks(
        spark, sf_dir, m=PQ_BIG_M, sub=PQ_BIG_SUB, k=PQ_BIG_K
    )
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    coded = qz.pq_encode(emb, trained, PQ_BIG_M, PQ_BIG_SUB)
    lut = qz.pq_adc_lut(query, trained, PQ_BIG_M, PQ_BIG_SUB)
    return (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_BIG_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@query(
    "embedding_dim_stats",
    oracle=f"""
    WITH {_EX_CTE}
    SELECT CAST(dim0 AS BIGINT) AS dim0,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(xm) // COUNT(*) AS BIGINT) AS mean_micro,
           CAST(SUM(xm * xm) // COUNT(*)
                - (SUM(xm) // COUNT(*)) * (SUM(xm) // COUNT(*)) AS BIGINT)
             AS var_micro2,
           CAST(MIN(xm) AS BIGINT) AS min_micro,
           CAST(MAX(xm) AS BIGINT) AS max_micro
    FROM ex GROUP BY dim0
    """,
    description=(
        "per-dimension embedding statistics (mean/variance/min/max in "
        "micro units, integer-exact truncating division) — the stats "
        "table a standardization/whitening preprocessing step consumes "
        "before PQ or cosine indexing, and the drift monitor compares "
        "across corpus snapshots.  One partial-combined groupBy keyed "
        "by dim0; output is |dims| rows at any corpus size.  Variance "
        "is the integer E[x^2] - E[x]^2 form — deterministic and "
        "hash-verifiable where a float aggregate would be "
        "accumulation-order-dependent"
    ),
)
def embedding_dim_stats(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    exm = emb.select(
        F.posexplode(qz.micro_components()).alias("dim0", "xm")
    )
    return (
        exm.groupBy(F.col("dim0").cast("long").alias("dim0"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xm").cast("long").alias("s"),
            F.sum(F.col("xm") * F.col("xm")).cast("long").alias("sq"),
            F.min("xm").cast("long").alias("min_micro"),
            F.max("xm").cast("long").alias("max_micro"),
        )
        .select(
            "dim0",
            "n",
            F.expr("s div n").cast("long").alias("mean_micro"),
            F.expr("sq div n - (s div n) * (s div n)")
            .cast("long")
            .alias("var_micro2"),
            "min_micro",
            "max_micro",
        )
    )


# The embeddings table is fixed at 64 dims (TESTDATA.md); the L2 coarse
# quantizer is PQ with ONE subspace spanning the whole vector.
EMB_DIMS = 64

_L2C_CTES_3, _, _L2C_DIST_3 = _pq_train_sql_ctes(
    PQ_TRAIN_ITERS + 1, k=PQ_K, sub=EMB_DIMS
)


@query(
    "ivf_l2_trained_buckets",
    oracle=_L2C_CTES_3
    + f"""
    , fassign AS (
      SELECT vec_id, cid AS centroid_id FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
        FROM {_L2C_DIST_3}
      ) WHERE rk = 1
    )
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM fassign GROUP BY centroid_id
    """,
    description=(
        "L2-TRAINED coarse quantizer (the metric-matched IVF index "
        "build the residual A/B identified as the production "
        "prerequisite): an L2 kmeans over whole vectors is exactly PQ "
        "with M=1/SUB=dims, so the same pq_train_iterations runs 2 "
        "distributed Lloyd steps (integer-exact centroid updates, "
        "K x dims driver traffic per iteration) and the same unrolled "
        "training CTEs oracle it; assignment is the pure-map pq_code "
        "argmin (squared-L2, ties to the lowest centroid — matching "
        "the ADC metric, unlike the cosine ivf_assign family).  Output "
        "is the trained inverted-list sizes.  scripts/"
        "residual_pq_recall_ab.py measures what this buys: variance "
        "ratio 1.62 -> 0.93, residual recall 0.08 -> 0.19"
    ),
)
def ivf_l2_trained_buckets(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    _, cents = _trained_pq_codebooks(spark, sf_dir, m=1, sub=EMB_DIMS, k=PQ_K)
    assign = emb.select(
        "vec_id",
        qz.pq_code(qz.micro_components(), cents, 0, EMB_DIMS).alias(
            "centroid_id"
        ),
    )
    return assign.groupBy(
        F.col("centroid_id").cast("long").alias("centroid_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


@query(
    "ivfpq_residual_search",
    oracle=_IVF_ASSIGN_CTE
    + _IVFPQ_PROBE_CTE
    + f"""
    , {_EX_CTE},
    exc AS (SELECT vec_id AS cid, dim0, xm AS cm FROM ex WHERE vec_id < {PQ_K}),
    rm AS (
      SELECT e.vec_id, a.centroid_id, e.dim0, e.xm - c.cm AS rm
      FROM ex e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN exc c ON c.cid = a.centroid_id AND c.dim0 = e.dim0
    ),
    rcb AS (
      SELECT vec_id AS cid, dim0, rm AS cm FROM rm
      WHERE vec_id >= {PQ_K} AND vec_id < {2 * PQ_K}
    ),
    rdist AS (
      SELECT r.vec_id, r.dim0 // {PQ_SUB} AS m, c.cid,
             SUM((r.rm - c.cm) * (r.rm - c.cm)) AS d
      FROM rm r JOIN rcb c ON c.dim0 = r.dim0
      GROUP BY r.vec_id, r.dim0 // {PQ_SUB}, c.cid
    ),
    rcodes AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM rdist
      ) WHERE rk = 1
    ),
    qr AS (
      SELECT p.centroid_id AS b, e.dim0, e.xm - c.cm AS qm
      FROM probe p
      JOIN exc c ON c.cid = p.centroid_id
      JOIN ex e ON e.dim0 = c.dim0 AND e.vec_id = {PQ_QUERY_ID}
      WHERE p.prk <= 2
    ),
    rlut AS (
      SELECT qr.b, cb2.cid, qr.dim0 // {PQ_SUB} AS m,
             SUM((qr.qm - cb2.cm) * (qr.qm - cb2.cm)) AS qd
      FROM qr JOIN rcb cb2 ON cb2.dim0 = qr.dim0
      GROUP BY qr.b, cb2.cid, qr.dim0 // {PQ_SUB}
    ),
    radc AS (
      SELECT cd.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM rcodes cd
      JOIN assign a ON a.vec_id = cd.vec_id
      JOIN rlut l ON l.b = a.centroid_id AND l.m = cd.m AND l.cid = cd.code
      GROUP BY cd.vec_id
    )
    SELECT vec_id, adc_dist FROM radc ORDER BY adc_dist, vec_id LIMIT 10
    """,
    description=(
        "RESIDUAL IVF-PQ search (the FAISS-standard layout): PQ "
        "quantizes the coarse residual x - c(x) instead of the raw "
        "vector — residual distributions are far tighter than the "
        "corpus, so the same code budget quantizes finer (measured "
        "recall delta vs raw-vector ADC at identical M/K/SUB in "
        "SCALE.md, scripts/residual_pq_recall_ab.py).  The query "
        "residual differs per probed inverted list (q - c_b), so there "
        "is one 32-entry LUT per probed bucket, selected row-locally "
        "by the row's own bucket — still a pure map.  Micro-unit int64 "
        "end to end (residual = int - int), nprobe=2 probe schedule, "
        "candidates = probed lists only.  At 100 TB the residual/codes "
        "table is the index-build artifact (computed once, 4 bytes/row "
        "+ bucket id); per-query cost is unchanged from raw IVF-PQ"
    ),
)
def ivfpq_residual_search(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    cent_micro = {
        r["vec_id"]: qz.micro_list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < PQ_K).collect()
    }
    rmdf = qz.residual_micro(emb, assign, cent_micro)
    # residual codebook: residuals of the next K vectors vs their assigned
    # centroids — a bounded driver lookup (K rows), like every codebook
    rcodebooks = {
        r["vec_id"]: list(r["rm"])
        for r in rmdf.filter(
            (F.col("vec_id") >= PQ_K) & (F.col("vec_id") < 2 * PQ_K)
        ).collect()
    }
    query_micro = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    probe_ids = _pq_probe_ids(emb, 2)
    luts = {
        b: qz.pq_adc_lut(
            [q - c for q, c in zip(query_micro, cent_micro[b])],
            rcodebooks,
            PQ_M,
            PQ_SUB,
        )
        for b in probe_ids
    }
    cand = rmdf.filter(F.col("centroid_id").isin(probe_ids))
    coded = qz.pq_encode_micro(
        cand, "rm", rcodebooks, PQ_M, PQ_SUB, extra_cols=("centroid_id",)
    )
    return (
        coded.select(
            "vec_id", qz.residual_adc_score(luts, PQ_M).alias("adc_dist")
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


RENDEZVOUS_SHARDS = 8


def rendezvous_shard(id_col, n_shards: int):
    """Rendezvous (highest-random-weight) shard id for a key column:
    argmax over shards of the engine-portable md5(key || '|' || shard),
    ties (md5 collisions, effectively never) to the lowest shard.

    The consistent-sharding primitive a training pipeline needs for
    stable work assignment: growing N -> N+1 shards moves only ~1/(N+1)
    of keys, all of them TO the new shard (no reshuffle of survivors) —
    property-tested.  The argmax is an array_min over (negated-order
    struct) literals like pq_code: a pure row-local expression, no
    shuffle, no UDF.
    """
    return (
        F.array_max(
            F.array(
                *[
                    F.struct(
                        F.md5(
                            F.concat(
                                id_col.cast("string"), F.lit(f"|{s}")
                            )
                        ).alias("h"),
                        F.lit(-s).alias("neg_s"),
                    )
                    for s in range(n_shards)
                ]
            )
        )
        .getField("neg_s")
        .cast("long")
        * -1
    )


@query(
    "rendezvous_shard_counts",
    oracle=f"""
    WITH spine AS (SELECT UNNEST(range({RENDEZVOUS_SHARDS})) AS s),
    scored AS (
      SELECT d.doc_id, spine.s,
             md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(spine.s AS VARCHAR))
               AS h
      FROM documents d CROSS JOIN spine
    ),
    assigned AS (
      SELECT doc_id, s AS shard FROM (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, s)
                 AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM assigned JOIN documents USING (doc_id)
    GROUP BY shard
    """,
    description=(
        "rendezvous-hashing (highest-random-weight) shard assignment of "
        "the corpus to 8 shards, with per-shard doc and token totals — "
        "the consistent-sharding primitive for stable distributed "
        "tokenization/embedding work assignment: unlike doc_id % N, "
        "growing to N+1 shards moves only ~1/(N+1) of docs, every one "
        "of them TO the new shard (minimal-disruption property pinned "
        "by test).  The per-doc argmax over md5(key || shard) is a pure "
        "row-local array_max over structs (the pq_code idiom) — "
        "map-only, engine-portable hash, the only shuffle is the 8-row "
        "count aggregation"
    ),
)
def rendezvous_shard_counts(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            rendezvous_shard(F.col("doc_id"), RENDEZVOUS_SHARDS).alias(
                "shard"
            ),
            F.col("n_chars").cast("long").alias("chars"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "knn_filtered_by_label",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, vv AS qv
      FROM v WHERE vec_id < 5
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS knn_rank FROM (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.qv, c.vv) DESC, c.vec_id
             ) AS rk
      FROM q JOIN v c
        ON c.label = q.qlabel AND c.vec_id != q.query_id
    ) WHERE rk <= 3
    """,
    description=(
        "attribute-FILTERED vector search (operators/similarity."
        "filtered_knn): top-3 cosine neighbors constrained to the "
        "query's label — the metadata-constrained retrieval shape "
        "(per-tenant / per-language / per-license search).  The filter "
        "is a PRE-filter joined into candidate generation, so ranking "
        "happens inside the constrained slice (exact recall at k), "
        "where a post-filtered top-k silently returns < k rows; cost "
        "is |queries| x |matching slice|, and at scale the label "
        "equality is the hash-partition key — each task scores one "
        "attribute slice, nothing data-scaled broadcasts"
    ),
)
def knn_filtered_by_label(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.filtered_knn(emb, queries, "label", k=3)


RRF_K = 60
RRF_POOL = 20
RRF_QUERY_DOC = 0


@query(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH qtok AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id = {RRF_QUERY_DOC}
    ),
    dtok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id != {RRF_QUERY_DOC}
    ),
    lex AS (
      SELECT doc_id, rk AS lex_rank FROM (
        SELECT d.doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY COUNT(*) DESC, d.doc_id
               ) AS rk
        FROM dtok d JOIN qtok USING (token)
        GROUP BY d.doc_id
      ) WHERE rk <= {RRF_POOL}
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    vec AS (
      SELECT vec_id AS doc_id, rk AS vec_rank FROM (
        SELECT c.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY list_cosine_similarity(q.vv, c.vv) DESC, c.vec_id
               ) AS rk
        FROM v c, (SELECT vv FROM v WHERE vec_id = {RRF_QUERY_DOC}) q
        WHERE c.vec_id != {RRF_QUERY_DOC}
      ) WHERE rk <= {RRF_POOL}
    )
    SELECT doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank,
           (COALESCE(1.0 / ({RRF_K} + lex_rank), 0.0)
            + COALESCE(1.0 / ({RRF_K} + vec_rank), 0.0)) AS rrf_score
    FROM lex FULL OUTER JOIN vec USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
    description=(
        "hybrid retrieval via reciprocal-rank fusion: a lexical ranking "
        "(distinct shared tokens with the query document, integer "
        "scores -> deterministic ranks) and a vector ranking (cosine "
        "top-20, the ann family's proven rank parity) fuse as "
        "sum(1/(60+rank)) over the union of both top-20 pools — "
        "missing-from-one-list contributes 0 (standard RRF), top-10 by "
        "fused score with doc_id tiebreak.  The modern "
        "lexical+semantic retrieval shape: each ranking is its own "
        "bounded top-k (lexical: token-join + count aggregation; "
        "vector: map-only scored scan + TakeOrdered), the fusion joins "
        "two 20-row sets — at corpus scale the fusion cost is "
        "constant, the rankings are the engine's existing primitives"
    ),
)
def hybrid_rrf_retrieval(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    qtok = (
        docs.filter(F.col("doc_id") == RRF_QUERY_DOC)
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .distinct()
    )
    dtok = (
        docs.filter(F.col("doc_id") != RRF_QUERY_DOC)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .distinct()
    )
    # top-POOL via TakeOrderedAndProject (never a corpus-wide global rank
    # window); the rank number is then assigned over the bounded 20-row set
    w_lex = Window.orderBy(F.col("n_shared").desc(), F.col("doc_id"))
    lex = (
        dtok.join(F.broadcast(qtok), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.col("n_shared").desc(), "doc_id")
        .limit(RRF_POOL)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .select("doc_id", "lex_rank")
    )

    qv = sim.normalized(
        emb.filter(F.col("vec_id") == RRF_QUERY_DOC),
        "vec_id",
        "query_id",
        "embedding",
        "qv",
    )
    cv = sim.normalized(emb, "vec_id", "doc_id", "embedding", "cv")
    w_vec = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
    vec = (
        cv.filter(F.col("doc_id") != RRF_QUERY_DOC)
        .crossJoin(F.broadcast(qv.select("qv")))
        .select("doc_id", sim.dot(F.col("qv"), F.col("cv")).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(RRF_POOL)
        .withColumn("vec_rank", F.row_number().over(w_vec).cast("long"))
        .select("doc_id", "vec_rank")
    )

    rrf = (
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
        )
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


# the trained-codebook CTE chain re-anchored to follow another WITH chain
_PQ_TRAIN_CTES_3_CONT = _PQ_TRAIN_CTES_3.replace("WITH ex AS", ", ex AS", 1)


@query(
    "ivfpq_trained_multiprobe",
    oracle=_IVF_ASSIGN_CTE
    + _IVFPQ_PROBE_CTE
    + _PQ_TRAIN_CTES_3_CONT
    + f"""
    , cand AS (
      SELECT a.vec_id FROM assign a
      JOIN probe p ON a.centroid_id = p.centroid_id AND p.prk <= 2
    ),
    lutq AS (
      SELECT m, cid, d AS qd FROM {_PQ_TRAIN_DIST_3}
      WHERE vec_id = {PQ_QUERY_ID}
    ),
    codesq AS (
      SELECT vec_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid)
                 AS rk
        FROM {_PQ_TRAIN_DIST_3}
        WHERE vec_id IN (SELECT vec_id FROM cand)
      ) WHERE rk = 1
    ),
    adcq AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codesq c JOIN lutq l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, adc_dist FROM adcq ORDER BY adc_dist, vec_id LIMIT 5
    """,
    description=(
        "the fully-engaged composed index: IVF coarse prune at nprobe=2 "
        "(the multiprobe recall lever) over ADC codes from the "
        "2-iteration Lloyd-TRAINED codebook (the quality lever) — every "
        "piece the family verifies in isolation, composed and "
        "oracle-exact end to end.  Plan shape is ivfpq_multiprobe's "
        "(probe-schedule driver lookup, bucket-pruned candidates, "
        "map-only ADC, TakeOrdered top-5); training cost amortizes "
        "across queries and the per-query path is unchanged"
    ),
)
def ivfpq_trained_multiprobe(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    probe_ids = _pq_probe_ids(emb, 2)
    cand_ids = assign.filter(F.col("centroid_id").isin(probe_ids)).select(
        "vec_id"
    )
    cand = emb.join(cand_ids, "vec_id")
    _, trained = _trained_pq_codebooks(spark, sf_dir)
    query = qz.micro_list(
        emb.filter(F.col("vec_id") == PQ_QUERY_ID).collect()[0]["embedding"]
    )
    coded = qz.pq_encode(cand, trained, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, trained, PQ_M, PQ_SUB)
    return (
        coded.select("vec_id", qz.pq_adc_score(lut, PQ_M).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(5)
    )


PQ_RERANK_POOL = 50


@query(
    "pq_adc_rerank_topk",
    oracle=f"""
    WITH {_EX_CTE},
    {_PQ_CODES_CTES},
    lut AS (SELECT m, cid, d AS qd FROM dist WHERE vec_id = {PQ_QUERY_ID}),
    pool AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
      ORDER BY adc_dist, c.vec_id LIMIT {PQ_RERANK_POOL}
    ),
    q2 AS (SELECT dim0, xm AS qm FROM ex WHERE vec_id = {PQ_QUERY_ID})
    SELECT p.vec_id,
           CAST(SUM((e.xm - q2.qm) * (e.xm - q2.qm)) AS BIGINT) AS exact_dist
    FROM pool p
    JOIN ex e ON e.vec_id = p.vec_id
    JOIN q2 ON q2.dim0 = e.dim0
    GROUP BY p.vec_id
    ORDER BY exact_dist, p.vec_id LIMIT 10
    """,
    description=(
        "two-stage ADC-rerank search — the production fix for the "
        "non-monotone ADC recall ivfpq_recall_eval measures: stage 1 "
        "ranks the corpus by 4-byte ADC codes (map-only, TakeOrdered) "
        "down to a 50-candidate pool, stage 2 exact-rescores ONLY those "
        "50 float vectors (micro-unit int64 L2) and returns the true "
        "top-10 of the pool.  Recall is bounded by pool membership, not "
        "codebook error — measured lift over plain ADC top-10 in "
        "SCALE.md.  At 100 TB the expensive exact pass touches "
        "pool-size rows per query (a broadcast-joinable id list), while "
        "the corpus-sized pass never leaves the 4-byte code column — "
        "the standard billion-vector serving stack (coarse prune -> "
        "code scan -> small exact rerank)"
    ),
)
def pq_adc_rerank_topk(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    codebooks, query = _init_codebooks(emb)
    coded = qz.pq_encode(emb, codebooks, PQ_M, PQ_SUB)
    lut = qz.pq_adc_lut(query, codebooks, PQ_M, PQ_SUB)
    pool = qz.pq_adc_pool(coded, lut, PQ_M, PQ_RERANK_POOL)
    return qz.pq_exact_rerank(emb, pool, query, 10)


@query(
    "ivfpq_rerank_search",
    oracle=_IVF_ASSIGN_CTE
    + _IVFPQ_PROBE_CTE
    + _PQ_CODES_CTE
    + f"""
    , cand AS (
      SELECT a.vec_id FROM assign a
      JOIN probe p ON a.centroid_id = p.centroid_id AND p.prk <= 2
    ),
    pool AS (
      SELECT c.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist
      FROM cand cd
      JOIN codes c ON c.vec_id = cd.vec_id
      JOIN lut l ON c.m = l.m AND c.code = l.cid
      GROUP BY c.vec_id
      ORDER BY adc_dist, c.vec_id LIMIT 25
    ),
    q2 AS (SELECT dim0, xm AS qm FROM ex WHERE vec_id = {PQ_QUERY_ID})
    SELECT p.vec_id,
           CAST(SUM((e.xm - q2.qm) * (e.xm - q2.qm)) AS BIGINT) AS exact_dist
    FROM pool p
    JOIN ex e ON e.vec_id = p.vec_id
    JOIN q2 ON q2.dim0 = e.dim0
    GROUP BY p.vec_id
    ORDER BY exact_dist, p.vec_id LIMIT 5
    """,
    description=(
        "the complete billion-vector serving stack in one oracle-exact "
        "plan: IVF coarse prune (nprobe=2 probe schedule) -> 4-byte ADC "
        "code scan of the probed lists -> 25-candidate pool -> exact "
        "micro-unit rescore of ONLY the pool -> true top-5 of the pool. "
        "Each stage touches an order of magnitude less data than the "
        "last (corpus -> nprobe/nlist of it as codes -> 25 float "
        "vectors), which is why this three-stage shape is the standard "
        "production layout; its recall combines the two measured "
        "levers (candidate recall from nprobe, rerank lift over raw "
        "ADC — both curves in SCALE.md)"
    ),
)
def ivfpq_rerank_search(spark, sf_dir):
    from ..operators import quantization as qz

    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    codebooks, query = _init_codebooks(emb)
    return qz.ivfpq_search(
        emb,
        assign,
        _pq_probe_ids(emb, 2),
        codebooks,
        query,
        PQ_M,
        PQ_SUB,
        rerank_pool=25,
        k=5,
    )
