"""Statistical tests and estimators: robust regression, association
rules, Benford, z/chi-square/KS/Mann-Whitney tests, survival curves."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .core import query, t


@query(
    "daily_revenue_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS slope
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM slopes),
    rs AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rk FROM slopes),
    med AS (
      SELECT CAST(0.5 AS DOUBLE) * (MIN(rs.slope) + MAX(rs.slope)) AS ts_slope
      FROM rs, n WHERE rs.rk IN ((n.n + 1) // 2, n.n // 2 + 1)
    ),
    resid AS (SELECT d.y - m.ts_slope * d.x AS r FROM daily d, med m),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM resid),
    rr AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM resid),
    inter AS (
      SELECT CAST(0.5 AS DOUBLE) * (MIN(rr.r) + MAX(rr.r)) AS ts_intercept
      FROM rr, nr WHERE rr.rk IN ((nr.n + 1) // 2, nr.n // 2 + 1)
    )
    SELECT n.n AS n_pairs, med.ts_slope, inter.ts_intercept
    FROM n, med, inter
    """,
    description=(
        "Theil-Sen robust trend estimate of daily revenue: the median of "
        "all pairwise day-to-day slopes, plus the median-residual "
        "intercept — the outlier-resistant counterpart to the OLS fit in "
        "daily_revenue_trend_fit (one corrupted day moves OLS, not the "
        "pairwise-slope median).  Key scale property: the pair count "
        "depends on the DISTINCT-DAY count (~2400 in TPC-H regardless of "
        "SF), so after the one fact-sized day rollup the O(days^2) slope "
        "table is bounded at ~3M rows forever — at 100 TB the expensive "
        "part is still just the daily partial agg.  Both medians come "
        "from the distributed two-phase rank (operators/identity.py "
        "global_row_number: range shuffle + metadata prefix sum — no "
        "single-task percentile buffer), then 0.5*(lo+hi) over the one "
        "or two middle ranks; slopes are ratios of exact decimal/int "
        "differences, so every arithmetic step is engine-identical"
    ),
)
def daily_revenue_theil_sen(spark, sf_dir):
    from ..operators.identity import global_row_number

    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("x")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    a = daily.alias("a")
    bq = daily.alias("b")
    slopes = a.join(F.broadcast(bq), F.col("a.x") < F.col("b.x")).select(
        (
            (F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))
        ).alias("slope")
    )

    def _median(df, col):
        ranked, n = global_row_number(df, [col], "__grn")
        lo, hi = (n + 1) // 2, n // 2 + 1
        return (
            ranked.filter(F.col("__grn").isin(lo, hi)).agg(
                (
                    F.lit(0.5).cast("double") * (F.min(col) + F.max(col))
                ).alias("m")
            ),
            n,
        )

    med, n_pairs = _median(slopes, "slope")
    med = med.withColumnRenamed("m", "ts_slope")
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("ts_slope") * F.col("x")).alias("r")
    )
    inter, _ = _median(resid, "r")
    return (
        med.crossJoin(F.broadcast(inter.withColumnRenamed("m", "ts_intercept")))
        .select(
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            "ts_slope",
            "ts_intercept",
        )
    )


@query(
    "bitext_margin_mining",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 10000)
                                      AS BIGINT)) AS qv
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id, label, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS ssq
      FROM q
    ),
    anchors AS (
      SELECT * FROM qs WHERE vec_id % 53 = 0 AND label % 2 = 0
    ),
    cands AS (SELECT * FROM qs WHERE label % 2 = 1),
    scored AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
             CAST(floor(
               CAST(list_sum(list_transform(list_zip(a.qv, c.qv),
                                            p -> p[1] * p[2])) AS DOUBLE)
               / (sqrt(CAST(a.ssq AS DOUBLE)) * sqrt(CAST(c.ssq AS DOUBLE)))
               * 1000000000000.0) AS BIGINT) AS sim_q
      FROM anchors a, cands c
    ),
    t4x AS (
      SELECT anchor_id, CAST(SUM(sim_q) AS BIGINT) AS t4x FROM (
        SELECT anchor_id, sim_q, ROW_NUMBER() OVER (
                 PARTITION BY anchor_id ORDER BY sim_q DESC, cand_id) AS r
        FROM scored
      ) WHERE r <= 4 GROUP BY anchor_id
    ),
    t4y AS (
      SELECT cand_id, CAST(SUM(sim_q) AS BIGINT) AS t4y FROM (
        SELECT cand_id, sim_q, ROW_NUMBER() OVER (
                 PARTITION BY cand_id ORDER BY sim_q DESC, anchor_id) AS r
        FROM scored
      ) WHERE r <= 4 GROUP BY cand_id
    ),
    margins AS (
      SELECT s.anchor_id, s.cand_id,
             (CAST(8 AS DOUBLE) * s.sim_q) / (t4x.t4x + t4y.t4y) AS margin
      FROM scored s
      JOIN t4x ON s.anchor_id = t4x.anchor_id
      JOIN t4y ON s.cand_id = t4y.cand_id
    )
    SELECT anchor_id, cand_id AS best_id, margin FROM (
      SELECT anchor_id, cand_id, margin, ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY margin DESC, cand_id) AS r
      FROM margins
    ) WHERE r = 1
    """,
    description=(
        "margin-based parallel-pair mining (Artetxe & Schwenk 2019, the "
        "CCMatrix/LASER bitext-mining criterion): for each anchor on side "
        "A (even label, vec_id % 53 = 0) score every side-B candidate by "
        "cosine divided by the mean of both directions' top-4 neighbor "
        "sims — the margin demotes hub vectors that are close to "
        "everything, which raw cosine cannot.  Exactness: cosine comes "
        "from floor(x*1e4) int64 fixed point (deterministic doubles), is "
        "floor-quantized to 1e-12 integer units, and the top-4 "
        "normalizers are exact INTEGER sums, so the final margin is one "
        "IEEE division of exact integers — bit-identical across engines, "
        "ties broken on ids.  Plan: anchors broadcast (map-only scoring), "
        "per-anchor top-4 via a keyed window on the anchor-sized side, "
        "per-candidate top-4 via a keyed window partitioned by cand_id "
        "(each partition holds |anchors| rows), one shuffle join back on "
        "cand_id, and a partial-agg argmax per anchor — no global sort; "
        "at 100 TB the scored block is |anchors| x |B|, linear in the "
        "corpus for a fixed anchor batch"
    ),
)
def bitext_margin_mining(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 10000).cast("long")
    )
    qs = emb.select(
        "vec_id",
        "label",
        qv.alias("qv"),
        F.aggregate(
            F.transform(qv, lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("ssq"),
    )
    anchors = qs.filter(
        (F.col("vec_id") % 53 == 0) & (F.col("label") % 2 == 0)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("qv").alias("aqv"),
        F.col("ssq").alias("assq"),
    )
    cands = qs.filter(F.col("label") % 2 == 1)
    dot = F.aggregate(
        F.zip_with("aqv", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sim = dot.cast("double") / (
        F.sqrt(F.col("assq").cast("double"))
        * F.sqrt(F.col("ssq").cast("double"))
    )
    # NO pin on scored (r13 pin sweep 3 negative result): persisting the
    # anchor x cand scoring block cuts 10 -> 6 exchanges but shows no wall
    # win in a same-window A/B (unpinned min 1.40 / median 1.58 vs pinned
    # 1.45 / 2.07 at sf0.1, 7 reps) — and unlike the adopted pins its
    # state is PAIR-sized (|anchors| x |B| rows), not corpus-linear, so
    # the memory cost scales with the very block we avoid materializing.
    scored = cands.crossJoin(F.broadcast(anchors)).select(
        "anchor_id",
        F.col("vec_id").alias("cand_id"),
        F.floor(sim * F.lit(1000000000000.0)).cast("long").alias("sim_q"),
    )
    wx = Window.partitionBy("anchor_id").orderBy(
        F.col("sim_q").desc(), F.col("cand_id")
    )
    t4x = (
        scored.withColumn("r", F.row_number().over(wx))
        .filter(F.col("r") <= 4)
        .groupBy("anchor_id")
        .agg(F.sum("sim_q").cast("long").alias("t4x"))
    )
    wy = Window.partitionBy("cand_id").orderBy(
        F.col("sim_q").desc(), F.col("anchor_id")
    )
    t4y = (
        scored.withColumn("r", F.row_number().over(wy))
        .filter(F.col("r") <= 4)
        .groupBy("cand_id")
        .agg(F.sum("sim_q").cast("long").alias("t4y"))
    )
    margins = (
        scored.join(F.broadcast(t4x), "anchor_id")
        .join(t4y, "cand_id")
        .select(
            "anchor_id",
            "cand_id",
            (
                (F.lit(8).cast("double") * F.col("sim_q"))
                / (F.col("t4x") + F.col("t4y"))
            ).alias("margin"),
        )
    )
    best = margins.groupBy("anchor_id").agg(
        F.max(
            F.struct(
                F.col("margin").alias("margin"),
                (-F.col("cand_id")).alias("negid"),
            )
        ).alias("b")
    )
    return best.select(
        "anchor_id",
        (-F.col("b.negid")).alias("best_id"),
        F.col("b.margin").alias("margin"),
    )


@query(
    "association_priority_status",
    oracle="""
    WITH j AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS cxy
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, cxy,
             CAST(SUM(cxy) OVER (PARTITION BY x) AS BIGINT) AS cx,
             CAST(SUM(cxy) OVER (PARTITION BY y) AS BIGINT) AS cy,
             CAST(SUM(cxy) OVER () AS BIGINT) AS n,
             CAST(COUNT(DISTINCT x) OVER () AS BIGINT) AS nx,
             CAST(COUNT(DISTINCT y) OVER () AS BIGINT) AS ny
      FROM j
    ),
    terms AS (
      SELECT n, nx, ny,
             CAST(floor(
               (CAST(cxy AS DOUBLE) / n)
               * LN((CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
               * 1000000000000000.0) AS BIGINT) AS mi_q,
             CAST(floor(
               ((cxy - (CAST(cx AS DOUBLE) * cy) / n)
                * (cxy - (CAST(cx AS DOUBLE) * cy) / n))
               / ((CAST(cx AS DOUBLE) * cy) / n)
               * 1000000000.0) AS BIGINT) AS chi_q
      FROM m
    )
    SELECT ANY_VALUE(n) AS n_orders,
           CAST(SUM(mi_q) AS DOUBLE) / 1000000000000000.0 AS mi_nats,
           CAST(SUM(chi_q) AS DOUBLE) / 1000000000.0 AS chi2,
           sqrt((CAST(SUM(chi_q) AS DOUBLE) / 1000000000.0)
                / (ANY_VALUE(n)
                   * LEAST(ANY_VALUE(nx) - 1, ANY_VALUE(ny) - 1)))
             AS cramers_v
    FROM terms
    """,
    description=(
        "categorical association suite on the priority x status "
        "contingency table: mutual information (nats), the chi-square "
        "independence statistic, and Cramer's V — the signals a feature-"
        "selection / leakage-audit pass computes between label-ish "
        "columns.  One partial-agg shuffle builds the 15-cell joint-count "
        "table; margins, totals, and distinct-level counts all come from "
        "bounded whole-set windows over those 15 rows (no second fact "
        "scan).  Per-cell MI and chi-square terms are deterministic "
        "doubles (exact integer counts, one division chain each), floor-"
        "quantized to integer units so the cell sums are order-"
        "independent — bit-identical across engines.  At 100 TB the cell "
        "table stays |priorities| x |statuses| regardless of row count"
    ),
)
def association_priority_status(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    j = orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("cxy"))
    w = Window.partitionBy()
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    m = (
        j.withColumn("cx", F.sum("cxy").over(wx).cast("long"))
        .withColumn("cy", F.sum("cxy").over(wy).cast("long"))
        .withColumn("n", F.sum("cxy").over(w).cast("long"))
        .withColumn(
            "nx", F.size(F.collect_set("x").over(w)).cast("long")
        )
        .withColumn(
            "ny", F.size(F.collect_set("y").over(w)).cast("long")
        )
    )
    cxy_d = F.col("cxy").cast("double")
    cx_d = F.col("cx").cast("double")
    e = (cx_d * F.col("cy")) / F.col("n")
    mi_q = (
        F.floor(
            (cxy_d / F.col("n"))
            * F.log((cxy_d * F.col("n")) / (cx_d * F.col("cy")))
            * F.lit(1000000000000000.0)
        )
    ).cast("long")
    chi_q = (
        F.floor(
            ((F.col("cxy") - e) * (F.col("cxy") - e)) / e
            * F.lit(1000000000.0)
        )
    ).cast("long")
    terms = m.select(
        "n", "nx", "ny", mi_q.alias("mi_q"), chi_q.alias("chi_q")
    )
    chi2 = F.sum("chi_q").cast("double") / F.lit(1000000000.0)
    return terms.agg(
        F.first("n").alias("n_orders"),
        (F.sum("mi_q").cast("double") / F.lit(1000000000000000.0)).alias(
            "mi_nats"
        ),
        chi2.alias("chi2"),
        F.sqrt(
            chi2
            / (
                F.first("n")
                * F.least(F.first("nx") - 1, F.first("ny") - 1)
            )
        ).alias("cramers_v"),
    )


@query(
    "trimmed_mean_order_value",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(CASE WHEN o.o_totalprice >= b.lo
                          AND o.o_totalprice <= b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN o.o_totalprice >= b.lo
                          AND o.o_totalprice <= b.hi
                         THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE)
             / SUM(CASE WHEN o.o_totalprice >= b.lo
                         AND o.o_totalprice <= b.hi
                        THEN 1 ELSE 0 END) AS trimmed_mean,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS raw_mean
    FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
    GROUP BY 1
    """,
    description=(
        "5-95 percentile-trimmed mean of order value per priority, next "
        "to the raw mean — the robust-location estimator that pairs with "
        "the MAD robust-scale entry (one fat-finger order moves the raw "
        "mean, not the trimmed one).  PERCENTILE_DISC bounds are actual "
        "data values (engine-identical), kept values are summed as exact "
        "DECIMAL before one final double division, so no float-order "
        "tolerance is needed.  Plan: one per-group percentile aggregate "
        "(bounded groups), the 5-row bounds table broadcast back, one "
        "conditional partial agg — two fact scans, zero fact shuffles "
        "beyond the group aggs"
    ),
)
def trimmed_mean_order_value(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    b = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("lo"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("hi"),
    )
    kept = (F.col("o_totalprice") >= F.col("lo")) & (
        F.col("o_totalprice") <= F.col("hi")
    )
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.join(F.broadcast(b), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            (
                F.sum(F.when(kept, dec)).cast("double")
                / F.sum(F.when(kept, 1).otherwise(0))
            ).alias("trimmed_mean"),
            (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("raw_mean"),
        )
    )


@query(
    "triangle_count_parts",
    oracle="""
    WITH e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT x.src AS a, x.dst AS b, y.dst AS c
      FROM e x JOIN e y ON x.dst = y.src
      JOIN e z ON z.src = x.src AND z.dst = y.dst
    ),
    tcount AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT tcount.node AS part_key, deg.degree, tcount.n_triangles,
           (CAST(2 AS DOUBLE) * tcount.n_triangles)
             / (deg.degree * (deg.degree - 1)) AS clustering_coeff
    FROM tcount JOIN deg ON tcount.node = deg.node
    """,
    description=(
        "exact triangle counting + local clustering coefficient on the "
        "support-thinned part co-purchase graph (pairs co-ordered at "
        "least twice): the community-structure signal that PageRank "
        "(global importance) and connected components (reachability) "
        "cannot see.  Edges are oriented LOW-degree -> HIGH-degree "
        "(ties by node id) before the wedge join — the node-iterator++ "
        "orientation, which enumerates each triangle exactly once at its "
        "minimum-(degree,id) vertex and caps total wedge work at "
        "O(m^1.5) REGARDLESS of hub skew (a hub of degree d under naive "
        "id-canonical orientation enumerates O(d^2) wedges in one task "
        "group; degree orientation gives every node out-degree "
        "<= sqrt(2m)).  The support>=2 HAVING additionally keeps the "
        "edge table orders-of-magnitude smaller than the raw co-order "
        "pairs (1.2M -> 3.9k at sf0.1).  Coefficient is one double "
        "division of exact integers.  Plan: the pair agg shuffles on "
        "(src,dst) off the co-partitioned l_orderkey self-join; degree "
        "attach + wedge + closure joins move only the thinned edge "
        "table, with no forced broadcast (stats/AQE decide)"
    ),
)
def triangle_count_parts(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    bq = li.alias("b")
    e = (
        a.join(
            bq,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("src", "dst")
        .persist()
    )
    # e feeds the degree table, the orientation join, and (via deg) three
    # consumers — persist both so the fact-sized self-join runs once and
    # the plan scans the materialized thinned tables instead of cloning
    # the whole upstream subtree per consumer
    deg = (
        # explode(array(src,dst)) == UNION ALL of the two endpoint columns
        # (identical node multiset, no nulls) in ONE pass over the cached
        # edge table instead of two branch scans (guide §2.1/§6)
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .persist()
    )
    # degree orientation: re-point every edge from its lower-(degree,id)
    # endpoint to the higher one.  Out-degree is then <= sqrt(2m) for
    # every node, so the wedge self-join below is O(m^1.5) worst case
    # even with a hub of degree ~n (id-canonical orientation would give
    # that hub O(d^2) wedges in a single task group).
    ds = deg.select(F.col("node").alias("src"), F.col("degree").alias("dsrc"))
    dd_ = deg.select(F.col("node").alias("dst"), F.col("degree").alias("ddst"))
    ed = e.join(ds, "src").join(dd_, "dst")
    src_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    o = ed.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(src_first, F.col("ddst")).otherwise(F.col("dsrc")).alias("dhi"),
    ).persist()  # three consumers: both wedge sides + the closure probe
    o1 = o.select(
        F.col("lo"), F.col("hi").alias("h1"), F.col("dhi").alias("dh1")
    )
    o2 = o.select(
        F.col("lo"), F.col("hi").alias("h2"), F.col("dhi").alias("dh2")
    )
    # wedge (lo -> h1, lo -> h2) with h1 below h2 in the (degree,id)
    # order; the closing edge, if present, is necessarily oriented h1->h2
    wedge = o1.join(o2, "lo").filter(
        (F.col("dh1") < F.col("dh2"))
        | ((F.col("dh1") == F.col("dh2")) & (F.col("h1") < F.col("h2")))
    )
    close = o.select(F.col("lo").alias("h1"), F.col("hi").alias("h2"))
    tri = wedge.join(close, ["h1", "h2"]).select(
        F.col("lo").alias("a"), F.col("h1").alias("b"), F.col("h2").alias("c")
    )
    tcount = (
        # r14 (guide §2.1): the UNION ALL form cloned the wedge+closure
        # join subtree into THREE plan branches (the cached `o` feeds
        # each, but the join work itself ran per branch); explode of the
        # vertex array emits the same node multiset from ONE join pass
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return tcount.join(deg, "node").select(
        F.col("node").alias("part_key"),
        "degree",
        "n_triangles",
        (
            (F.lit(2).cast("double") * F.col("n_triangles"))
            / (F.col("degree") * (F.col("degree") - 1))
        ).alias("clustering_coeff"),
    )


@query(
    "daily_revenue_autocorr_lag7",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.y AS y0, b.y AS y7
      FROM daily a JOIN daily b ON b.x = a.x + 7
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y0 AS DECIMAL(19,2))) AS DOUBLE) AS s0,
             CAST(SUM(CAST(y7 AS DECIMAL(19,2))) AS DOUBLE) AS s7,
             CAST(SUM(CAST(y0 AS DECIMAL(19,2)) * CAST(y0 AS DECIMAL(19,2)))
                  AS DOUBLE) AS s00,
             CAST(SUM(CAST(y7 AS DECIMAL(19,2)) * CAST(y7 AS DECIMAL(19,2)))
                  AS DOUBLE) AS s77,
             CAST(SUM(CAST(y0 AS DECIMAL(19,2)) * CAST(y7 AS DECIMAL(19,2)))
                  AS DOUBLE) AS s07
      FROM pairs
    )
    SELECT n AS n_pairs,
           (n * s07 - s0 * s7)
             / (sqrt(n * s00 - s0 * s0) * sqrt(n * s77 - s7 * s7))
             AS autocorr_lag7
    FROM s
    """,
    description=(
        "lag-7 Pearson autocorrelation of daily revenue — the weekly-"
        "seasonality detector for any daily-rollup metric (a high lag-7 r "
        "says the series repeats by weekday; the trend-fit and anomaly "
        "entries assume you checked).  All five moments are EXACT DECIMAL "
        "sums over the bounded ~2400-day table (daily revenue has two "
        "decimals; pair values are widened to DECIMAL(19,2) so products take the int128 path in DuckDB and stay exact at (38,4) in Spark), "
        "so the correlation is a fixed chain of IEEE ops on identical "
        "inputs.  Plan: one fact-sized day rollup, then a 2400-row "
        "broadcast self-equi-join on x+7 and a 1-row moment aggregate"
    ),
)
def daily_revenue_autocorr_lag7(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("x")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    a = daily.alias("a")
    bq = daily.alias("b")
    d = lambda c: F.col(c).cast("decimal(19,2)")  # noqa: E731
    pairs = a.join(
        F.broadcast(bq), F.col("b.x") == F.col("a.x") + 7
    ).select(F.col("a.y").alias("y0"), F.col("b.y").alias("y7"))
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d("y0")).cast("double").alias("s0"),
        F.sum(d("y7")).cast("double").alias("s7"),
        F.sum(d("y0") * d("y0")).cast("double").alias("s00"),
        F.sum(d("y7") * d("y7")).cast("double").alias("s77"),
        F.sum(d("y0") * d("y7")).cast("double").alias("s07"),
    )
    num = F.col("n") * F.col("s07") - F.col("s0") * F.col("s7")
    den = F.sqrt(
        F.col("n") * F.col("s00") - F.col("s0") * F.col("s0")
    ) * F.sqrt(F.col("n") * F.col("s77") - F.col("s7") * F.col("s7"))
    return s.select(
        F.col("n").alias("n_pairs"), (num / den).alias("autocorr_lag7")
    )


@query(
    "benford_first_digit_orders",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed FROM digits
      GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs)
    SELECT obs.digit, obs.observed,
           CAST(tot.n AS DOUBLE)
             * LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10) AS expected,
           (obs.observed
              - CAST(tot.n AS DOUBLE) * LN(1 + CAST(1 AS DOUBLE) / obs.digit)
                / LN(10))
             / sqrt(CAST(tot.n AS DOUBLE)
                    * LN(1 + CAST(1 AS DOUBLE) / obs.digit) / LN(10))
             AS z_score
    FROM obs CROSS JOIN tot
    """,
    description=(
        "Benford first-digit conformance of order values — the classic "
        "fraud / synthetic-data / unit-mixup detector for any money "
        "column: naturally-generated amounts follow P(d)=log10(1+1/d), "
        "fabricated ones rarely do.  Emits observed vs expected counts "
        "and a per-digit z-score (TPC-H's uniform price generator fails "
        "Benford loudly, which is itself the correct finding).  Digit "
        "extraction is exact integer/string work; expected counts are a "
        "fixed LN chain on exact integers — deterministic without "
        "quantization since nothing is summed in engine order.  Plan: "
        "one scan, one 9-row partial agg, the 1-row total broadcast back"
    ),
)
def benford_first_digit_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    tot = obs.agg(F.sum("observed").cast("long").alias("n"))
    expected = (
        F.col("n").cast("double")
        * F.log(1 + F.lit(1).cast("double") / F.col("digit"))
        / F.log(F.lit(10.0))
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "observed",
        expected.alias("expected"),
        ((F.col("observed") - expected) / F.sqrt(expected)).alias("z_score"),
    )


@query(
    "ab_test_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS bucket,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN bucket = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(SUM(CASE WHEN bucket = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM u
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS p_a,
           CAST(conv_b AS DOUBLE) / n_b AS p_b,
           (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
             AS z_score
    FROM g
    """,
    description=(
        "two-proportion z-test on per-user purchase conversion between "
        "the user_id-parity buckets — the A/B experiment readout (pooled "
        "variance, the standard large-sample test).  Every probability "
        "is an exact-integer count ratio and the z formula is one fixed "
        "IEEE chain, so no tolerance is needed.  Plan: one per-user "
        "partial agg (map-side combine on user_id), then a 1-row "
        "conditional rollup — no second fact scan, no join"
    ),
)
def ab_test_conversion_ztest(spark, sf_dir):
    events = t(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("bucket", F.col("user_id") % 2)
    g = u.agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("bucket") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("bucket") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_a - p_b) / F.sqrt(
        pool
        * (1 - pool)
        * (
            F.lit(1).cast("double") / F.col("n_a")
            + F.lit(1).cast("double") / F.col("n_b")
        )
    )
    return g.select(
        "n_a", "conv_a", "n_b", "conv_b",
        p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z_score"),
    )


@query(
    "gini_customer_revenue",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
      FROM cust
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS DOUBLE) AS s0,
             CAST(SUM(i * rev) AS DOUBLE) AS s1
      FROM ranked
    )
    SELECT n AS n_customers,
           (CAST(2 AS DOUBLE) * s1) / (n * s0)
             - (CAST(n + 1 AS DOUBLE) / n) AS gini
    FROM s
    """,
    description=(
        "Gini coefficient of customer revenue concentration (the "
        "inequality measure behind 'top 1% of customers drive X%' "
        "reporting, and the label-imbalance diagnostic for a training "
        "corpus when applied to per-source token counts).  Uses the "
        "rank-sum identity G = 2*sum(i*y_i)/(n*sum(y)) - (n+1)/n over "
        "revenue-active customers; ranks come from the pinned two-phase "
        "distributed rank (ties broken on custkey), revenue and the "
        "rank-weighted sum stay EXACT DECIMAL until two final casts, so "
        "the one formula chain is engine-identical.  Plan: one per-"
        "customer partial agg, the checkpointed range-rank, one 1-row "
        "moment aggregate — no single-task sort at any size"
    ),
)
def gini_customer_revenue(spark, sf_dir):
    from ..operators.identity import global_row_number

    orders = t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked, n = global_row_number(cust, ["rev", "o_custkey"], "__grn")
    s = ranked.agg(
        F.sum("rev").cast("double").alias("s0"),
        F.sum(F.col("__grn") * F.col("rev")).cast("double").alias("s1"),
    )
    return s.select(
        F.lit(n).cast("long").alias("n_customers"),
        (
            (F.lit(2).cast("double") * F.col("s1")) / (F.lit(n) * F.col("s0"))
            - (F.lit(n + 1).cast("double") / F.lit(n))
        ).alias("gini"),
    )


@query(
    "zipf_slope_tokens",
    oracle="""
    WITH freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY token
    ),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r FROM freq
    ),
    terms AS (
      SELECT CAST(floor(LN(CAST(r AS DOUBLE)) * 1000000000000.0) AS BIGINT)
               AS x_q,
             CAST(floor(LN(CAST(f AS DOUBLE)) * 1000000000000.0) AS BIGINT)
               AS y_q,
             CAST(floor(LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE))
                        * 1000000000000.0) AS BIGINT) AS xx_q,
             CAST(floor(LN(CAST(r AS DOUBLE)) * LN(CAST(f AS DOUBLE))
                        * 1000000000000.0) AS BIGINT) AS xy_q
      FROM ranked
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_q) AS DOUBLE) / 1000000000000.0 AS sx,
             CAST(SUM(y_q) AS DOUBLE) / 1000000000000.0 AS sy,
             CAST(SUM(xx_q) AS DOUBLE) / 1000000000000.0 AS sxx,
             CAST(SUM(xy_q) AS DOUBLE) / 1000000000000.0 AS sxy
      FROM terms
    )
    SELECT n AS n_types,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope
    FROM s
    """,
    description=(
        "Zipf-law slope of the token rank-frequency curve: OLS fit of "
        "ln(freq) vs ln(rank) over the vocabulary — natural text sits "
        "near -1, templated/synthetic text drifts off it, making the "
        "slope a corpus-authenticity signal next to the lexical-richness "
        "profile.  The vocabulary table is bounded (types grow "
        "sublinearly in corpus size), ranks tie-break on the token "
        "string, and every log term is floor-quantized to 1e-12 units so "
        "the moment sums are exact integers — the final slope is one "
        "IEEE chain on identical inputs.  Plan: one token-count shuffle, "
        "the two-phase distributed rank (range repartition + local rank + "
        "metadata prefix sum — the vocabulary is data-scaled, so no "
        "partition-less window), a 1-row moment aggregate"
    ),
)
def zipf_slope_tokens(spark, sf_dir):
    from ..operators.identity import global_row_number

    docs = t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    # the frequency rank runs over the FULL vocabulary — data-scaled
    # (billions of distinct tokens at 100 TB), so a partition-less window
    # is a single-task sort; the two-phase distributed rank gives the
    # identical r for the same total order (top-by-f == ascending -f)
    ranked, _ = global_row_number(
        freq.withColumn("_neg_f", -F.col("f")), ["_neg_f", "token"],
        row_number_column="r",
    )
    lnr = F.log(F.col("r").cast("double"))
    lnf = F.log(F.col("f").cast("double"))
    q = F.lit(1000000000000.0)
    terms = ranked.select(
        F.floor(lnr * q).cast("long").alias("x_q"),
        F.floor(lnf * q).cast("long").alias("y_q"),
        F.floor(lnr * lnr * q).cast("long").alias("xx_q"),
        F.floor(lnr * lnf * q).cast("long").alias("xy_q"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("x_q").cast("double") / q).alias("sx"),
        (F.sum("y_q").cast("double") / q).alias("sy"),
        (F.sum("xx_q").cast("double") / q).alias("sxx"),
        (F.sum("xy_q").cast("double") / q).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_types"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("zipf_slope"),
    )


@query(
    "association_rules_brands",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
    bc AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY p_brand
    ),
    pc AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    )
    SELECT pc.brand_a, pc.brand_b, pc.c_ab,
           CAST(pc.c_ab AS DOUBLE) / tot.n AS support,
           CAST(pc.c_ab AS DOUBLE) / ca.c AS conf_a_to_b,
           CAST(pc.c_ab AS DOUBLE) / cb.c AS conf_b_to_a,
           (CAST(pc.c_ab AS DOUBLE) * tot.n)
             / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
    FROM pc
    JOIN bc ca ON pc.brand_a = ca.p_brand
    JOIN bc cb ON pc.brand_b = cb.p_brand
    CROSS JOIN tot
    """,
    description=(
        "market-basket association rules over brand pairs: support, both "
        "directed confidences, and lift (the canonical Apriori-style "
        "readout; lift > 1 marks genuinely co-purchased brands, which "
        "raw co-occurrence counts conflate with popularity).  All four "
        "metrics are exact-integer count ratios — deterministic without "
        "tolerance.  Plan: one distinct (order,brand) projection feeds "
        "the co-partitioned pair self-join and the brand-count partial "
        "agg; the brand table (bounded: |brands| << |orders|) broadcasts "
        "back onto the pair counts with the 1-row total"
    ),
)
def association_rules_brands(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        # persist: ob feeds four consumers (tot, bc, both pair-join sides);
        # unpinned each re-runs the fact join + distinct (r13 pin sweep 2)
        .persist()
    )
    tot = ob.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = ob.alias("a")
    bq = ob.alias("b")
    pc = (
        a.join(
            bq,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ca = bc.select(F.col("p_brand").alias("brand_a"), F.col("c").alias("ca"))
    cb = bc.select(F.col("p_brand").alias("brand_b"), F.col("c").alias("cb"))
    return (
        pc.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "c_ab",
            (F.col("c_ab").cast("double") / F.col("n")).alias("support"),
            (F.col("c_ab").cast("double") / F.col("ca")).alias("conf_a_to_b"),
            (F.col("c_ab").cast("double") / F.col("cb")).alias("conf_b_to_a"),
            (
                (F.col("c_ab").cast("double") * F.col("n"))
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("lift"),
        )
    )


@query(
    "approx_percentile_bound_check",
    oracle="""
    WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    probs0(p0) AS (VALUES (0.25), (0.5), (0.9), (0.99)),
    probs AS (SELECT CAST(p0 AS DOUBLE) AS p FROM probs0),
    ks AS (
      SELECT p,
             GREATEST(1, CAST(floor((p - CAST(0.012 AS DOUBLE)) * n.n)
                              AS BIGINT)) AS k_lo,
             LEAST(n.n, CAST(ceil((p + CAST(0.012 AS DOUBLE)) * n.n)
                             AS BIGINT)) AS k_hi
      FROM probs, n
    ),
    ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
    SELECT ks.p, lo.v AS lo, hi.v AS hi, TRUE AS within
    FROM ks
    JOIN ranked lo ON lo.rn = ks.k_lo
    JOIN ranked hi ON hi.rn = ks.k_hi
    """,
    description=(
        "Spark's NATIVE approx_percentile (Greenwald-Khanna summary, "
        "accuracy=100 => deterministic rank error <= n/100) verified the "
        "same way as the custom KLL entry: exact order statistics at "
        "(p±0.012)·n bracket every estimate, and the oracle asserts "
        "within=TRUE on the strength of the DETERMINISTIC GK bound "
        "(+0.002 margin).  Worth having both: the built-in is the "
        "single-expression JVM path for ad-hoc percentiles; the KLL "
        "operator is the mergeable-state path for streams and "
        "incremental maintenance — this entry pins that the built-in's "
        "contract actually holds on this data so either can be chosen "
        "with eyes open"
    ),
)
def approx_percentile_bound_check(spark, sf_dir):
    import math

    from ..operators.identity import global_row_number

    probs = [0.25, 0.5, 0.9, 0.99]
    eps = 0.012
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    est_row = orders.agg(
        F.percentile_approx("v", probs, 100).alias("est")
    ).first()
    est = list(est_row["est"])
    ranked, n = global_row_number(orders, ["v"], "rn")
    brackets = []
    for p in probs:
        k_lo = max(1, math.floor((p - eps) * n))
        k_hi = min(n, math.ceil((p + eps) * n))
        brackets.append((p, k_lo, k_hi))
    wanted = sorted({k for _, lo, hi in brackets for k in (lo, hi)})
    vals = {
        r["rn"]: r["v"]
        for r in ranked.filter(F.col("rn").isin(wanted)).collect()
    }
    rows = [
        (
            float(p),
            float(vals[k_lo]),
            float(vals[k_hi]),
            bool(vals[k_lo] <= e <= vals[k_hi]),
        )
        for (p, k_lo, k_hi), e in zip(brackets, est)
    ]
    return spark.createDataFrame(
        rows, "p double, lo double, hi double, within boolean"
    )


@query(
    "mannwhitney_order_values",
    oracle="""
    WITH v AS (
      SELECT o_totalprice AS val,
             CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS t
      FROM orders GROUP BY o_totalprice
    ),
    cum AS (
      SELECT ca, t,
             CAST(SUM(t) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_t
      FROM v
    ),
    s AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             SUM(CAST(ca AS HUGEINT)
                 * CAST(2 * (cum_t - t) + t + 1 AS HUGEINT)) AS two_r_a,
             SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
                 - CAST(t AS HUGEINT)) AS tie_cubes,
             CAST(SUM(t) AS BIGINT) AS n
      FROM cum
    )
    SELECT n_a,
           CAST(n - n_a AS BIGINT) AS n_b,
           CAST(two_r_a - CAST(n_a AS HUGEINT) * CAST(n_a + 1 AS HUGEINT)
                AS BIGINT) AS two_u_a,
           (CAST(two_r_a - CAST(n_a AS HUGEINT) * CAST(n_a + 1 AS HUGEINT)
                 AS DOUBLE)
            - CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))
           / (CAST(2 AS DOUBLE) * sqrt(
               CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE)
               / CAST(12 AS DOUBLE)
               * (CAST(n + 1 AS DOUBLE)
                  - CAST(tie_cubes AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))
             AS z
    FROM s
    """,
    description=(
        "two-sample Mann-Whitney U (Wilcoxon rank-sum) z-test between the "
        "custkey-parity order-value cohorts, with midranks for ties and "
        "the tie-corrected normal-approximation variance — the "
        "distribution-free location test (does cohort A tend to larger "
        "values?) that pairs with the KS shape test.  FULLY integer-exact "
        "core: grouping on the value gives per-group (cohort-A count, "
        "total t); ONE pinned running sum over t yields each group's "
        "preceding-count, so 2*midrank = 2*cum_before + t + 1 stays "
        "integral; 2R_A, 2U_A and the tie term sum(t^3 - t) accumulate in "
        "decimal(38,0) (no overflow below ~1e18 rows), and the only "
        "doubles are the final z-expression's exact-int conversions — "
        "deterministic cross-engine.  Plan: one partial agg on value, the "
        "checkpointed range running sum, a 1-row aggregate"
    ),
)
def mannwhitney_order_values(spark, sf_dir):
    from ..operators.identity import global_running_sum

    orders = t(spark, sf_dir, "orders")
    v = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum(F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    cum, n = global_running_sum(v, ["val"], "t", "cum_t")
    dec = "decimal(38,0)"
    s = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(
            F.col("ca").cast(dec)
            * (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).cast(dec)
        ).alias("two_r_a"),
        F.sum(
            F.col("t").cast(dec) * F.col("t").cast(dec) * F.col("t").cast(dec)
            - F.col("t").cast(dec)
        ).alias("tie_cubes"),
    )
    nl = F.lit(n).cast("long")
    n_b = (nl - F.col("n_a")).cast("long")
    two_u = F.col("two_r_a") - F.col("n_a").cast(dec) * (
        F.col("n_a") + 1
    ).cast(dec)
    z = (
        two_u.cast("double")
        - F.col("n_a").cast("double") * n_b.cast("double")
    ) / (
        F.lit(2).cast("double")
        * F.sqrt(
            F.col("n_a").cast("double")
            * n_b.cast("double")
            / F.lit(12).cast("double")
            * (
                (nl + 1).cast("double")
                - F.col("tie_cubes").cast("double")
                / (nl.cast("double") * (nl - 1).cast("double"))
            )
        )
    )
    return s.select(
        F.col("n_a"),
        n_b.alias("n_b"),
        two_u.cast("long").alias("two_u_a"),
        z.alias("z"),
    )


def _zorder_oracle(bits: int = 16) -> str:
    cap = (1 << bits) - 1
    interleave = " + ".join(
        f"(((a >> {i}) & 1) << {2 * i}) + (((b >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH s AS (
      SELECT MIN(o_custkey) AS mina, MAX(o_custkey) AS maxa,
             MIN(o_totalprice) AS minb, MAX(o_totalprice) AS maxb
      FROM orders
    ),
    n AS (
      SELECT o_orderkey,
             LEAST(CAST(floor(
               (CAST(o_custkey AS DOUBLE) - CAST(mina AS DOUBLE))
               / (CASE WHEN CAST(maxa - mina AS DOUBLE) = 0 THEN 1.0
                       ELSE CAST(maxa - mina AS DOUBLE) END)
               * {cap}) AS BIGINT), {cap}) AS a,
             LEAST(CAST(floor(
               (CAST(o_totalprice AS DOUBLE) - CAST(minb AS DOUBLE))
               / (CASE WHEN CAST(maxb - minb AS DOUBLE) = 0 THEN 1.0
                       ELSE CAST(maxb - minb AS DOUBLE) END)
               * {cap}) AS BIGINT), {cap}) AS b
      FROM orders CROSS JOIN s
    )
    SELECT o_orderkey, CAST({interleave} AS BIGINT) AS zkey FROM n
    """


@query(
    "zorder_key_orders",
    oracle=_zorder_oracle(),
    description=(
        "Morton (Z-order) clustering key over (custkey, totalprice), "
        "16 bits per dimension: normalize each column to [0, 2^16) by "
        "its actual min/max (one 1-row aggregate broadcast back), then "
        "interleave the bits JVM-side — the multi-dimensional layout key "
        "behind data-skipping file layouts (sort by zkey before writing "
        "and BOTH columns' min/max file statistics become selective; "
        "operators/zorder.py write_zordered does the write).  The oracle "
        "replays the identical normalize-and-interleave arithmetic as an "
        "unrolled 32-term bit expression — exact, since every step is "
        "integer or deterministic IEEE double.  Plan: one tiny stats "
        "aggregate + a map-only projection, no shuffle at all (the sort "
        "belongs to the writer, not the key)"
    ),
)
def zorder_key_orders(spark, sf_dir):
    from ..operators.zorder import with_zorder_key

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return with_zorder_key(
        orders, ["o_custkey", "o_totalprice"], bits=16, key_col="zkey"
    ).select("o_orderkey", "zkey")


@query(
    "order_interarrival_stats",
    oracle="""
    WITH days AS (
      SELECT o_custkey AS k,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             o_orderkey AS ok
      FROM orders
    ),
    gaps AS (
      SELECT CAST(d - LAG(d) OVER (PARTITION BY k ORDER BY d, ok)
                  AS BIGINT) AS gap_days
      FROM days
    ),
    g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(gap_days) AS BIGINT) AS s FROM g),
    ranked AS (
      SELECT gap_days, ROW_NUMBER() OVER (ORDER BY gap_days) AS rn FROM g
    )
    SELECT n.n AS n_gaps,
           CAST(n.s AS DOUBLE) / CAST(n.n AS DOUBLE) AS mean_gap_days,
           med.gap_days AS median_gap_days,
           p90.gap_days AS p90_gap_days
    FROM n
    JOIN ranked med ON med.rn = (n.n + 1) // 2
    JOIN ranked p90 ON p90.rn = GREATEST(1,
                                         CAST(ceil(0.9 * n.n) AS BIGINT))
    """,
    description=(
        "customer order inter-arrival distribution: per-customer gaps "
        "between consecutive orders (LAG over (custkey) ordered by day "
        "with the order key as deterministic tiebreaker), then the "
        "gap distribution's count, exact mean, exact lower-median and "
        "exact p90 — the repeat-purchase cadence metric behind "
        "replenishment/churn models, complementing retention (did they "
        "come back) with WHEN they come back.  Gaps are integral days; "
        "the only double is the mean's single division; median/p90 are "
        "exact order statistics from the pinned two-phase rank, looked "
        "up as two bounded rows.  Plan: one shuffle on custkey for the "
        "LAG, the checkpointed range rank over the gap table, a 1-row "
        "aggregate"
    ),
)
def order_interarrival_stats(spark, sf_dir):
    import math

    from ..operators.identity import global_row_number

    orders = t(spark, sf_dir, "orders")
    days = orders.select(
        F.col("o_custkey").alias("k"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
        F.col("o_orderkey").alias("ok"),
    )
    w = Window.partitionBy("k").orderBy("d", "ok")
    gaps = (
        days.withColumn("gap_days", (F.col("d") - F.lag("d").over(w)).cast("long"))
        .filter(F.col("gap_days").isNotNull())
        .select("gap_days")
    )
    stats = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap_days").cast("long").alias("s"),
    ).first()
    n, s = int(stats["n"]), int(stats["s"] or 0)
    ranked, total = global_row_number(gaps, ["gap_days"], "rn")
    assert total == n
    k_med = (n + 1) // 2
    k_p90 = max(1, math.ceil(0.9 * n))
    vals = {
        r["rn"]: r["gap_days"]
        for r in ranked.filter(F.col("rn").isin([k_med, k_p90])).collect()
    }
    return spark.createDataFrame(
        [
            (
                n,
                float(s) / float(n) if n else None,
                vals.get(k_med),
                vals.get(k_p90),
            )
        ],
        "n_gaps long, mean_gap_days double, median_gap_days long, "
        "p90_gap_days long",
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS k,
             CAST(MAX(datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE))) AS BIGINT)
               AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(NTILE(5) OVER (ORDER BY last_day, k) AS INTEGER)
               AS r_score,
             CAST(NTILE(5) OVER (ORDER BY freq, k) AS INTEGER) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY cents, k) AS INTEGER) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM s GROUP BY 1, 2, 3
    """,
    description=(
        "RFM segmentation — the classic customer-value grid: per "
        "customer recency (epoch day of last order), frequency (order "
        "count), monetary (exact cents), each quintiled 1..5 "
        "(score 5 = most recent / most frequent / highest spend), "
        "reported as segment cell counts.  All three quintiles run "
        "through the pinned EXACT distributed NTILE "
        "(operators/quantiles.ntile_exact — range repartition + "
        "per-partition rank + metadata prefix sum; integer div at "
        "bucket boundaries), with the customer id as the "
        "deterministic tiebreaker — never a single-task global sort.  "
        "Plan: one fact partial agg to the customer table, then three "
        "range-shuffle rank passes over it (the price of exact "
        "quantile boundaries at any scale), one final cell agg"
    ),
)
def rfm_customer_segments(spark, sf_dir):
    from ..operators.quantiles import ntile_exact

    orders = t(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            )
        )
        .cast("long")
        .alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("cents"),
    )
    t1 = ntile_exact(cust, 5, ["last_day", "k"], "r_score")
    t2 = ntile_exact(t1, 5, ["freq", "k"], "f_score")
    t3 = ntile_exact(t2, 5, ["cents", "k"], "m_score")
    return t3.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@query(
    "skew_profile_orders_custkey",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey
    ),
    buckets AS (
      SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_count
      FROM per_key GROUP BY 1
    )
    SELECT bucket, n_keys, n_rows, max_count,
           CAST(n_rows AS DOUBLE)
             / CAST(SUM(n_rows) OVER () AS DOUBLE) AS rows_share
    FROM buckets
    """,
    description=(
        "join-key skew profile: per-key cardinality histogram of orders "
        "by custkey in power-of-two buckets (bucket = bit length of the "
        "key's row count — integer-exact, no floor(log2(double)) "
        "boundary bugs at exact powers of two), with each bucket's key "
        "count, row mass, max key, and share of total rows — the "
        "diagnostic you run BEFORE choosing a join strategy at 100 TB: "
        "a heavy top bucket says salt or skew-join this key, a flat "
        "profile says the plain hash shuffle is fine (pairs with the "
        "salted_join and AQE-skew entries that implement the remedies). "
        "Plan: one partial-agg shuffle on the key; the bucket table is "
        "<= 64 rows, its total a whole-set window on bounded data"
    ),
)
def skew_profile_orders_custkey(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    buckets = per_key.groupBy(
        F.length(F.bin(F.col("cnt"))).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_count"),
    )
    return buckets.select(
        "bucket",
        "n_keys",
        "n_rows",
        "max_count",
        (
            F.col("n_rows").cast("double")
            / F.sum("n_rows").over(Window.partitionBy()).cast("double")
        ).alias("rows_share"),
    )


@query(
    "chi_square_priority_status",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT pr, st, n,
             CAST(SUM(n) OVER (PARTITION BY pr) AS BIGINT) AS r,
             CAST(SUM(n) OVER (PARTITION BY st) AS BIGINT) AS c,
             CAST(SUM(n) OVER () AS BIGINT) AS nn
      FROM cells
    ),
    q AS (
      SELECT nn, pr, st,
             CAST(floor(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
                        * 1e12) AS BIGINT) AS qq
      FROM w
    ),
    agg AS (
      SELECT MAX(nn) AS n, CAST(SUM(qq) AS BIGINT) AS sq,
             CAST(COUNT(DISTINCT pr) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT st) AS BIGINT) AS nc
      FROM q
    )
    SELECT n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           CAST(sq AS DOUBLE) / 1e12 * CAST(n AS DOUBLE)
             - CAST(n AS DOUBLE) AS chi2,
           sqrt(GREATEST(CAST(0 AS DOUBLE),
                         CAST(sq AS DOUBLE) / 1e12 * CAST(n AS DOUBLE)
                         - CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE)
                   * CAST(LEAST(nr - 1, nc - 1) AS DOUBLE))) AS cramers_v
    FROM agg
    """,
    description=(
        "chi-square test of independence + Cramer's V over the "
        "(order priority x order status) contingency table — the "
        "categorical-association test completing the statistical family "
        "(KS for shape, Mann-Whitney for location, chi-square for "
        "categorical dependence).  Uses the algebraic identity "
        "chi2 = N(sum n_ij^2/(r_i c_j) - 1) so no expected-count "
        "subtraction per cell; each term is a deterministic double on "
        "exact integers floor-quantized to 1e-12 units and summed as "
        "integers (the defined statistic — quantization error is "
        "deterministic and identical cross-engine, the established "
        "fixed-point pattern).  Plan: ONE partial-agg shuffle on the "
        "(priority,status) cells; marginals and N are whole-set window "
        "sums over the <=15-row cell table (bounded by the category "
        "domains, never by SF) — no 1-row crossjoins, no second scan"
    ),
)
def chi_square_priority_status(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        cells.withColumn(
            "r", F.sum("n").over(Window.partitionBy("pr")).cast("long")
        )
        .withColumn(
            "c", F.sum("n").over(Window.partitionBy("st")).cast("long")
        )
        .withColumn("nn", F.sum("n").over(Window.partitionBy()).cast("long"))
    )
    q = w.select(
        "nn",
        "pr",
        "st",
        F.floor(
            F.col("n").cast("double")
            * F.col("n").cast("double")
            / (F.col("r").cast("double") * F.col("c").cast("double"))
            * F.lit(1e12)
        )
        .cast("long")
        .alias("qq"),
    )
    agg = q.agg(
        F.max("nn").alias("n"),
        F.sum("qq").cast("long").alias("sq"),
        F.count_distinct("pr").cast("long").alias("nr"),
        F.count_distinct("st").cast("long").alias("nc"),
    )
    nd = F.col("n").cast("double")
    chi2 = F.col("sq").cast("double") / F.lit(1e12) * nd - nd
    return agg.select(
        F.col("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        chi2.alias("chi2"),
        # clamp: the 1e-12 floor-quantization can leave chi2 a hair below
        # zero under perfect independence — sqrt must not go NaN
        F.sqrt(
            F.greatest(F.lit(0.0), chi2)
            / (nd * F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double"))
        ).alias("cramers_v"),
    )


@query(
    "seasonal_decompose_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day_number,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    ma AS (
      SELECT day_number, cents,
             CAST(day_number % 7 AS BIGINT) AS dow,
             CAST(SUM(cents) OVER (ORDER BY day_number
                                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS trend_c7,
             CAST(COUNT(*) OVER (ORDER BY day_number
                                 RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS k7
      FROM daily
    ),
    det AS (
      SELECT *, CASE WHEN k7 = 7 THEN 7 * cents - trend_c7 END AS detr7
      FROM ma
    ),
    seas AS (
      SELECT *,
             CAST(SUM(CASE WHEN k7 = 7 THEN detr7 END)
                  OVER (PARTITION BY dow) AS BIGINT) AS ssum,
             CAST(COUNT(CASE WHEN k7 = 7 THEN 1 END)
                  OVER (PARTITION BY dow) AS BIGINT) AS scount
      FROM det
    )
    SELECT day_number, dow,
           CAST(cents AS DOUBLE) / 100.0 AS y,
           CASE WHEN k7 = 7
                THEN CAST(trend_c7 AS DOUBLE) / 700.0 END AS trend,
           CAST(ssum AS DOUBLE) / (700.0 * CAST(scount AS DOUBLE))
             AS seasonal,
           CASE WHEN k7 = 7
                THEN CAST(cents AS DOUBLE) / 100.0
                     - CAST(trend_c7 AS DOUBLE) / 700.0
                     - CAST(ssum AS DOUBLE)
                       / (700.0 * CAST(scount AS DOUBLE)) END AS resid
    FROM seas
    """,
    description=(
        "classical additive seasonal decomposition of daily revenue: "
        "trend = centered 7-day moving average (RANGE frame on the day "
        "number, so calendar gaps shrink the frame and are excluded via "
        "the full-window k7=7 guard instead of silently averaging 6 "
        "days), seasonal = per-day-of-week mean of the detrended series, "
        "residual = y - trend - seasonal — the trend/seasonality/anomaly "
        "split behind every ops dashboard, complementing the "
        "anomaly-zscore and autocorrelation entries.  Integer-exact "
        "core: revenue in exact cents, the detrended series kept as "
        "7*cents - trend_c7 (integral, unit cents/7), seasonal sums "
        "integral per dow; doubles appear only in the final single "
        "divisions, so cross-engine parity is exact-then-rounded-once.  "
        "Plan: one fact-sized partial agg to the ~2400-row day table; "
        "all windows run on that bounded table (documented bounded "
        "whole-set windows, never fact-sized)"
    ),
)
def seasonal_decompose_daily_revenue(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_number")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    wma = Window.orderBy("day_number").rangeBetween(-3, 3)
    ma = daily.select(
        "day_number",
        "cents",
        (F.col("day_number") % 7).cast("long").alias("dow"),
        F.sum("cents").over(wma).cast("long").alias("trend_c7"),
        F.count(F.lit(1)).over(wma).cast("long").alias("k7"),
    )
    det = ma.withColumn(
        "detr7",
        F.when(F.col("k7") == 7, 7 * F.col("cents") - F.col("trend_c7")),
    )
    wdow = Window.partitionBy("dow")
    seas = det.withColumn(
        "ssum",
        F.sum(F.when(F.col("k7") == 7, F.col("detr7")))
        .over(wdow)
        .cast("long"),
    ).withColumn(
        "scount",
        F.count(F.when(F.col("k7") == 7, F.lit(1))).over(wdow).cast("long"),
    )
    y = F.col("cents").cast("double") / F.lit(100.0)
    trend = F.col("trend_c7").cast("double") / F.lit(700.0)
    seasonal = F.col("ssum").cast("double") / (
        F.lit(700.0) * F.col("scount").cast("double")
    )
    return seas.select(
        "day_number",
        "dow",
        y.alias("y"),
        F.when(F.col("k7") == 7, trend).alias("trend"),
        seasonal.alias("seasonal"),
        F.when(F.col("k7") == 7, y - trend - seasonal).alias("resid"),
    )


# KS packed-CDF base: cohort-b running counts live in the low bits, so the
# packed path needs n_b < KS_PACK_BASE (and n_a under 2^63/KS_PACK_BASE).
# Module-level so tests can shrink it to force the two-pass fallback.
KS_PACK_BASE = 1 << 32


@query(
    "ks_test_order_values",
    oracle="""
    WITH v AS (
      SELECT o_totalprice AS val,
             CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN o_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM orders GROUP BY o_totalprice
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY val
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY val
                           ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM v
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM v
    )
    SELECT tot.n_a, tot.n_b,
           CAST(MAX(abs(cum_a * tot.n_b - cum_b * tot.n_a)) AS BIGINT)
             AS d_numerator,
           CAST(MAX(abs(cum_a * tot.n_b - cum_b * tot.n_a)) AS DOUBLE)
             / (CAST(tot.n_a AS DOUBLE) * tot.n_b) AS ks_d
    FROM cum CROSS JOIN tot
    GROUP BY tot.n_a, tot.n_b
    """,
    description=(
        "two-sample Kolmogorov-Smirnov statistic between the order-value "
        "distributions of the custkey-parity cohorts — the "
        "distribution-shift detector (data drift between pipeline runs, "
        "treatment-vs-control value distributions) that mean-based tests "
        "miss.  FULLY integer-exact: per distinct value the two cohort "
        "counts are packed into one int64 (ca*2^32+cb — running sums "
        "distribute over the packing), ONE pass of the pinned "
        "distributed running sum produces both CDFs, and D's numerator "
        "max(|cum_a*n_b - cum_b*n_a|) never leaves integers; the only "
        "double is the final division.  Ties are handled by grouping on "
        "the value BEFORE the cumsum, so the CDF is evaluated at value "
        "boundaries (the well-defined KS convention).  Plan: one "
        "partial agg on value, the checkpointed range running sum, a "
        "1-row max — no single-task sort.  Bounds (measured, not "
        "folklore): the packed single-pass path needs n_b < 2^32, "
        "n_a < 2^31 (packed grand total fits int64) AND — the BINDING "
        "constraint — n_a*n_b < 2^63 so the numerator cross-products "
        "stay in int64, i.e. ~3.0e9 per cohort when balanced.  A sizing "
        "aggregate checks all three up front; beyond them the entry "
        "AUTOMATICALLY switches to the exact two-pass fallback (one "
        "running sum per cohort, numerator in decimal(38,0) — exact to "
        "~1e19 rows per cohort; d_numerator is null if it exceeds "
        "int64, ks_d always exact-then-rounded-once)"
    ),
)
def ks_test_order_values(spark, sf_dir):
    from ..operators.identity import global_running_sum

    orders = t(spark, sf_dir, "orders")
    v = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum(F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("o_custkey") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    # sizing aggregate: the path choice depends on the cohort totals
    tot = v.agg(
        F.sum("ca").cast("long").alias("a"), F.sum("cb").cast("long").alias("b")
    ).first()
    n_a = int(tot["a"] or 0)
    n_b = int(tot["b"] or 0)
    fits_packed = (
        n_b < KS_PACK_BASE
        and n_a < (1 << 63) // KS_PACK_BASE
        and n_a * n_b < (1 << 63)
    )
    if fits_packed:
        packed = v.withColumn(
            "packed",
            F.col("ca") * F.lit(KS_PACK_BASE).cast("long") + F.col("cb"),
        )
        cum, _ = global_running_sum(packed, ["val"], "packed", "cum_packed")
        cum = cum.select(
            F.expr(f"cum_packed div {KS_PACK_BASE}").cast("long").alias(
                "cum_a"
            ),
            (F.col("cum_packed") % F.lit(KS_PACK_BASE))
            .cast("long")
            .alias("cum_b"),
        )
        d_num = F.max(
            F.abs(F.col("cum_a") * F.lit(n_b) - F.col("cum_b") * F.lit(n_a))
        ).cast("long")
        d_num_dbl = d_num.cast("double")
    else:
        # two-pass exact fallback: one pinned running sum per cohort
        # (second pass re-ranges the already-grouped value table — small),
        # cross-products in decimal(38,0) so nothing overflows below
        # ~1e19 rows per cohort
        cum1, _ = global_running_sum(v, ["val"], "ca", "cum_a")
        cum, _ = global_running_sum(cum1, ["val"], "cb", "cum_b")
        dec = "decimal(38,0)"
        d_dec = F.max(
            F.abs(
                F.col("cum_a").cast(dec) * F.lit(n_b).cast(dec)
                - F.col("cum_b").cast(dec) * F.lit(n_a).cast(dec)
            )
        )
        d_num = d_dec.try_cast("long")
        d_num_dbl = d_dec.cast("double")
    return cum.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        d_num.alias("d_numerator"),
        (
            d_num_dbl / (F.lit(n_a).cast("double") * F.lit(n_b))
        ).alias("ks_d"),
    )


@query(
    "kaplan_meier_user_retention",
    oracle="""
    WITH life AS (
      SELECT user_id,
             datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
               AS t,
             MAX(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id
    ),
    w AS (SELECT MAX(last_day) AS wend FROM life),
    marked AS (
      SELECT t,
             CASE WHEN datediff('day', last_day, w.wend) < 7
                  THEN 1 ELSE 0 END AS censored
      FROM life CROSS JOIN w
    ),
    bytime AS (
      SELECT t,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(SUM(censored) AS BIGINT) AS c
      FROM marked GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             CAST(SUM(d + c) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_risk
      FROM bytime
    ),
    terms AS (
      SELECT t, d, c, n_risk,
             CASE WHEN d >= n_risk THEN NULL
                  ELSE CAST(floor(LN(1 - CAST(d AS DOUBLE) / n_risk)
                                  * 1000000000000.0) AS BIGINT) END AS lq,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
      FROM risk
    )
    SELECT t, n_risk, d AS d_churned, c AS c_censored,
           CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
                ELSE exp(CAST(SUM(lq) OVER (ORDER BY t
                                            ROWS UNBOUNDED PRECEDING)
                              AS DOUBLE) / 1000000000000.0) END AS survival
    FROM terms
    """,
    description=(
        "Kaplan-Meier retention curve over user lifetimes (first event to "
        "last event, right-censored for users still active in the final "
        "week of the observation window) — the survival-analysis estimator "
        "behind every churn / retention-cohort readout, correctly "
        "excluding censored users from the churn numerator while keeping "
        "them at risk.  The at-risk counts are a suffix sum over the "
        "bounded distinct-lifetime table (days in the window, not users), "
        "each hazard term ln(1-d/n) is a deterministic double on exact "
        "integer ratios floor-quantized to 1e-12 units, and the product "
        "becomes exp of an exact integer cumsum — engine-identical, with "
        "an explicit absorbing zero once d=n.  Plan: one per-user partial "
        "agg (the only fact-sized shuffle), then windows over the "
        "~30-row lifetime table"
    ),
)
def kaplan_meier_user_retention(spark, sf_dir):
    events = t(spark, sf_dir, "events")
    life = events.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        )
        .cast("long")
        .alias("t"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    w = Window.partitionBy()
    marked = life.withColumn(
        "censored",
        F.when(
            F.datediff(F.max("last_day").over(w), F.col("last_day")) < 7, 1
        ).otherwise(0),
    )
    bytime = marked.groupBy("t").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    wdesc = (
        Window.partitionBy()
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wasc = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = bytime.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(wdesc).cast("long")
    )
    lq = F.when(
        F.col("d") >= F.col("n_risk"), F.lit(None).cast("long")
    ).otherwise(
        F.floor(
            F.log(1 - F.col("d").cast("double") / F.col("n_risk"))
            * F.lit(1000000000000.0)
        ).cast("long")
    )
    terms = risk.withColumn("lq", lq).withColumn(
        "dead",
        F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)).over(
            wasc
        ),
    )
    return terms.select(
        "t",
        "n_risk",
        F.col("d").alias("d_churned"),
        F.col("c").alias("c_censored"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(
            F.exp(
                F.sum("lq").over(wasc).cast("double")
                / F.lit(1000000000000.0)
            )
        )
        .alias("survival"),
    )
