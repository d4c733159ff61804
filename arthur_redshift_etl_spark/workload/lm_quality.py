"""LM-quality scoring, PCA, token budgets, leakage-safe splits, robust
statistics and graph ranking."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..plans.broadcast import DEFAULT_BROADCAST_BUDGET_BYTES, fits_broadcast_budget
from .core import query, t
from .training import _DEDUP_PAIRS_CTES, _REACH_CTE, _near_dup_components


@query(
    "doc_lm_crossentropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks,
           UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    ),
    pdb AS (
      SELECT doc_id, w1, w2, COUNT(*) AS npos FROM bg GROUP BY 1, 2, 3
    ),
    g2 AS (
      SELECT w1, w2, CAST(SUM(npos) AS BIGINT) AS c2 FROM pdb GROUP BY 1, 2
    ),
    g1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM g2 GROUP BY 1
    ),
    v AS (SELECT COUNT(DISTINCT w2) AS vsz FROM g2),
    p AS (
      SELECT g2.w1, g2.w2,
             CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE) AS pr
      FROM g2 JOIN g1 USING (w1) CROSS JOIN v
    )
    SELECT pdb.doc_id,
           CAST(SUM(npos) AS BIGINT) AS n_bigrams,
           -SUM(npos * LN(pr)) / SUM(npos) AS cross_entropy
    FROM pdb JOIN p ON pdb.w1 = p.w1 AND pdb.w2 = p.w2
    GROUP BY pdb.doc_id
    """,
    description=(
        "KenLM-style corpus-LM quality scoring (the perplexity filter used "
        "by published pretraining pipelines, e.g. CCNet): train an add-one "
        "bigram LM on the corpus itself in one pass, then score every "
        "document's per-bigram cross-entropy against it.  All counts stay "
        "integers until ONE IEEE division per distinct bigram, so "
        "probabilities are bit-identical across engines; the per-doc log "
        "sum is same-sign (no cancellation) so the %g-normalized compare "
        "is stable.  Scale shape: bigram explode is map-only (arrays_zip "
        "of two slices, no positional join); counts are partial-agg "
        "shuffles on (doc,w1,w2) then (w1,w2); the score join shuffles "
        "pdb against the probability table on the bigram key — skewed "
        "common bigrams are AQE skew-join territory; vocab table g1 "
        "stays vocab-sized, never corpus-sized"
    ),
)
def doc_lm_crossentropy(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    # map-only bigram stream: zip t[1..n-1] with t[2..n]
    bg = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2"))
    # persist (r13 pin sweep 3): pdb feeds the model aggregation AND the
    # final score join; g2 feeds g1, vsz, and probs — unpinned, each
    # consumer re-runs the bigram explode + two-level count chain
    pdb = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("npos")
    ).persist()
    g2 = pdb.groupBy("w1", "w2").agg(
        F.sum("npos").cast("long").alias("c2")
    ).persist()
    g1 = g2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vsz = g2.agg(F.countDistinct("w2").alias("vsz"))
    probs = (
        g2.join(g1, "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "w1",
            "w2",
            (
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.col("vsz")).cast("double")
            ).alias("pr"),
        )
    )
    return (
        pdb.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("npos").cast("long").alias("n_bigrams"),
            (
                -F.sum(F.col("npos") * F.log("pr")) / F.sum("npos")
            ).alias("cross_entropy"),
        )
    )


@query(
    "pca_power_iteration",
    oracle="""
    WITH xq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)
             ) AS q
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, u.i - 1 AS dim, q[u.i] AS xj
      FROM xq, UNNEST(generate_series(1, len(q))) AS u(i)
    ),
    d0 AS (
      SELECT vec_id, CAST(SUM(xj) AS BIGINT) AS dot0 FROM ex GROUP BY vec_id
    ),
    s1 AS (
      SELECT dim, CAST(SUM(xj * dot0) AS BIGINT) AS s
      FROM ex JOIN d0 USING (vec_id) GROUP BY dim
    ),
    n1 AS (
      SELECT SQRT(SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) AS nrm FROM s1
    ),
    v1 AS (SELECT dim, CAST(s AS DOUBLE) / nrm AS v FROM s1, n1),
    d1 AS (
      SELECT ex.vec_id,
             CAST(FLOOR(SUM(CAST(ex.xj AS DOUBLE) * v1.v)) AS BIGINT) AS dot1
      FROM ex JOIN v1 USING (dim) GROUP BY ex.vec_id
    ),
    s2 AS (
      SELECT ex.dim, CAST(SUM(ex.xj * d1.dot1) AS BIGINT) AS s
      FROM ex JOIN d1 USING (vec_id) GROUP BY ex.dim
    ),
    n2 AS (
      SELECT SQRT(SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) AS nrm FROM s2
    )
    SELECT CAST(dim AS INTEGER) AS dim, CAST(s AS DOUBLE) / nrm AS component
    FROM s2, n2
    """,
    description=(
        "top principal component by two distributed power iterations, "
        "hash-oracle-checked: embeddings are fixed-pointed once "
        "(floor(x*1e4), exact for float32 inputs), both matrix-vector "
        "products run in EXACT int64 arithmetic (magnitude budget "
        "~5e12 << 2^63 at 100x rows), and doubles appear only in the two "
        "normalizations, where every component is exact_int/norm — "
        "uniform relative error ~1e-14 with no cancellation, so %g-digit "
        "parity holds even for near-zero components.  The inter-iteration "
        "dot product is floor-quantized to keep iteration 2 integer-exact "
        "(direction error ~1e-4, bounded and documented).  Scale shape: "
        "each iteration is exactly ONE corpus scan + ONE 64-key shuffle — "
        "the per-row dot rides the same projection as the posexplode (no "
        "self-join of the exploded table on vec_id), the vector sums "
        "partial-agg to <=64 rows per task, and the intermediate "
        "eigenvector travels as a single broadcast 64-double array row "
        "folded by zip_with.  No driver collect anywhere — normalizers "
        "are whole-set window sums over the 64-row vector table, bounded "
        "by dimensionality, not data"
    ),
)
def pca_power_iteration(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10000).cast("long"),
        ).alias("q"),
    )
    # iteration 1 against the (implicit, unnormalized) all-ones start
    # vector: the per-row dot rides the SAME projection as the explode, so
    # the whole iteration is one scan + one 64-key partial-agg shuffle —
    # no self-join of the exploded table on vec_id (that shape shuffles
    # 64x the corpus by row key; this one shuffles <=64 rows per task)
    ex1 = xq.select(
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "dot0"
        ),
        F.posexplode("q").alias("dim", "xj"),
    )
    s1 = ex1.groupBy("dim").agg(
        F.sum(F.col("xj") * F.col("dot0")).cast("long").alias("s")
    )
    # normalizer = whole-set window sum over the 64-row vector table —
    # bounded by dimensionality, not data, and it keeps the s1 subtree
    # appearing ONCE in the plan (a separate 1-row aggregate would clone
    # the whole upstream lineage into each consumer)
    wall = Window.partitionBy()
    nrm1 = F.sqrt(
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")).over(wall)
    )
    # pivot v1 into ONE 64-double array row and broadcast it — iteration 2
    # folds it row-wise (zip_with), again one scan + one 64-key shuffle
    v1arr = (
        s1.select(
            F.struct(
                "dim", (F.col("s").cast("double") / nrm1).alias("v")
            ).alias("sv")
        )
        .agg(F.array_sort(F.collect_list("sv")).alias("a"))
        .select(F.transform("a", lambda st: st["v"]).alias("varr"))
    )
    # dot1 floor-quantized so the second matrix product is integer-exact
    ex2 = xq.crossJoin(F.broadcast(v1arr)).select(
        F.floor(
            F.aggregate(
                F.zip_with("q", "varr", lambda x, v: x.cast("double") * v),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        .cast("long")
        .alias("dot1"),
        F.posexplode("q").alias("dim", "xj"),
    )
    s2 = ex2.groupBy("dim").agg(
        F.sum(F.col("xj") * F.col("dot1")).cast("long").alias("s")
    )
    nrm2 = F.sqrt(
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")).over(wall)
    )
    return s2.select(
        F.col("dim").cast("int").alias("dim"),
        (F.col("s").cast("double") / nrm2).alias("component"),
    )


@query(
    "corpus_token_budget_select",
    oracle="""
    WITH sc AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ),
    cum AS (
      SELECT doc_id, score, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS cum_tokens
      FROM sc
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens - n_tokens < 20000
    """,
    description=(
        "data selection under a global token budget (the 'take the best "
        "docs until the budget is spent' stage of a pretraining mix): "
        "docs are ranked by a quality score (distinct-token ratio, exact "
        "integer-derived division; doc_id tiebreak) and the greedy prefix "
        "whose running token total stays under the budget is selected, "
        "straddler included — identical to SUM OVER (ORDER BY) semantics. "
        "The running sum is the EXACT distributed two-phase form "
        "(operators/identity.py global_running_sum): range-repartition on "
        "the rank key, per-partition window prefix sums, and a "
        "metadata-only driver prefix sum over per-partition totals — the "
        "data never funnels through one task, unlike a partition-less "
        "SUM OVER window"
    ),
)
def corpus_token_budget_select(spark, sf_dir):
    from ..operators.identity import global_running_sum

    docs = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    sc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("score"),
    ).withColumn("neg_score", -F.col("score"))
    cum, _total = global_running_sum(
        sc, ["neg_score", "doc_id"], "n_tokens", sum_column="cum_tokens"
    )
    return cum.filter(
        F.col("cum_tokens") - F.col("n_tokens") < 20000
    ).select("doc_id", "score", "n_tokens", "cum_tokens")


@query(
    "split_leakage_safe",
    oracle=f"""{_DEDUP_PAIRS_CTES},
    {_REACH_CTE},
    comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           CAST((component * 2654435761) % 4294967296 % 100 AS BIGINT) AS bucket,
           CASE WHEN (component * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
                WHEN (component * 2654435761) % 4294967296 % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM comp
    """,
    description=(
        "leakage-safe train/valid/test split: near-duplicate documents must "
        "never straddle a split boundary (a test doc with a train near-dup "
        "is contamination), so the split key is the doc's near-dup "
        "connected-component id (min doc_id via iterative hash-min, "
        "operators/clustering.py) rather than the doc id — every component "
        "lands wholly on one side by construction, with the same "
        "multiplicative-hash bucketing as the plain split.  Scale shape "
        "inherits the CC entry's: prefix-filtered exact Jaccard pairs, "
        "localCheckpointed hash-min iterations with early stop, then a "
        "narrow hash expression — the split itself adds zero shuffles"
    ),
)
def split_leakage_safe(spark, sf_dir):
    from ..operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents")
    comp = _near_dup_components(docs).select(
        F.col("node").alias("doc_id"), "component"
    )
    # the ONE split implementation, keyed on the component instead of the
    # doc id — same hash, same 80/90 cut points as split_train_valid_test
    return split_assign(comp, id_col="component").select(
        "doc_id", "component", F.col("bucket").cast("long").alias("bucket"), "split"
    )


@query(
    "doc_lm_crossentropy_loo",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks,
           UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    ),
    pdb AS (
      SELECT doc_id, w1, w2, COUNT(*) AS npos FROM bg GROUP BY 1, 2, 3
    ),
    g2 AS (
      SELECT w1, w2, CAST(SUM(npos) AS BIGINT) AS c2 FROM pdb GROUP BY 1, 2
    ),
    g1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM g2 GROUP BY 1
    ),
    v AS (SELECT COUNT(DISTINCT w2) AS vsz FROM g2),
    scored AS (
      SELECT pdb.doc_id, pdb.npos,
             CAST(g2.c2 - pdb.npos + 1 AS DOUBLE)
               / CAST(g1.c1
                      - SUM(pdb.npos) OVER (PARTITION BY pdb.doc_id, pdb.w1)
                      + v.vsz AS DOUBLE) AS pr
      FROM pdb
      JOIN g2 ON pdb.w1 = g2.w1 AND pdb.w2 = g2.w2
      JOIN g1 ON pdb.w1 = g1.w1
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(SUM(npos) AS BIGINT) AS n_bigrams,
           -SUM(npos * LN(pr)) / SUM(npos) AS loo_cross_entropy
    FROM scored GROUP BY doc_id
    """,
    description=(
        "leave-one-document-out LM scoring — the methodologically honest "
        "form of the perplexity filter: each doc is scored against the "
        "corpus LM with its OWN bigram contributions subtracted "
        "(c2 - own_pair_count, c1 - own_context_count), so a document "
        "cannot look high-quality merely by having trained the model on "
        "itself; a doc scores well only if its content is common beyond "
        "itself.  Algebraically exact — no second LM fit, the exclusion "
        "is count subtraction on the SAME aggregates, with the own-context "
        "sum a window over the per-doc bigram table (no extra shuffle: "
        "same (doc,w1) grouping key prefix).  Integer counts + one IEEE "
        "division keep probabilities engine-exact; log terms same-sign"
    ),
)
def doc_lm_crossentropy_loo(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2"))
    # persist (r13 pin sweep 3): same multi-consumer shape as
    # doc_lm_crossentropy — pdb feeds the window/score join and g2;
    # g2 feeds g1, vsz, and the score join
    pdb = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("npos")
    ).persist()
    g2 = pdb.groupBy("w1", "w2").agg(
        F.sum("npos").cast("long").alias("c2")
    ).persist()
    g1 = g2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vsz = g2.agg(F.countDistinct("w2").alias("vsz"))
    own1 = F.sum("npos").over(Window.partitionBy("doc_id", "w1"))
    scored = (
        pdb.withColumn("own_c1", own1)
        .join(g2.join(g1, "w1"), ["w1", "w2"])
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            "npos",
            (
                (F.col("c2") - F.col("npos") + 1).cast("double")
                / (F.col("c1") - F.col("own_c1") + F.col("vsz")).cast("double")
            ).alias("pr"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("npos").cast("long").alias("n_bigrams"),
        (-F.sum(F.col("npos") * F.log("pr")) / F.sum("npos")).alias(
            "loo_cross_entropy"
        ),
    )


@query(
    "pca_grouped_by_label",
    oracle="""
    WITH xq AS (
      SELECT vec_id, label,
             list_transform(
               embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)
             ) AS q
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label, u.i - 1 AS dim, q[u.i] AS xj,
             CAST(list_sum(q) AS BIGINT) AS dot0
      FROM xq, UNNEST(generate_series(1, len(q))) AS u(i)
    ),
    s1 AS (
      SELECT label, dim, CAST(SUM(xj * dot0) AS BIGINT) AS s
      FROM ex GROUP BY label, dim
    ),
    v1 AS (
      SELECT label, dim,
             CAST(s AS DOUBLE)
               / SQRT(SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      OVER (PARTITION BY label)) AS v
      FROM s1
    ),
    d1 AS (
      SELECT ex.vec_id, ex.label,
             CAST(FLOOR(SUM(CAST(ex.xj AS DOUBLE) * v1.v)) AS BIGINT) AS dot1
      FROM ex JOIN v1 ON ex.label = v1.label AND ex.dim = v1.dim
      GROUP BY ex.vec_id, ex.label
    ),
    s2 AS (
      SELECT ex.label, ex.dim, CAST(SUM(ex.xj * d1.dot1) AS BIGINT) AS s
      FROM ex JOIN d1 ON ex.vec_id = d1.vec_id
      GROUP BY ex.label, ex.dim
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(s AS DOUBLE)
             / SQRT(SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    OVER (PARTITION BY label)) AS component
    FROM s2
    """,
    description=(
        "per-group top principal component (the grouped form of "
        "pca_power_iteration — per-domain/per-label embedding drift "
        "analysis): the same two fixed-point int64 power iterations run "
        "independently for every label in ONE pair of corpus scans, with "
        "all vector sums keyed by (label, dim) — partial aggregation still "
        "bounds shuffle rows at groups x 64 per task — and normalizers as "
        "per-label window sums over the (label, dim) table (64 rows per "
        "label, bounded by dimensionality).  The intermediate per-label "
        "eigenvectors travel as a broadcast (label -> 64-double array) "
        "table folded row-wise by zip_with after a broadcast hash join on "
        "the label — no shuffle of the corpus by row key anywhere"
    ),
)
def pca_grouped_by_label(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10000).cast("long"),
        ).alias("q"),
    )
    ex1 = xq.select(
        "label",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "dot0"
        ),
        F.posexplode("q").alias("dim", "xj"),
    )
    s1 = ex1.groupBy("label", "dim").agg(
        F.sum(F.col("xj") * F.col("dot0")).cast("long").alias("s")
    )
    wlab = Window.partitionBy("label")
    nrm1 = F.sqrt(
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")).over(wlab)
    )
    v1arr = (
        s1.select(
            "label",
            F.struct(
                "dim", (F.col("s").cast("double") / nrm1).alias("v")
            ).alias("sv"),
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list("sv")).alias("a"))
        .select("label", F.transform("a", lambda st: st["v"]).alias("varr"))
    )
    ex2 = xq.join(F.broadcast(v1arr), "label").select(
        "label",
        F.floor(
            F.aggregate(
                F.zip_with("q", "varr", lambda x, v: x.cast("double") * v),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        .cast("long")
        .alias("dot1"),
        F.posexplode("q").alias("dim", "xj"),
    )
    s2 = ex2.groupBy("label", "dim").agg(
        F.sum(F.col("xj") * F.col("dot1")).cast("long").alias("s")
    )
    nrm2 = F.sqrt(
        F.sum(F.col("s").cast("double") * F.col("s").cast("double")).over(wlab)
    )
    return s2.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        (F.col("s").cast("double") / nrm2).alias("component"),
    )


@query(
    "embedding_standardize_dims",
    oracle="""
    WITH xq AS (
      SELECT vec_id,
             list_transform(
               embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)
             ) AS q
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, u.i - 1 AS dim, q[u.i] AS xj
      FROM xq, UNNEST(generate_series(1, len(q))) AS u(i)
    ),
    m AS (
      SELECT vec_id, dim, xj,
             CAST(SUM(xj) OVER (PARTITION BY dim) AS BIGINT) AS s1,
             CAST(SUM(xj * xj) OVER (PARTITION BY dim) AS BIGINT) AS s2,
             CAST(COUNT(*) OVER (PARTITION BY dim) AS BIGINT) AS n
      FROM ex
    )
    SELECT vec_id, CAST(dim AS INTEGER) AS dim,
           (CAST(xj AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
             / SQRT(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             AS z
    FROM m
    """,
    description=(
        "per-dimension standardization of the embedding table (the "
        "whitening step before distance-based ANN/clustering, where a "
        "high-variance dimension would otherwise dominate the metric): "
        "moments come from EXACT int64 sums of the fixed-pointed values "
        "(sum and sum-of-squares are order-free integers, so mean/var "
        "derive from identical operands in both engines — no float-sum "
        "order sensitivity anywhere), then one deterministic double "
        "expression per value.  Scale shape: one corpus scan; the moment "
        "sums partial-aggregate to <=64 rows per task before a 64-key "
        "window (implemented as a dim-keyed aggregate joined back by "
        "broadcast, so the corpus is never shuffled by row key and the "
        "standardized output streams map-side)"
    ),
)
def embedding_standardize_dims(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10000).cast("long"),
        ).alias("q"),
    )
    ex = xq.select("vec_id", F.posexplode("q").alias("dim", "xj"))
    moments = ex.groupBy("dim").agg(
        F.sum("xj").cast("long").alias("s1"),
        F.sum(F.col("xj") * F.col("xj")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return ex.join(F.broadcast(moments), "dim").select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        ((F.col("xj").cast("double") - mean) / F.sqrt(var)).alias("z"),
    )


@query(
    "percentiles_chars_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99
    FROM documents GROUP BY lang
    """,
    description=(
        "per-group EXACT interpolated percentiles (doc-length profile per "
        "language): Spark's exact `percentile` aggregate and DuckDB's "
        "quantile_cont share the same linear-interpolation definition, "
        "verified by hash.  Scale contract: the exact aggregate buffers "
        "each group's values in its reducer, which is fine here because "
        "group count is bounded (languages) and per-group cardinality "
        "fits a task — for high-cardinality/unbounded groups the engine's "
        "scale paths are the KLL sketch (bounded state, operators/"
        "quantiles.py) or the two-phase exact rank (ntile_exact); this "
        "entry is the small-group exact complement"
    ),
)
def percentiles_chars_by_lang(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("percentile(n_chars, 0.5D)").alias("p50"),
        F.expr("percentile(n_chars, 0.9D)").alias("p90"),
        F.expr("percentile(n_chars, 0.99D)").alias("p99"),
    )


@query(
    "mad_robust_outlier_bounds",
    oracle="""
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY lang
    ),
    dev AS (
      SELECT d.lang, ABS(CAST(d.n_chars AS DOUBLE) - m.med) AS adev, m.med
      FROM documents d JOIN med m ON d.lang = m.lang
    )
    SELECT lang,
           ANY_VALUE(med) AS median_chars,
           quantile_cont(adev, 0.5) AS mad,
           ANY_VALUE(med) - 3 * 1.4826 * quantile_cont(adev, 0.5) AS lo,
           ANY_VALUE(med) + 3 * 1.4826 * quantile_cont(adev, 0.5) AS hi
    FROM dev GROUP BY lang
    """,
    description=(
        "median-absolute-deviation outlier bounds per language — the "
        "robust-statistics alternative to z-scores for length filtering "
        "(a handful of giant documents cannot drag the center the way "
        "they drag a mean/stddev): per-group exact median, then the "
        "median of absolute deviations, then the conventional "
        "3 x 1.4826 x MAD fence.  Two grouped exact-percentile passes "
        "with the 5-row median table re-entering by broadcast; same "
        "bounded-group contract as percentiles_chars_by_lang (KLL sketch "
        "is the unbounded path)"
    ),
)
def mad_robust_outlier_bounds(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5D)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang",
        "med",
        F.abs(F.col("n_chars").cast("double") - F.col("med")).alias("adev"),
    )
    k = 3 * 1.4826
    return dev.groupBy("lang").agg(
        F.first("med").alias("median_chars"),
        F.expr("percentile(adev, 0.5D)").alias("mad"),
        (F.first("med") - k * F.expr("percentile(adev, 0.5D)")).alias("lo"),
        (F.first("med") + k * F.expr("percentile(adev, 0.5D)")).alias("hi"),
    )


@query(
    "doc_token_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id
    )
    SELECT cnt.doc_id,
           ANY_VALUE(tot.n) AS n_tokens,
           -SUM((CAST(c AS DOUBLE) / tot.n) * LN(CAST(c AS DOUBLE) / tot.n))
             AS entropy
    FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
    GROUP BY cnt.doc_id
    """,
    description=(
        "per-document unigram token entropy — the standard "
        "gibberish/boilerplate signal (near-zero entropy = one token "
        "repeated; anomalously high = random noise) used alongside the "
        "LM cross-entropy filter.  Probabilities are exact-integer count "
        "ratios (one IEEE division each, engine-identical) and the "
        "entropy sum is same-sign, so the hash compare is stable.  One "
        "explode + two partial-agg shuffles on (doc, token) then doc — "
        "linear in corpus tokens, no joins against corpus-sized tables "
        "(the per-doc total re-enters via the same doc-keyed shuffle)"
    ),
)
def doc_token_entropy(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("n").alias("n_tokens"),
            (-F.sum(p * F.log(p))).alias("entropy"),
        )
    )


@query(
    "lang_unigram_kl_divergence",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    lc AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    ),
    ln_tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM lc GROUP BY lang
    ),
    gc AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS g FROM lc GROUP BY token
    ),
    gt AS (SELECT CAST(SUM(g) AS BIGINT) AS m FROM gc)
    SELECT lc.lang,
           ANY_VALUE(ln_tot.n) AS n_tokens,
           SUM((CAST(lc.c AS DOUBLE) / ln_tot.n)
               * LN((CAST(lc.c AS DOUBLE) / ln_tot.n)
                    / (CAST(gc.g AS DOUBLE) / gt.m))) AS kl_to_corpus
    FROM lc
    JOIN ln_tot ON lc.lang = ln_tot.lang
    JOIN gc ON lc.token = gc.token
    CROSS JOIN gt
    GROUP BY lc.lang
    """,
    description=(
        "per-language unigram KL divergence to the whole-corpus "
        "distribution — the domain-shift / mixture-drift measurement a "
        "training-mix pipeline monitors (a language whose token "
        "distribution diverges from the pool needs its mixture weight "
        "revisited).  Every probability is an exact-integer count ratio "
        "(one IEEE division), so both engines sum identical terms; terms "
        "are mixed-sign but O(1e-3) against an O(0.1) total, far inside "
        "the hash tolerance.  Two partial-agg shuffles on (lang,token) "
        "then token; the global-total scalar rides a broadcast"
    ),
)
def lang_unigram_kl_divergence(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # persist (r13 pin sweep 3): lc feeds ln_tot, gc, and the final join —
    # unpinned, each re-runs the token explode + (lang, token) count
    lc = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    ln_tot = lc.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    gc = lc.groupBy("token").agg(F.sum("c").cast("long").alias("g"))
    gt = gc.agg(F.sum("g").cast("long").alias("m"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.col("m")
    return (
        lc.join(F.broadcast(ln_tot), "lang")
        .join(gc, "token")
        .crossJoin(F.broadcast(gt))
        .groupBy("lang")
        .agg(
            F.first("n").alias("n_tokens"),
            F.sum(p * F.log(p / q)).alias("kl_to_corpus"),
        )
    )


@query(
    "daily_revenue_trend_fit",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM daily
    )
    SELECT n AS n_days,
           (n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx)
             / n AS intercept
    FROM s
    """,
    description=(
        "ordinary-least-squares trend fit of daily revenue vs time (the "
        "drift/trend monitor for any daily-rollup metric): the regression "
        "moments are EXACT — day index is an integer, daily revenue is an "
        "exact DECIMAL sum, and Sxy/Sy stay decimal until one final "
        "IEEE-deterministic conversion — so slope and intercept are "
        "engine-identical without any tolerance.  Plan: one groupBy day "
        "(partial-agg), then a 1-row moment aggregate; O(days) "
        "intermediate, no window, no sort"
    ),
)
def daily_revenue_trend_fit(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"))
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


@query(
    "lexical_richness_by_lang",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, token
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / SUM(c) AS type_token_ratio,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_frac
    FROM cnt GROUP BY lang
    """,
    description=(
        "lexical-richness profile per language: type-token ratio and "
        "hapax-legomena fraction — the vocabulary-growth signals used to "
        "size tokenizer vocabularies and spot synthetic/templated text "
        "(unnaturally low TTR) per corpus slice.  Pure integer counts "
        "with two exact divisions; two partial-agg shuffles on "
        "(lang,token) then lang"
    ),
)
def lexical_richness_by_lang(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    return cnt.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias(
            "type_token_ratio"
        ),
        hapax.alias("hapax"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hapax_frac"),
    )


@query(
    "dsir_importance_weights",
    oracle="""
    WITH tb AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 512 AS b
      FROM (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
      )
    ),
    dtb AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tb GROUP BY doc_id, b
    ),
    rc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM tb GROUP BY b),
    tc AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM tb
      WHERE source IN ('src1', 'src2') GROUP BY b
    ),
    nr AS (SELECT CAST(SUM(rc) AS BIGINT) AS n_r FROM rc),
    nt AS (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS n_t FROM tc),
    ratio AS (
      SELECT rc.b,
             CAST(floor(
               LN(CAST((COALESCE(tc.tc, 0) + 1) * (nr.n_r + 512) AS DOUBLE)
                  / CAST((rc.rc + 1) * (nt.n_t + 512) AS DOUBLE))
               * 1000000000000.0) AS BIGINT) AS llr_q
      FROM rc LEFT JOIN tc ON rc.b = tc.b
      CROSS JOIN nr CROSS JOIN nt
    )
    SELECT dtb.doc_id,
           CAST(SUM(dtb.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(dtb.cnt * ratio.llr_q) AS DOUBLE) / 1000000000000.0
             AS dsir_logweight
    FROM dtb JOIN ratio ON dtb.b = ratio.b
    GROUP BY dtb.doc_id
    """,
    description=(
        "DSIR-style importance weights for data selection (Xie et al. "
        "2023, 'Data Selection for Language Models via Importance "
        "Resampling'): per-document log-likelihood ratio of a hashed "
        "unigram model fit on a target domain (sources src1/src2) vs the "
        "raw corpus, with Laplace smoothing over 512 md5 buckets.  "
        "Selecting the top-weight documents tilts a pretraining mix "
        "toward the target domain without training a classifier.  Every "
        "bucket probability is an exact-integer count ratio ((c+1)/(N+B) "
        "with products < 2^53, so the doubles are exact) and the md5 "
        "bucket hash is engine-portable; the LN terms are floor-quantized "
        "to 1e-12 units so each doc's weight is an exact INTEGER sum — "
        "order-independent, hence bit-identical across engines (a raw "
        "float sum flipped the 10th digit once at sf0.001).  Plan: one "
        "token scan "
        "feeds a (doc_id,bucket) partial agg plus two 512-row bucket "
        "tables; the 512-row ratio table is broadcast back, so the only "
        "fact-sized shuffle is the (doc_id,bucket) agg — at 100 TB the "
        "bucket tables stay 512 rows regardless of corpus size"
    ),
)
def dsir_importance_weights(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    )
    b = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long") % 512
    ).alias("b")
    tb = toks.select("doc_id", "source", b)
    dtb = tb.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    rc = tb.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("rc"))
    tc = (
        tb.filter(F.col("source").isin("src1", "src2"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
    )
    w = Window.partitionBy()
    ratio = (
        rc.join(tc, "b", "left")
        .withColumn("tc", F.coalesce("tc", F.lit(0)))
        .withColumn("n_r", F.sum("rc").over(w))
        .withColumn("n_t", F.sum("tc").over(w))
        .select(
            "b",
            F.floor(
                F.log(
                    ((F.col("tc") + 1) * (F.col("n_r") + 512)).cast("double")
                    / ((F.col("rc") + 1) * (F.col("n_t") + 512)).cast("double")
                )
                * F.lit(1000000000000.0)
            )
            .cast("long")
            .alias("llr_q"),
        )
    )
    return (
        dtb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("cnt") * F.col("llr_q")).cast("double")
                / F.lit(1000000000000.0)
            ).alias("dsir_logweight"),
        )
    )


# ~32 B per (node, double) broadcast row incl. hashmap overhead; the shared
# 20 MiB decoded budget (plans/broadcast.py, measured crossover SCALE.md r7)
# keeps pagerank's two per-iteration broadcasts far under executor budgets.
# Module-level so tests can monkeypatch the threshold to force the
# shuffle-join path on small data.
PAGERANK_NODE_BCAST_LIMIT_BYTES = DEFAULT_BROADCAST_BUDGET_BYTES
_PAGERANK_BYTES_PER_NODE = 32


@query(
    "pagerank_two_iterations",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    pr1 AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE)
               + CAST(0.85 AS DOUBLE) * SUM(CAST(1 AS DOUBLE) / deg.deg) AS pr
      FROM e JOIN deg ON e.src = deg.src GROUP BY e.dst
    ),
    pr2 AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE)
               + CAST(0.85 AS DOUBLE) * SUM(pr1.pr / deg.deg) AS pr
      FROM e JOIN pr1 ON e.src = pr1.node
             JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    )
    SELECT pr2.node AS part_key, deg.deg AS degree, pr2.pr AS pagerank2
    FROM pr2 JOIN deg ON pr2.node = deg.src
    """,
    description=(
        "two fixed iterations of PageRank (damping 0.85, uniform start "
        "pr0=1) over the part co-purchase graph: undirected edges between "
        "parts appearing in the same order.  The graph-centrality family "
        "beyond connected components — co-purchase PageRank is the "
        "classic item-importance signal.  Fixed iteration count makes it "
        "SQL-expressible (each iteration is one join+groupBy round); the "
        "engine's iterative ops (k-means, CC) show the localCheckpoint "
        "pattern for open-ended iteration.  Determinism: symmetric edges "
        "mean in-neighbors=out-neighbors (no dangling mass), and every "
        "term is positive (no cancellation), so cross-engine sums agree "
        "far inside 10 digits.  Plan: the edge self-join is co-partitioned "
        "on l_orderkey (pair blowup bounded by order size, <=7 lines in "
        "TPC-H); deg and pr are NODE-sized tables — parts scale with SF, "
        "so broadcast is decided by MEASUREMENT, not assumption: the edge "
        "table is persisted, one sizing count reads the node count off "
        "the persisted degree table, and only if the rank/degree rows fit "
        "the broadcast budget do the per-iteration joins broadcast; above "
        "it they fall back to shuffle joins co-partitioned on src (the "
        "same measured auto-broadcast pattern as "
        "operators/dedup.py jaccard_from_shingles).  At 100 TB the node "
        "table is billions of rows and the fallback is the only correct "
        "plan; at dim-scale the broadcast path keeps each iteration "
        "fact-free"
    ),
)
def pagerank_two_iterations(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    bq = li.alias("b")
    e = (
        a.join(
            bq,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .persist()
    )
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    # sizing aggregate: executes the (persisted) edge self-join once and
    # measures the node count the broadcast decision actually depends on
    n_nodes = deg.count()
    bcast = fits_broadcast_budget(
        n_nodes,
        row_width=_PAGERANK_BYTES_PER_NODE,
        budget_bytes=PAGERANK_NODE_BCAST_LIMIT_BYTES,
    )

    def nodes(df):
        return F.broadcast(df) if bcast else df

    d15 = F.lit(0.15).cast("double")
    d85 = F.lit(0.85).cast("double")
    pr1 = (
        e.join(nodes(deg), "src")
        .groupBy("dst")
        .agg(
            (d15 + d85 * F.sum(F.lit(1).cast("double") / F.col("deg"))).alias(
                "pr"
            )
        )
        .withColumnRenamed("dst", "node")
    )
    pr2 = (
        e.join(nodes(pr1.withColumnRenamed("node", "src")), "src")
        .join(nodes(deg), "src")
        .groupBy("dst")
        .agg((d15 + d85 * F.sum(F.col("pr") / F.col("deg"))).alias("pr"))
        .withColumnRenamed("dst", "node")
    )
    return pr2.join(
        nodes(deg.withColumnRenamed("src", "node")), "node"
    ).select(
        F.col("node").alias("part_key"),
        F.col("deg").alias("degree"),
        F.col("pr").alias("pagerank2"),
    )


@query(
    "contrastive_pair_mining",
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
    a AS (SELECT * FROM qs WHERE vec_id % 97 = 0),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS alabel,
             e.vec_id AS cand_id, e.label AS clabel,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
                                          p -> p[1] * p[2])) AS DOUBLE)
               / (sqrt(CAST(a.ssq AS DOUBLE)) * sqrt(CAST(e.ssq AS DOUBLE)))
               AS sim
      FROM a, qs e WHERE e.vec_id != a.vec_id
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor_id, (clabel = alabel)
               ORDER BY sim DESC, cand_id) AS r
      FROM scored
    )
    SELECT anchor_id, alabel AS label,
           MAX(CASE WHEN clabel = alabel THEN cand_id END) AS pos_id,
           MAX(CASE WHEN clabel = alabel THEN sim END) AS pos_sim,
           MAX(CASE WHEN clabel != alabel THEN cand_id END) AS neg_id,
           MAX(CASE WHEN clabel != alabel THEN sim END) AS neg_sim,
           MAX(CASE WHEN clabel = alabel THEN sim END)
             - MAX(CASE WHEN clabel != alabel THEN sim END) AS margin
    FROM rk WHERE r = 1 GROUP BY anchor_id, alabel
    """,
    description=(
        "contrastive training-pair mining over the embedding table: for "
        "each anchor (vec_id % 97 = 0), the positive is the most-cosine-"
        "similar SAME-label vector and the hard negative the most-similar "
        "DIFFERENT-label vector (the standard hard-negative mining step "
        "for embedding-model fine-tuning), with the margin pos-neg as the "
        "pair-quality signal.  Cosine is computed on floor(x*1e4) int64 "
        "fixed-point vectors — dot and norms are exact integers (<2^53), "
        "so the one division and two sqrts are IEEE-identical across "
        "engines and ranking ties break on cand_id.  Plan: anchors are "
        "broadcast (map-only scoring of the corpus scan), and the per-"
        "anchor argmax is a partial-agg max of a (sim,-id) struct — no "
        "window sort, no all-pairs shuffle; at 100 TB cost is "
        "|corpus| x |anchors| map work plus one |anchors|-row aggregate"
    ),
)
def contrastive_pair_mining(spark, sf_dir):
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
    anchors = qs.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("qv").alias("aqv"),
        F.col("ssq").alias("assq"),
    )
    pairs = qs.crossJoin(F.broadcast(anchors)).filter(
        F.col("vec_id") != F.col("anchor_id")
    )
    dot = F.aggregate(
        F.zip_with("aqv", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sim = dot.cast("double") / (
        F.sqrt(F.col("assq").cast("double")) * F.sqrt(F.col("ssq").cast("double"))
    )
    same = F.col("label") == F.col("alabel")
    cand = F.struct(
        sim.alias("sim"), (-F.col("vec_id")).alias("negid")
    )
    best = pairs.groupBy("anchor_id", "alabel").agg(
        F.max(F.when(same, cand)).alias("pos"),
        F.max(F.when(~same, cand)).alias("neg"),
    )
    return best.select(
        "anchor_id",
        F.col("alabel").alias("label"),
        (-F.col("pos.negid")).alias("pos_id"),
        F.col("pos.sim").alias("pos_sim"),
        (-F.col("neg.negid")).alias("neg_id"),
        F.col("neg.sim").alias("neg_sim"),
        (F.col("pos.sim") - F.col("neg.sim")).alias("margin"),
    )
