"""Training-data pipeline: CDC compaction, deterministic splits and
samples, tf-idf term ranking, near-duplicate graph clustering."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import text as tx
from .core import query, t
from .pipeline import _JACCARD_SQL, _SHINGLE_PAIRS_CTES


# ===========================================================================
# Training-data pipeline: CDC compaction, deterministic splits/samples,
# tf-idf term ranking, near-dup graph clustering
# ===========================================================================

@query(
    "cdc_latest_event",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
      SELECT user_id, event_type, event_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    description=(
        "CDC-style latest-record compaction: one row per (user, event "
        "type), max (ts, event_id) — single hash shuffle, no global sort"
    ),
)
def cdc_latest_event(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return dd.keep_latest(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )


@query(
    "split_train_valid_test",
    oracle="""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      FROM documents
    )
    """,
    description=(
        "deterministic train/valid/test split via multiplicative integer "
        "hash — narrow, shuffle-free, reproducible across engines and runs"
    ),
)
def split_train_valid_test(spark, sf_dir):
    from ..operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents")
    return split_assign(docs, "doc_id").select("doc_id", "bucket", "split")


@query(
    "ngram_novelty_rate",
    oracle="""
    WITH sh AS (
      SELECT d.lang,
             (d.doc_id * 2654435761) % 4294967296 % 100 AS bucket,
             s.shingle
      FROM documents d, (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tokens) - 1),
                      i -> tokens[i] || ' ' || tokens[i+1] || ' '
                           || tokens[i+2])) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens
              FROM documents)
      ) s
      WHERE s.doc_id = d.doc_id
    ),
    train AS (SELECT DISTINCT shingle FROM sh WHERE bucket < 80),
    test_sh AS (SELECT lang, shingle FROM sh WHERE bucket >= 90)
    SELECT ts.lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_ngrams,
           CAST(SUM(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty_rate
    FROM test_sh ts LEFT JOIN train tr ON tr.shingle = ts.shingle
    GROUP BY ts.lang
    """,
    description=(
        "n-gram novelty of the held-out split vs the train split, per "
        "language — the curation metric that catches a test set the "
        "model has effectively seen (novelty ~ 0) or a domain the train "
        "mix missed (novelty ~ 1): occurrence-level fraction of test "
        "trigrams absent from the distinct train trigram set, same "
        "deterministic doc-hash split as split_train_valid_test.  One "
        "shuffle keyed by shingle (left join), partial-combined count "
        "per lang.  At 100 TB the join key drops to the 8-byte "
        "doc_shingle_hashes form (same set semantics, "
        "dedup.py:80-104) and train distinct-shingles becomes the "
        "reusable index artifact"
    ),
)
def ngram_novelty_rate(spark, sf_dir):
    from ..operators.dedup import shingles_col
    from ..operators.sampling import hash_bucket

    docs = t(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    # drop the unused valid split BEFORE shingling — the explode is the
    # expensive pass, and the filter is a pure doc_id expression the
    # optimizer keeps below it
    sh = (
        docs.filter((bucket < 80) | (bucket >= 90))
        .select(
            "lang",
            bucket.alias("bucket"),
            F.explode(shingles_col("text")).alias("shingle"),
        )
    )
    train = (
        sh.filter(F.col("bucket") < 80).select("shingle").distinct()
        .withColumn("seen", F.lit(1))
    )
    test_sh = sh.filter(F.col("bucket") >= 90).select("lang", "shingle")
    joined = test_sh.join(train, "shingle", "left")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_ngrams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        (
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("novelty_rate"),
    )


# fixed power-of-two sequence-length ladder (when-chain, engine-portable —
# no float log2 whose boundary rounding could differ across engines)
PACK_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


@query(
    "padding_waste_by_length_bucket",
    oracle=f"""
    WITH lens AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    capped AS (
      SELECT n_tokens,
             CASE {' '.join(f"WHEN n_tokens <= {c} THEN {c}" for c in PACK_CAPS)}
                  ELSE 8192 END AS seq_cap
      FROM lens
    )
    SELECT CAST(seq_cap AS BIGINT) AS seq_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(seq_cap - n_tokens) AS BIGINT) AS sum_padding,
           CAST(SUM(seq_cap - n_tokens) AS DOUBLE)
             / (CAST(seq_cap AS DOUBLE) * COUNT(*)) AS padding_rate
    FROM capped GROUP BY seq_cap
    """,
    description=(
        "padding waste per power-of-two sequence-length bucket — the "
        "batch-shape accounting that decides whether length-bucketed "
        "batching (or sequence packing, corpus.pack_sequences) is worth "
        "running: docs padded to the next cap in a fixed ladder "
        "(when-chain, no float log2 whose boundary rounding could "
        "diverge across engines), per-bucket doc/token/padding totals "
        "and the padded-slot waste rate.  Pure map + one "
        "partial-combined groupBy over ≤10 ladder rungs"
    ),
)
def padding_waste_by_length_bucket(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    cap = None
    for c in PACK_CAPS:
        cap = (
            F.when(n_tokens <= c, c)
            if cap is None
            else cap.when(n_tokens <= c, c)
        )
    cap = cap.otherwise(8192)
    capped = docs.select(
        n_tokens.alias("n_tokens"), cap.cast("long").alias("seq_cap")
    )
    return capped.groupBy("seq_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum(F.col("seq_cap") - F.col("n_tokens"))
        .cast("long")
        .alias("sum_padding"),
        (
            F.sum(F.col("seq_cap") - F.col("n_tokens")).cast("double")
            / (F.col("seq_cap").cast("double") * F.count(F.lit(1)))
        ).alias("padding_rate"),
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, md5(substr(text, 1, 40)) AS fingerprint
      FROM documents
    ),
    grp AS (
      SELECT fingerprint, COUNT(*) AS dup_count FROM fp GROUP BY fingerprint
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN g.dup_count > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_rate
    FROM fp f JOIN grp g ON g.fingerprint = f.fingerprint
    GROUP BY f.source
    """,
    description=(
        "per-source exact-duplicate rate (40-char-prefix fingerprints, "
        "the dedup_exact_prefix convention): the domain-level number "
        "that drives mix decisions — a source with a high dup_rate is "
        "boilerplate-heavy and its nominal token count overstates its "
        "real contribution; feeds corpus_domain_mix_resample.  Two "
        "partial-combined aggregations (fingerprint groups, then "
        "per-source counts); output bounded by |sources|"
    ),
)
def dedup_rate_by_source(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(F.substring(F.col("text"), 1, 40)).alias("fingerprint"),
    )
    grp = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    return (
        fp.join(grp, "fingerprint")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            (
                F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
    )


@query(
    "split_bias_check",
    oracle="""
    WITH bkt AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      FROM documents
    ),
    sp AS (
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             n_chars, n_tokens, lang
      FROM bkt
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars,
           CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS mean_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM sp GROUP BY split
    """,
    description=(
        "split-bias audit: per train/valid/test split (the "
        "split_train_valid_test hash buckets), doc counts, integer-"
        "exact mean chars/tokens, and language coverage — the sanity "
        "gate that catches a split whose eval slice is systematically "
        "longer/shorter or missing a language before any model sees "
        "it.  One partial-combined aggregation, 3 output rows at any "
        "corpus size"
    ),
)
def split_bias_check(spark, sf_dir):
    from ..operators.sampling import split_assign

    docs = t(spark, sf_dir, "documents")
    sp = split_assign(docs, "doc_id").select(
        "split",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        "lang",
    )
    return sp.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(n_chars) div count(1)").cast("long").alias("mean_chars"),
        F.expr("sum(n_tokens) div count(1)").cast("long").alias("mean_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


@query(
    "grouped_split_leakage_safe",
    oracle="""
    SELECT source,
           CASE WHEN substr(md5(source), 1, 4) < 'cccd' THEN 'train'
                WHEN substr(md5(source), 1, 4) < 'e667' THEN 'valid'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    description=(
        "LEAKAGE-SAFE dataset split (sampling.grouped_split_assign): "
        "the split key is the GROUP (source), not the row id, so every "
        "document of a source lands in one split — near-duplicates "
        "sharing a source can never straddle train and eval, the "
        "contamination path a doc-id split (split_train_valid_test) "
        "leaves open.  md5-hex-prefix cut points are engine-portable "
        "(lowercase hex both sides) and within 0.002% of 80/10/10 by "
        "group weight.  Narrow per-row expression, no shuffle before "
        "the audit aggregation; each source appears exactly once in "
        "the output — the leakage-safety is visible in the result shape"
    ),
)
def grouped_split_leakage_safe(spark, sf_dir):
    from ..operators.sampling import grouped_split_assign

    docs = t(spark, sf_dir, "documents")
    return (
        grouped_split_assign(docs, "source")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "stratified_sample_by_source",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 2654435761) % 4294967296 % 100, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ) WHERE rn <= CEIL(0.2 * n)
    """,
    description=(
        "exact-fraction stratified sample: ceil(20%) of each source "
        "stratum in deterministic hash order (one shuffle on the stratum)"
    ),
)
def stratified_sample_by_source(spark, sf_dir):
    from ..operators.sampling import stratified_sample_exact

    docs = t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, ["source"], "doc_id", 0.2).select(
        "doc_id", "source"
    )


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH stats AS (
      SELECT source, SUM(n_chars) AS chars, COUNT(*) AS n_docs
      FROM documents GROUP BY 1
    ), wts AS (
      SELECT source,
             CAST(FLOOR(SQRT(CAST(chars AS DOUBLE)) * 1000000) AS BIGINT) AS w_int,
             n_docs
      FROM stats
    ), tot AS (
      SELECT source, w_int,
             SUM(w_int) OVER () AS wsum,
             (2 * SUM(n_docs) OVER ()) // 5 AS n_target
      FROM wts
    ), qb AS (
      SELECT source, n_target,
             CAST((CAST(n_target AS HUGEINT) * w_int) // wsum AS BIGINT) AS base,
             CAST((CAST(n_target AS HUGEINT) * w_int) % wsum AS BIGINT) AS rem,
             SUM(CAST((CAST(n_target AS HUGEINT) * w_int) // wsum AS BIGINT))
               OVER () AS base_sum
      FROM tot
    ), quota AS (
      SELECT source,
             base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                              <= n_target - base_sum
                         THEN 1 ELSE 0 END AS quota
      FROM qb
    )
    SELECT d.doc_id, d.source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) d JOIN quota q ON d.source = q.source
    WHERE d.rn <= q.quota
    """,
    description=(
        "temperature-weighted corpus mixing (T=2 on per-source char mass): "
        "integer-exact largest-remainder quotas, deterministic md5-order "
        "selection per domain"
    ),
)
def corpus_temperature_mix(spark, sf_dir):
    """Domain rebalancing for training-data mixes: sample a 40%% budget of
    docs with per-source quotas proportional to (char mass)^(1/T), T=2 —
    the multilingual/low-resource up-weighting shape (raw proportions at
    T=1 flatten toward uniform as T grows).

    Exactness doctrine (driver %.10g + type parity): the only float op is
    a per-source sqrt (IEEE-identical in both engines, no accumulation);
    it is fixed-pointed via floor(sqrt*1e6) so the quota arithmetic —
    integer div/mod largest remainder summing exactly to the target —
    is order-independent.  The n_target x w_int product runs in 128-bit
    integer space (Spark decimal(38,0) div/% -> bigint, DuckDB HUGEINT
    // and %) because the int64 version overflows early: w_int ~
    sqrt(chars)*1e6 is ~3e12 at a 10 TB single domain, capping n_target
    at ~3e6 docs before 2^63 — far below a 40% doc budget.  The 128-bit
    bound is n_target x max(w_int) < 1e38: at 1e21 chars (~zettabyte,
    ~4e17 docs at 2.5 kB/doc) the product is ~5e33, so the arithmetic is
    exact through any physically plausible corpus.  Past that bound the
    engines DIVERGE in failure mode: DuckDB HUGEINT hard-errors, but
    Spark's decimal(38,0) overflow under the default ansi=false returns
    NULL silently — base/rem would go NULL and quotas would empty rather
    than error.  The bound is 5 orders of magnitude beyond a zettabyte
    corpus, so no runtime check is spent on it; anyone raising the quota
    precision should revisit this note.

    Scale shape: quotas come from a domain-cardinality aggregate (window
    over ~|domains| rows); selection is the skew-proof grouped rank
    (``operators.identity.grouped_row_number``: one RANGE shuffle over
    (source, hash-order), local sorts bounded by partition size even for
    a 90%-mass domain, metadata-only prefix sum) consumed by a broadcast
    join against the tiny quota table — no full-stratum window, no
    collect of row data.
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    wall = Window.partitionBy()
    quotas = (
        docs.groupBy("source")
        .agg(F.sum("n_chars").alias("chars"), F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "w_int",
            F.floor(F.sqrt(F.col("chars").cast("double")) * F.lit(1000000.0)).cast(
                "long"
            ),
        )
        .withColumn("wsum", F.sum("w_int").over(wall))
        .withColumn("n_target", F.expr("(2 * sum(n_docs) over ()) div 5"))
        .withColumn(
            "base",
            F.expr("(CAST(n_target AS DECIMAL(38,0)) * w_int) div wsum"),
        )
        .withColumn(
            "rem",
            F.expr(
                "CAST((CAST(n_target AS DECIMAL(38,0)) * w_int) % wsum AS BIGINT)"
            ),
        )
        .withColumn("base_sum", F.sum("base").over(wall))
        .withColumn(
            "extra_rank",
            F.row_number().over(
                Window.partitionBy().orderBy(F.col("rem").desc(), F.col("source"))
            ),
        )
        .withColumn(
            "quota",
            F.col("base")
            + F.when(
                F.col("extra_rank") <= F.col("n_target") - F.col("base_sum"), 1
            ).otherwise(0),
        )
        .select("source", "quota")
    )
    from ..operators.identity import grouped_row_number

    # skew-proof per-source selection rank: range repartition + local rank
    # + metadata prefix sum (grouped_row_number), NOT a full-stratum
    # row_number window — a 90%-mass web-crawl domain would sort in one
    # task there (straggler/OOM at 100 TB; measured A/B in
    # scripts/stratified_skew_ab.py)
    ranked = grouped_row_number(
        docs.withColumn("_ord", F.md5(F.col("doc_id").cast("string"))),
        ["source"],
        ["_ord", "doc_id"],
        row_number_column="rn",
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
    )


@query(
    "corpus_mix_epochs",
    oracle="""
    WITH stats AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ), wts AS (
      SELECT source, chars,
             CAST(FLOOR(SQRT(CAST(chars AS DOUBLE)) * 1000000) AS BIGINT) AS w_int
      FROM stats
    ), tgt AS (
      SELECT source, chars,
             CAST(
               ((3 * CAST(SUM(chars) OVER () AS HUGEINT)) * w_int)
                 // SUM(w_int) OVER ()
               AS BIGINT) AS target_chars
      FROM wts
    )
    SELECT source, chars, target_chars,
           CAST(CASE WHEN (target_chars + chars - 1) // chars > 4
                THEN 4 ELSE (target_chars + chars - 1) // chars END
                AS BIGINT) AS epochs,
           CAST(CASE WHEN target_chars > 4 * chars THEN 4 * chars
                ELSE target_chars END AS BIGINT) AS achieved_chars,
           CAST(CASE WHEN target_chars > 4 * chars THEN target_chars - 4 * chars
                ELSE 0 END AS BIGINT) AS shortfall_chars
    FROM tgt
    """,
    description=(
        "repetition plan for data-constrained mixing: per-domain epoch "
        "counts (capped at 4) to reach a 3x temperature-weighted char "
        "budget, with explicit shortfall where the cap binds"
    ),
)
def corpus_mix_epochs(spark, sf_dir):
    """The companion to ``corpus_temperature_mix`` for UP-sampling: when
    the mix budget exceeds a domain's data, the domain is repeated —
    epochs = ceil(target/available), capped at 4 (repetition beyond ~4
    epochs stops adding value in data-constrained training), and the
    unreachable remainder is surfaced as an explicit per-domain
    shortfall instead of being silently absorbed.

    Same exactness doctrine as the mix entry: one per-source IEEE sqrt
    fixed-pointed to int64, then every target/epoch/shortfall is integer
    div/mod — order-independent in both engines.  The 3*total x w_int
    product runs in 128-bit integer space (Spark decimal(38,0) div ->
    bigint, DuckDB HUGEINT //): the int64 version wrapped silently in
    Spark once 3*total*w_int passed 2^63 — with w_int ~ sqrt(chars)*1e6
    that is only ~2e8 total chars (~200 MB), i.e. barely past test
    scale.  The 128-bit bound is 3*total*max(w_int) < 1e38, i.e.
    3e6*total^1.5 < 1e38 -> total < ~1e21 chars (zettabyte); both
    engines hard-error rather than wrap beyond it.  Scale shape: a single
    domain-cardinality aggregate plus bounded whole-set windows; the
    output is |domains| rows, the plan has no per-doc work at all (the
    actual repetition is a downstream union of the selection N times).
    """
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    wall = Window.partitionBy()
    return (
        docs.groupBy("source")
        .agg(F.sum("n_chars").alias("chars"))
        .withColumn(
            "w_int",
            F.floor(F.sqrt(F.col("chars").cast("double")) * F.lit(1000000.0)).cast(
                "long"
            ),
        )
        .withColumn(
            "target_chars",
            F.expr(
                "((3 * CAST(sum(chars) over () AS DECIMAL(38,0))) * w_int)"
                " div (sum(w_int) over ())"
            ),
        )
        .withColumn(
            "epochs",
            F.least(
                F.expr("(target_chars + chars - 1) div chars"), F.lit(4).cast("long")
            ),
        )
        .withColumn(
            "achieved_chars", F.least(F.col("target_chars"), F.expr("4 * chars"))
        )
        .withColumn(
            "shortfall_chars",
            F.greatest(F.expr("target_chars - 4 * chars"), F.lit(0).cast("long")),
        )
        .select(
            "source", "chars", "target_chars", "epochs", "achieved_chars",
            "shortfall_chars",
        )
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE token <> ''
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
    SELECT doc_id, token, tf, df, rk FROM (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC
             ) AS INTEGER) AS rk
      FROM tf JOIN dfreq ON tf.token = dfreq.token
    ) WHERE rk <= 3
    """,
    description=(
        "top-3 characteristic terms per document by tf-idf ordering "
        "(integer (tf desc, df asc) — same order as tf·idf for any "
        "monotone idf, float-free for oracle parity)"
    ),
)
def text_tfidf_top_terms(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(docs, "doc_id", "text", k=3)


# Near-duplicate pairs (exact shingle Jaccard >= 0.5) as an undirected edge
# list, bidir, for the component oracles.
_DEDUP_PAIRS_CTES = f"""
    WITH RECURSIVE {_SHINGLE_PAIRS_CTES},
    pairs AS (
      SELECT id_a, id_b FROM (
        {_JACCARD_SQL}
      ) WHERE jaccard >= 0.5
    ),
    bidir AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    )"""
# Over bidir: every node paired with each node it reaches.
_REACH_CTE = """reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, reach.r FROM bidir e JOIN reach ON e.b = reach.node
    )"""
# ... and comp: each node's connected component, its smallest reachable id.
_DEDUP_CC_CTES = f"""{_DEDUP_PAIRS_CTES}
    , {_REACH_CTE},
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
"""


def _near_dup_components(docs):
    """The Spark side of _DEDUP_CC_CTES: (node, component) over the exact
    Jaccard >= 0.5 pairs."""
    from ..operators.clustering import connected_components

    pairs = dd.ngram_jaccard_join(docs, "doc_id", "text", threshold=0.5)
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return connected_components(nodes, edges)


@query(
    "dedup_connected_components",
    oracle=f"""{_DEDUP_PAIRS_CTES},
    {_REACH_CTE}
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """,
    description=(
        "near-duplicate clustering: exact Jaccard pairs (>= 0.5) as edges, "
        "connected components by iterative min-label propagation with "
        "early stop; oracle computes the same components via a recursive "
        "transitive closure"
    ),
)
def dedup_connected_components(spark, sf_dir):
    return _near_dup_components(t(spark, sf_dir, "documents"))


@query(
    "dup_cluster_size_histogram",
    oracle=_DEDUP_CC_CTES
    + """
    , csz AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM csz GROUP BY cluster_size
    """,
    description=(
        "duplicate-cluster size distribution — the dedup PLANNING "
        "number: per cluster-size, how many clusters/docs exist and how "
        "many docs a keep-one-per-cluster pass removes (sum of "
        "n_removable = the corpus shrink).  Composes the proven "
        "pair-join + connected-components pipeline with two bounded "
        "aggregations (components, then sizes); the histogram also "
        "flags pathological mega-clusters (a size spike = boilerplate "
        "or a shingle-collision storm) before any destructive dedup runs"
    ),
)
def dup_cluster_size_histogram(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    comp = _near_dup_components(docs)
    csz = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return csz.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


@query(
    "dedup_keep_best_in_cluster",
    oracle=_DEDUP_CC_CTES
    + """
    , nt AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT comp.node AS doc_id, comp.component, nt.n_tokens,
           ROW_NUMBER() OVER (PARTITION BY comp.component
                              ORDER BY nt.n_tokens DESC, comp.node ASC) = 1
             AS keep
    FROM comp JOIN nt ON nt.doc_id = comp.node
    """,
    description=(
        "duplicate-cluster representative selection — the decision step "
        "that turns dedup clustering into an actual corpus edit: within "
        "each near-duplicate connected component keep the single best "
        "document (most tokens, ties to the lowest doc_id — a "
        "deterministic integer criterion) and mark the rest for drop.  "
        "This is the 'keep best, not keep first' policy real training "
        "pipelines want: keep-first discards the longer/cleaner copy "
        "whenever it has the higher id.  Plan: the banded candidate join "
        "and hash-min components are the shipped operators; the selection "
        "adds one n_tokens map and one window argmax keyed by component "
        "(duplicate clusters are small by construction, so the per-key "
        "window is bounded — no skew hazard)"
    ),
)
def dedup_keep_best_in_cluster(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    comp = _near_dup_components(docs)
    nt = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    joined = comp.join(nt, comp["node"] == nt["doc_id"]).select(
        nt["doc_id"], comp["component"], nt["n_tokens"]
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "component",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    )


@query(
    "label_spread_similarity_graph",
    oracle=_DEDUP_PAIRS_CTES
    + """
    , unlab AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0),
    seeds AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 != 0),
    votes AS (
      SELECT u.doc_id, s.lang AS nb_lang, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM unlab u
      JOIN bidir e ON e.a = u.doc_id
      JOIN seeds s ON s.doc_id = e.b
      GROUP BY u.doc_id, s.lang
    ),
    best AS (
      SELECT doc_id, nb_lang, n_votes,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY n_votes DESC, nb_lang) AS rk
      FROM votes
    )
    SELECT u.doc_id, u.lang AS true_lang, b.nb_lang AS pred_lang,
           COALESCE(b.n_votes, CAST(0 AS BIGINT)) AS n_votes
    FROM unlab u LEFT JOIN best b ON b.doc_id = u.doc_id AND b.rk = 1
    """,
    description=(
        "semi-supervised label propagation over the near-duplicate "
        "similarity graph: every fifth document's language label is "
        "hidden, and one propagation round predicts it as the majority "
        "label among its LABELED Jaccard>=0.5 neighbors (ties to the "
        "lexicographically smallest label; no labeled neighbor -> NULL "
        "prediction, 0 votes) — the classic graph-based semi-supervised "
        "classifier (Zhu & Ghahramani label propagation, one round) and "
        "the third use of the shared candidate-pair pipeline after CC "
        "and keep-best.  The true label rides along so the output IS the "
        "evaluation table.  Plan: the banded candidate join, one edge "
        "join against the seed labels, a (doc,label) partial agg, and a "
        "per-doc window argmax — vote groups are bounded by neighbor "
        "counts, which the Jaccard threshold keeps small"
    ),
)
def label_spread_similarity_graph(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # the bidirectional union consumes the verified pair table TWICE —
    # pin it (tiny: one row per qualifying pair) so the exact-Jaccard
    # verification runs once, not once per union branch
    pairs = dd.ngram_jaccard_join(
        docs, "doc_id", "text", threshold=0.5
    ).localCheckpoint(eager=True)
    bidir = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionAll(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
    unlab = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "lang")
    seeds = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("seed_id"), F.col("lang").alias("nb_lang")
    )
    votes = (
        unlab.join(bidir, unlab["doc_id"] == bidir["a"])
        .join(seeds, bidir["b"] == seeds["seed_id"])
        .groupBy("doc_id", "nb_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_votes").desc(), F.col("nb_lang").asc()
    )
    best = votes.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return (
        unlab.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("nb_lang").alias("pred_lang"),
            F.coalesce(F.col("n_votes"), F.lit(0).cast("long")).alias(
                "n_votes"
            ),
        )
    )
