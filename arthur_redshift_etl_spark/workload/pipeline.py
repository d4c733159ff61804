"""The first entry of each pipeline family: ETL-generated operators
(constraints, N/A row, extract projection), events, text, dedup and
similarity search."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..design import ColumnDefinition, TableDesign
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators.constraints import duplicate_keys
from ..operators.identity import build_dimension
from .core import dec, query, sum_money, t


# ===========================================================================
# ETL-generated operators (constraints, identity/na-row, extract projection)
# ===========================================================================

@query(
    "constraint_dup_orderkeys",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS dup_count
    FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
    """,
    description="constraint duplicate probe (reference load.py:564-634)",
)
def constraint_dup_orderkeys(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey"])


@query(
    "constraint_pk_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS dup_count
    FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    """,
    description="multi-column PK verification — expected to hold (empty)",
)
def constraint_pk_lineitem(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return duplicate_keys(li, ["l_orderkey", "l_linenumber"])


@query(
    "dim_customer",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key,
           c_custkey, c_name, n_name AS nation_name, r_name AS region_name,
           c_mktsegment
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'N/A', 'N/A', 'N/A', 'N/A'
    """,
    description="dimension build: identity + missing-dimension N/A row "
    "(reference load.py:506-551)",
)
def dim_customer(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            "c_mktsegment",
        )
    )
    design = TableDesign(
        name="dw.dim_customer",
        source_name="CTAS",
        columns=[
            ColumnDefinition("customer_key", "long", not_null=True, identity=True),
            ColumnDefinition("c_custkey", "long", not_null=True),
            ColumnDefinition("c_name", "string", not_null=True),
            ColumnDefinition("nation_name", "string", not_null=True),
            ColumnDefinition("region_name", "string", not_null=True),
            ColumnDefinition("c_mktsegment", "string", not_null=True),
        ],
        constraints=[{"surrogate_key": ["customer_key"]}, {"natural_key": ["c_custkey"]}],
    )
    # distributed=True: identity via range-partition + per-partition ranks +
    # prefix-sum of partition counts — no single-task global window
    return build_dimension(base, design, order_by=["c_custkey"], distributed=True)


@query(
    "extract_orders_sample",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderstatus,
           o_totalprice AS total_price,
           upper(o_orderpriority) AS priority
    FROM orders
    WHERE o_totalprice > 1000 AND (o_orderkey % 10) = 1
    """,
    description="extract projection+casts, condition pushdown, and the "
    "key%10 sampling predicate (reference database_extractor.py:38-154)",
)
def extract_orders_sample(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.filter((F.col("o_totalprice") > 1000) & (F.col("o_orderkey") % 10 == 1))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderstatus",
            F.col("o_totalprice").alias("total_price"),
            F.upper("o_orderpriority").alias("priority"),
        )
    )


# ===========================================================================
# Events: time-bucketed rollups, sessionization, JSON extraction
# ===========================================================================

@query(
    "hourly_event_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description="hourly time-bucket rollup (streaming-window analog)",
)
def hourly_event_rollup(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            sum_money(dec("value"), "total_value"),
        )
    )


@query(
    "event_sessions",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_count
    FROM g GROUP BY user_id
    """,
    description="sessionization: 30-min-gap session counting via LAG",
)
def event_sessions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 30 MINUTE")),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("session_count")
    )


@query(
    "events_json_stats",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_k
    FROM events GROUP BY event_type
    """,
    description="semi-structured JSON payload extraction + aggregation",
)
def events_json_stats(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    cnt = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        cnt.alias("n_events"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / cnt.cast("double")).alias("avg_k"),
    )


# ===========================================================================
# Text analysis (documents table)
# ===========================================================================

@query(
    "text_token_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    description="token counting per language",
)
def text_token_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    cnt = F.count(F.lit(1))
    return docs.groupBy("lang").agg(
        cnt.alias("n_docs"),
        F.sum(n_tokens).alias("total_tokens"),
        (F.sum(n_tokens).cast("double") / cnt.cast("double")).alias("avg_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
    )


@query(
    "text_top_tokens",
    oracle="""
    SELECT lang, token, cnt, rk FROM (
      SELECT lang, token, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token)
                  AS INTEGER) AS rk
      FROM (
        SELECT lang, token, COUNT(*) AS cnt FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
        ) GROUP BY lang, token
      )
    ) WHERE rk <= 5
    """,
    description="top-k token frequencies per language",
)
def text_top_tokens(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.top_tokens(docs, "lang", "text", k=5)


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                                tk -> tk IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
    FROM documents
    """,
    description="per-document quality scoring (stopword ratio, token stats)",
)
def text_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.with_quality_score(docs).select(
        "doc_id", "n_tokens", "stop_ratio", "mean_token_len"
    )


@query(
    "text_lang_profile_classify",
    oracle="""
    WITH freq AS (
      SELECT lang, token, COUNT(*) AS cnt FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
      ) GROUP BY lang, token
    ),
    profile AS (
      SELECT lang AS plabel, token FROM (
        SELECT lang, token,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
        FROM freq
      ) WHERE rk <= 10
    ),
    doc_tokens AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      )
    ),
    scores AS (
      SELECT doc_id, plabel, COUNT(*) AS score
      FROM doc_tokens JOIN profile USING (token)
      GROUP BY doc_id, plabel
    )
    SELECT doc_id, plabel AS pred, score FROM (
      SELECT doc_id, plabel, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plabel) AS rk
      FROM scores
    ) WHERE rk = 1
    """,
    description="language-ID by learned token-profile overlap",
)
def text_lang_profile_classify(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return tx.classify_by_token_profile(docs, "doc_id", "lang", "text", profile_size=10)


@query(
    "langid_holdout_confusion",
    oracle="""
    WITH bkt AS (
      SELECT doc_id, lang, text,
             (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      FROM documents
    ),
    freq AS (
      SELECT lang, token, COUNT(*) AS cnt FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM bkt WHERE bucket < 80
      ) GROUP BY lang, token
    ),
    profile AS (
      SELECT lang AS plabel, token FROM (
        SELECT lang, token,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
        FROM freq
      ) WHERE rk <= 10
    ),
    test_docs AS (SELECT doc_id, lang, text FROM bkt WHERE bucket >= 90),
    doc_tokens AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM test_docs
      )
    ),
    scores AS (
      SELECT doc_id, plabel, COUNT(*) AS score
      FROM doc_tokens JOIN profile USING (token)
      GROUP BY doc_id, plabel
    ),
    preds AS (
      SELECT doc_id, plabel AS pred FROM (
        SELECT doc_id, plabel,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plabel) AS rk
        FROM scores
      ) WHERE rk = 1
    )
    SELECT td.lang AS true_lang,
           COALESCE(p.pred, '(none)') AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM test_docs td LEFT JOIN preds p ON p.doc_id = td.doc_id
    GROUP BY 1, 2
    """,
    description=(
        "HONEST language-ID evaluation: token profiles learned on the "
        "train split only (doc-hash bucket < 80), confusion matrix on "
        "the held-out test split (bucket >= 90) — the eval-closure the "
        "classifier entry (which trains and classifies on the same "
        "corpus) deliberately isn't; unclassifiable docs (no profile "
        "overlap) surface as pred '(none)' instead of silently "
        "dropping.  Output bounded by (|langs|+1)^2 cells; the profile "
        "stays a broadcast (langs x 10 rows), the only data-scaled "
        "shuffle is the per-doc score aggregation"
    ),
)
def langid_holdout_confusion(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    docs = t(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    train = docs.filter(bucket < 80)
    test = docs.filter(bucket >= 90)
    preds = tx.classify_by_token_profile(
        test, "doc_id", "lang", "text", profile_size=10, train_df=train
    ).select("doc_id", "pred")
    return (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .join(preds, "doc_id", "left")
        .groupBy(
            "true_lang",
            F.coalesce(F.col("pred"), F.lit("(none)")).alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ===========================================================================
# Deduplication (documents table)
# ===========================================================================

@query(
    "dedup_exact_prefix",
    oracle="""
    SELECT md5(substr(text, 1, 40)) AS fingerprint,
           COUNT(*) AS dup_count, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """,
    description="exact dedup by hash fingerprint (40-char prefix variant)",
)
def dedup_exact_prefix(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dd.exact_duplicates(docs, "doc_id", "text", prefix_len=40)


# Each document's distinct 3-word shingles: the ``toks`` CTE of every
# shingle-set oracle.
_SHINGLES_CTE = """toks AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tokens) - 1),
                      i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                 AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
      )
    )"""
# The exact shared-shingle count of every candidate pair in ``cand``.
_INTER_CTE = """inter AS (
      SELECT id_a, id_b, COUNT(*) AS inter_size
      FROM cand
      JOIN toks ta ON ta.doc_id = id_a
      JOIN toks tb ON tb.doc_id = id_b AND tb.shingle = ta.shingle
      GROUP BY id_a, id_b
    )"""
# toks, set sizes, and the naive shared-shingle join: every pair that shares
# a shingle is a candidate.  The Jaccard oracles verify the prefix-filtered
# operators against it.
_SHINGLE_PAIRS_CTES = f"""{_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT ta.doc_id AS id_a, tb.doc_id AS id_b
      FROM toks ta JOIN toks tb
        ON ta.shingle = tb.shingle AND ta.doc_id < tb.doc_id
    ),
    {_INTER_CTE}"""
# The exact Jaccard of every pair in ``inter``.
_JACCARD_SQL = """SELECT id_a, id_b,
             CAST(inter_size AS DOUBLE)
               / CAST(sa.set_size + sb.set_size - inter_size AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b"""


def _minhash_band_ctes(num_hashes: int, rows_per_band: int) -> str:
    """toks, each document's MinHash signature (sig) and band keys (bands),
    and ``cand``: the pairs that share a band key."""
    mh_exprs = ",\n        ".join(
        f"MIN(({a} * h32 + {b}) % {dd.MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(dd.minhash_params(num_hashes))
    )
    bands = num_hashes // rows_per_band
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key="CAST(mh{0} AS VARCHAR) || '_' || CAST(mh{1} AS VARCHAR)".format(
                b * rows_per_band, b * rows_per_band + 1
            ),
        )
        for b in range(bands)
    )
    return f"""{_SHINGLES_CTE},
    base AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT & 4294967295 AS h32
      FROM toks
    ),
    sig AS (
      SELECT doc_id,
        {mh_exprs}
      FROM base GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle(num_hashes: int = 8, rows_per_band: int = 2) -> str:
    return f"""
    WITH {_minhash_band_ctes(num_hashes, rows_per_band)},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM toks GROUP BY doc_id),
    {_INTER_CTE}
    SELECT id_a, id_b, jaccard FROM (
      {_JACCARD_SQL}
    ) WHERE jaccard >= 0.5
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    description="MinHash+LSH near-dup candidate pairs verified by exact "
    "token-set Jaccard",
)
def dedup_minhash_lsh(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dd.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=8, rows_per_band=2, threshold=0.5
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM (
      {_JACCARD_SQL}
    ) WHERE jaccard >= 0.5
    """,
    description="EXACT n-gram Jaccard similarity join (prefix-filtered "
    "AllPairs; oracle runs the naive shared-shingle join — same rows)",
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_join(docs, "doc_id", "text", threshold=0.5)


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM toks
    ),
    bitsum AS (
      SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT unnest(range(32)) AS b) bits
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bitsum GROUP BY doc_id
    """,
    description=(
        "32-bit SimHash document signatures.  Default choice, measured "
        "(SCALE.md r12 operating-point table): keep 32/hamming<=3 when a "
        "Jaccard verify stage follows (0.91 recall, pays 2.46M block "
        "candidates at sf0.1); switch to 64-bit/hamming<=3 when the "
        "simhash verdict itself ships (0.73 recall, 0.37 precision, 11x "
        "fewer candidates)"
    ),
)
def dedup_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dd.simhash(docs, "doc_id", "text", bits=32)


# ===========================================================================
# Similarity search (embeddings table)
# ===========================================================================

# The exact cosine top-5 neighbours of the first ten vectors: the answer of
# every exact kNN entry, whatever its Spark plan.
_KNN_TOP5_ORACLE = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.vv, c.vv) AS sim
      FROM v q, v c
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS knn_rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """


@query(
    "knn_bruteforce",
    oracle=_KNN_TOP5_ORACLE,
    description="exact cosine top-k neighbor search (brute force baseline)",
)
def knn_bruteforce(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.brute_force_knn(emb, queries, k=5).withColumnRenamed("rank", "knn_rank")


_IVF_ASSIGN_CTE = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS centroid_id, vv AS cv FROM v WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(vv, cv) DESC, centroid_id
               ) AS rk
        FROM v, cent
      ) WHERE rk = 1
    )
"""


def _init_centroids(emb):
    """The Spark side of _IVF_ASSIGN_CTE's centroids: the first 8 vectors,
    as (centroid_id, embedding)."""
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )


@query(
    "ann_ivf_buckets",
    oracle=_IVF_ASSIGN_CTE
    + """
    SELECT centroid_id, COUNT(*) AS n_vectors FROM assign GROUP BY centroid_id
    """,
    description="IVF index build: nearest-centroid bucket assignment",
)
def ann_ivf_buckets(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    return assign.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_vectors"))


@query(
    "ann_ivf_search",
    oracle=_IVF_ASSIGN_CTE
    + """
    , scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(qv.vv, cv.vv) AS sim
      FROM assign q
      JOIN assign c ON q.centroid_id = c.centroid_id AND c.vec_id != q.vec_id
      JOIN v qv ON qv.vec_id = q.vec_id
      JOIN v cv ON cv.vec_id = c.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS ann_rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    description="IVF approximate search within the query's bucket",
)
def ann_ivf_search(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_search(emb, centroids, queries, k=3).withColumnRenamed(
        "rank", "ann_rank"
    )


@query(
    "embedding_cosine_dedup",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.vv, b.vv) >= 0.4
    """,
    description="embedding near-dup pairs (cosine ≥ 0.4, blocked by label)",
)
def embedding_cosine_dedup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return sim.cosine_dedup_pairs(emb, "label", threshold=0.4).select("id_a", "id_b")
