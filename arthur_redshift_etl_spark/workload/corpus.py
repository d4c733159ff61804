"""Corpus preparation: decontamination, repetition, packing, domain mix,
quality funnel."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as sim
from .core import query, t
from .pipeline import _init_centroids, _IVF_ASSIGN_CTE


# ===========================================================================
# Corpus-preparation pipeline (decontamination, repetition, packing, mix)
# ===========================================================================

@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tokens) - 1),
                      i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                 AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
      )
    ),
    eval_h AS (SELECT DISTINCT h FROM toks WHERE doc_id % 97 = 0)
    SELECT doc_id, COUNT(*) AS n_overlap
    FROM toks JOIN eval_h USING (h)
    WHERE doc_id % 97 <> 0
    GROUP BY doc_id
    """,
    description=(
        "benchmark decontamination: per-train-doc count of distinct word "
        "3-grams shared with the eval set (doc_id % 97 == 0); eval shingle "
        "hashes broadcast, train side never shuffles for the join"
    ),
)
def decontaminate_ngram_overlap(spark, sf_dir):
    from ..operators.corpus import decontaminate_overlap

    docs = t(spark, sf_dir, "documents")
    return decontaminate_overlap(docs, "doc_id", "text", n=3, eval_mod=97)


@query(
    "corpus_repetition_stats",
    oracle="""
    WITH bg AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tokens)),
                      i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
      ) GROUP BY doc_id, bigram
    ),
    per_doc AS (
      SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_bigrams
      FROM bg GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(top_cnt AS DOUBLE) / CAST(total_bigrams AS DOUBLE)
             AS top_bigram_frac,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE)
             AS distinct_token_ratio
    FROM documents d JOIN per_doc USING (doc_id)
    """,
    description=(
        "Gopher-style repetition signals: top-bigram mass fraction "
        "(doc_id-keyed partial aggs) + row-local distinct-token ratio"
    ),
)
def corpus_repetition_stats(spark, sf_dir):
    from ..operators.corpus import repetition_stats

    docs = t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


@query(
    "corpus_pack_sequences",
    oracle="""
    WITH sized AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    binned AS (
      SELECT shard,
             CAST(FLOOR(CAST(SUM(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS DOUBLE) / 512) AS BIGINT) AS bin_id,
             n_tokens
      FROM sized
    )
    SELECT shard, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
    FROM binned GROUP BY shard, bin_id
    """,
    description=(
        "greedy contiguous sequence packing into 512-token bins, sharded "
        "cumulative-sum windows (shard count scales with the cluster)"
    ),
)
def corpus_pack_sequences(spark, sf_dir):
    from ..operators.corpus import pack_sequences

    docs = t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=512, shards=8)


@query(
    "corpus_domain_mix_resample",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_before,
             CAST((SELECT MIN(n_before) FROM counts) AS DOUBLE)
               / CAST(n_before AS DOUBLE) AS rate
      FROM counts
    ),
    kept AS (
      SELECT d.source, COUNT(*) AS n_after
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE CAST((d.doc_id * 2654435761) % 4294967296 % 1000000 AS DOUBLE)
            < r.rate * 1000000.0
      GROUP BY d.source
    )
    SELECT c.source, c.n_before,
           CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
    FROM counts c LEFT JOIN kept k ON c.source = k.source
    """,
    description=(
        "deterministic domain-mix resampling toward a uniform source mix: "
        "hash-Bernoulli keep decision on the scan, tiny count aggregate "
        "broadcast back (no driver collect)"
    ),
)
def corpus_domain_mix_resample(spark, sf_dir):
    from ..operators.corpus import domain_mix_resample

    docs = t(spark, sf_dir, "documents")
    return domain_mix_resample(docs, "doc_id", "source")


@query(
    "corpus_quality_funnel",
    oracle="""
    WITH f AS (
      SELECT len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                                  tk -> tk IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
      FROM documents
    ),
    agg AS (
      SELECT COUNT(*) AS c0,
             SUM(CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN n_tokens >= 10 AND n_tokens <= 40
                      THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN n_tokens >= 10 AND n_tokens <= 40
                       AND stop_ratio >= 0.02 THEN 1 ELSE 0 END) AS c3,
             SUM(CASE WHEN n_tokens >= 10 AND n_tokens <= 40
                       AND stop_ratio >= 0.02 AND distinct_ratio >= 0.4
                      THEN 1 ELSE 0 END) AS c4
      FROM f
    )
    SELECT rule_idx, rule_name,
           CAST(dropped AS BIGINT) AS dropped,
           CAST(remaining AS BIGINT) AS remaining
    FROM (
      SELECT 1 AS rule_idx, 'min_tokens' AS rule_name,
             c0 - c1 AS dropped, c1 AS remaining FROM agg
      UNION ALL SELECT 2, 'max_tokens', c1 - c2, c2 FROM agg
      UNION ALL SELECT 3, 'stop_ratio', c2 - c3, c3 FROM agg
      UNION ALL SELECT 4, 'distinct_ratio', c3 - c4, c4 FROM agg
    )
    """,
    description=(
        "sequential quality-filter funnel with per-rule drop accounting — "
        "one scan, one tiny global aggregate, stack() unpivot (no collect)"
    ),
)
def corpus_quality_funnel(spark, sf_dir):
    from ..operators.corpus import quality_funnel

    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_array = F.array(*[F.lit(s) for s in ("the", "a", "of", "and")])
    stop_ratio = (
        F.size(F.filter(toks, lambda tk: F.array_contains(stop_array, tk))).cast("double")
        / n_tokens.cast("double")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens.cast(
        "double"
    )
    return quality_funnel(
        docs,
        [
            ("min_tokens", n_tokens >= 10),
            ("max_tokens", n_tokens <= 40),
            ("stop_ratio", stop_ratio >= 0.02),
            ("distinct_ratio", distinct_ratio >= 0.4),
        ],
    )


@query(
    "ann_ivf_multiprobe",
    oracle=_IVF_ASSIGN_CTE
    + """
    , probe AS (
      SELECT query_id, centroid_id FROM (
        SELECT v.vec_id AS query_id, cent.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(vv, cv) DESC, centroid_id
               ) AS prk
        FROM v, cent WHERE v.vec_id < 10
      ) WHERE prk <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(qv.vv, cv2.vv) AS sim
      FROM probe p
      JOIN assign c ON c.centroid_id = p.centroid_id AND c.vec_id != p.query_id
      JOIN v qv ON qv.vec_id = p.query_id
      JOIN v cv2 ON cv2.vec_id = c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS ann_rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    description=(
        "IVF search probing the 2 nearest buckets per query (nprobe — the "
        "recall lever; cost stays nprobe/k_buckets of brute force)"
    ),
)
def ann_ivf_multiprobe(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_search(emb, centroids, queries, k=3, nprobe=2).withColumnRenamed(
        "rank", "ann_rank"
    )
