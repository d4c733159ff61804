"""Analytics widening (pivot, ntile, funnels, SCD2, attribution,
grouping sets, cohorts, skew joins, ...) and reconciliation, weighted
sampling and exact quantiles."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import quantiles as qt
from ..operators import similarity as sim
from ..operators import text as tx
from .core import _DP, dec, disc_price, query, sum_money, t
from .dialect import _run_dialect
from .pipeline import _IVF_ASSIGN_CTE, _JACCARD_SQL, _SHINGLE_PAIRS_CTES, _init_centroids


# ===========================================================================
# Analytics widening: pivot, ntile bucketing, funnel, SCD2 intervals,
# first-touch attribution, histogram, grouping sets, per-group top-n,
# cohort retention, salted skew join, embedding norm stats
# ===========================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_event_type_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
    """
    + ",\n".join(
        "  CAST(SUM(CASE WHEN event_type = '{et}' THEN CAST(value AS DECIMAL(12,2)) "
        "ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS {et}_value".format(et=et)
        for et in _EVENT_TYPES
    )
    + """
    FROM events GROUP BY 1
    """,
    description=(
        "pivot (long -> wide): daily sum of value per event type as "
        "columns; Spark groupBy().pivot() with an explicit value list so "
        "the plan is a single pass (no distinct-values pre-query) and one "
        "shuffle on the day key"
    ),
)
def pivot_event_type_daily(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    p = (
        ev.withColumn("day", F.col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(dec("value")).cast("double"))
    )
    return p.select(
        "day",
        *[
            F.coalesce(F.col(et), F.lit(0.0)).alias(f"{et}_value")
            for et in _EVENT_TYPES
        ],
    )


@query(
    "ntile_chars_quartiles",
    oracle="""
    SELECT quartile, COUNT(*) AS docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM (
      SELECT n_chars,
             CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS INTEGER)
               AS quartile
      FROM documents
    ) GROUP BY quartile
    """,
    description=(
        "quantile bucketing with exact NTILE semantics over a strict total "
        "order, computed WITHOUT a global window: range-repartition + local "
        "rank + metadata prefix sum (operators.quantiles.ntile_exact), then "
        "the bucket is a per-row integer expression. Fully parallel at fact "
        "scale; plan-lint pins the absence of a partition-less window"
    ),
)
def ntile_chars_quartiles(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    q4 = qt.ntile_exact(
        docs.select("n_chars", "doc_id"), 4, ["n_chars", "doc_id"],
        bucket_column="quartile",
    )
    return q4.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "ntile_grouped_source_quartiles",
    oracle="""
    SELECT source, quartile, COUNT(*) AS docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM (
      SELECT source, n_chars,
             CAST(NTILE(4) OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
             ) AS INTEGER) AS quartile
      FROM documents
    ) GROUP BY source, quartile
    """,
    description=(
        "per-domain quality calibration: exact NTILE(4) WITHIN each source "
        "(so a verbose domain does not monopolize the top global bucket) — "
        "computed without a per-stratum window: the skew-proof grouped rank "
        "(range repartition + local rank + metadata prefix sum) plus NTILE's "
        "front-loaded bucket contract as per-row integer arithmetic on the "
        "group-local rank and size (operators.quantiles.ntile_exact_grouped)"
    ),
)
def ntile_grouped_source_quartiles(spark, sf_dir):
    """Per-source quartile assignment over document length.

    The training-mix use: select 'top quartile per domain' instead of 'top
    quartile overall', which under domain-length skew is dominated by one
    domain.  Scale shape: ONE range shuffle over (source, n_chars, doc_id)
    + a |sources|-row group-stats aggregate broadcast back — a 90%-mass
    web-crawl source spreads over many range partitions instead of
    funneling one task (same machinery and A/B evidence as the round-8
    stratified-sampling fix, scripts/stratified_skew_ab.py).
    """
    docs = t(spark, sf_dir, "documents")
    q4 = qt.ntile_exact_grouped(
        docs.select("source", "n_chars", "doc_id"),
        4,
        ["source"],
        ["n_chars", "doc_id"],
        bucket_column="quartile",
    )
    return q4.groupBy("source", "quartile").agg(
        F.count(F.lit(1)).alias("docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "funnel_bounded_gaps",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS tc FROM events e
      JOIN v ON e.user_id = v.user_id
            AND e.ts > v.tv AND e.ts <= v.tv + INTERVAL 30 MINUTE
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp FROM events e
      JOIN c ON e.user_id = c.user_id
            AND e.ts > c.tc AND e.ts <= c.tc + INTERVAL 30 MINUTE
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS clicked_30m,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS purchased_30m,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / (SELECT COUNT(*) FROM v) AS click_rate,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM c) AS purchase_rate
    """,
    description=(
        "time-bounded ordered funnel: click within 30 minutes of the "
        "first view, purchase within 30 minutes of that click — the "
        "attribution-window variant of the plain ordered funnel (a "
        "click three days later is not conversion), exact interval "
        "arithmetic on timestamps (microsecond-integral in both "
        "engines).  Same plan shape as funnel_view_click_purchase: "
        "three stage aggregations co-partitioned on user_id, 1-row "
        "stage counts crossed into the report row"
    ),
)
def funnel_bounded_gaps(spark, sf_dir):
    gap = F.expr("INTERVAL 30 MINUTES")
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("tv")) & (F.col("ts") <= F.col("tv") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("tc")) & (F.col("ts") <= F.col("tc") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("long").alias("viewed"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("clicked_30m"))
    np_ = p.agg(F.count(F.lit(1)).cast("long").alias("purchased_30m"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "viewed",
            "clicked_30m",
            "purchased_30m",
            (
                F.col("clicked_30m").cast("double") / F.col("viewed")
            ).alias("click_rate"),
            (
                F.col("purchased_30m").cast("double") / F.col("clicked_30m")
            ).alias("purchase_rate"),
        )
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS tc FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.tv
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.tc
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS viewed,
           (SELECT COUNT(*) FROM c) AS clicked,
           (SELECT COUNT(*) FROM p) AS purchased
    """,
    description=(
        "ordered funnel (view -> click after -> purchase after): three "
        "stage aggregations, each co-partitioned on user_id so AQE reuses "
        "the shuffle; stage counts crossed into one row"
    ),
)
def funnel_view_click_purchase(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("clicked")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("purchased")))
    )


@query(
    "scd2_user_event_intervals",
    oracle="""
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM events
    """,
    description=(
        "SCD2-style effective-dating: each user event versioned with "
        "[valid_from, valid_to) via LEAD over (user, time) — one hash "
        "shuffle on user_id, sort within partitions only"
    ),
)
def scd2_user_event_intervals(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@query(
    "first_touch_attribution",
    oracle="""
    SELECT user_id, event_type AS first_event_type, ts AS first_ts FROM (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    description=(
        "first-touch attribution as a sort-free argmin: min(struct(ts, "
        "event_id, event_type)) per user collapses in the partial "
        "aggregate (map-side combine), vs. the oracle's full window sort"
    ),
)
def first_touch_attribution(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("f"))
        .select(
            "user_id",
            F.col("f.event_type").alias("first_event_type"),
            F.col("f.ts").alias("first_ts"),
        )
    )


@query(
    "event_value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    description="fixed-width histogram (width_bucket-style binning), exact decimal sums",
)
def event_value_histogram(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_money(dec("value"), "total_value"),
        )
    )


@query(
    "grouping_sets_docs",
    oracle="""
    SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
           COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY GROUPING SETS ((source), (lang), ())
    """,
    description=(
        "explicit GROUPING SETS (neither cube nor rollup): per-source, "
        "per-lang, and grand-total aggregates in one Expand + single "
        "shuffle pass"
    ),
)
def grouping_sets_docs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_gsets")
    return spark.sql(
        """
        SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
               COUNT(*) AS docs, SUM(n_chars) AS total_chars
        FROM documents_gsets GROUP BY GROUPING SETS ((source), (lang), ())
        """
    )


@query(
    "top_tokens_per_lang",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT lang, token, COUNT(*) AS n FROM toks
      WHERE token <> '' GROUP BY 1, 2
    )
    SELECT lang, token, n, rk FROM (
      SELECT lang, token, n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n DESC, token
             ) AS INTEGER) AS rk
      FROM cnt
    ) WHERE rk <= 3
    """,
    description=(
        "per-group top-n (top tokens per language): token-count aggregate "
        "then sharded two-phase top-k per language — the per-lang group is "
        "VOCABULARY-sized (data-scaled, billions of distinct tokens per "
        "language at 100 TB), so a plain per-lang rank window would sort a "
        "whole vocabulary in one task; topk_per_group bounds every sort by "
        "the shard (phase 1 keeps <=k per (lang, input partition), phase 2 "
        "ranks the <=k x shards survivors)"
    ),
)
def top_tokens_per_lang(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    return tx.top_k_by_count(cnt, ["lang"], "n", "token", 3).select(
        "lang", "token", "n", "rk"
    )


@query(
    "daily_cohort_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT cohort_day, COUNT(*) AS cohort_size,
           CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS retained_next_day
    FROM first_day f
    LEFT JOIN act r
      ON r.user_id = f.user_id AND r.day = f.cohort_day + INTERVAL 1 DAY
    GROUP BY 1
    """,
    description=(
        "daily cohort retention: first-seen day per user, left join to "
        "next-day activity (both sides pre-aggregated to user grain before "
        "the join, so the join input is |users| not |events|)"
    ),
)
def daily_cohort_retention(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = ev.distinct().select(
        F.col("user_id").alias("a_user"), F.col("day").alias("a_day")
    )
    joined = first_day.join(
        act,
        (F.col("a_user") == F.col("user_id"))
        & (F.col("a_day") == F.date_add(F.col("cohort_day"), 1)),
        "left",
    )
    return (
        joined.groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).alias("cohort_size"),
            F.sum(F.when(F.col("a_user").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("retained_next_day"),
        )
    )


@query(
    "salted_join_status_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    description=(
        "skew-safe salted equi-join (fact side salted, dim side exploded "
        "salt_factor x) — result identical to the plain join; spreads a "
        "hot orderkey over salt_factor reducers when AQE skew handling "
        "can't kick in (reference has no join engine; this is the Spark "
        "scale path)"
    ),
)
def salted_join_status_revenue(spark, sf_dir):
    from ..operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, orders, "l_orderkey", salt_factor=4)
    return joined.groupBy("o_orderstatus").agg(
        sum_money(dec("l_extendedprice"), "revenue"),
        F.count(F.lit(1)).alias("line_count"),
    )


@query(
    "embedding_label_norms",
    oracle="""
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000)
               AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_norm
    FROM embeddings GROUP BY label
    """,
    description=(
        "per-label embedding L2-norm stats. Per-row norms are sequential "
        "double folds (identical in both engines); cross-row aggregation "
        "quantizes to integer micro-units first so the sum is exact and "
        "order-independent — the float-parity convention for vector stats"
    ),
)
def embedding_label_norms(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = F.floor(sim.norm(sim.as_double_array(F.col("embedding"))) * 1000000).cast(
        "long"
    )
    return (
        emb.select("label", q.alias("q"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sq"))
        .select(
            "label",
            "n",
            (F.col("sq").cast("double") / F.col("n") / F.lit(1000000.0)).alias(
                "avg_norm"
            ),
        )
    )


@query(
    "dedup_keep_first",
    oracle=f"""
    WITH {_SHINGLE_PAIRS_CTES},
    dropped AS (
      SELECT DISTINCT id_b FROM (
        {_JACCARD_SQL}
      ) WHERE jaccard >= 0.5
    )
    SELECT doc_id, source FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM dropped)
    """,
    description=(
        "apply the near-dup join: keep the lowest-id member of every "
        "qualifying pair, drop the rest (left-anti join of the corpus "
        "against higher-id pair members) — the materialization step of a "
        "dedup pipeline, not just the pair list"
    ),
)
def dedup_keep_first(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_join(docs, "doc_id", "text", threshold=0.5)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id", "source")


@query(
    "user_value_rolling_7d",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_7d_value
    FROM events
    """,
    description=(
        "time-RANGE window frame: per-user rolling 7-day sum (RANGE "
        "BETWEEN INTERVAL ... PRECEDING). One hash shuffle on user_id, "
        "in-partition time sort; exact decimal arithmetic inside the frame"
    ),
)
def user_value_rolling_7d(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_rolling")
    return spark.sql(
        """
        SELECT user_id, event_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rolling_7d_value
        FROM events_rolling
        """
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
    description=(
        "multimodal plumbing, oracle-checked: documents' text as opaque "
        "binary payloads streamed through Arrow-batched mapInPandas "
        "(the exact contract the stubbed image/audio decoders plug into), "
        "computing byte length + md5 per payload"
    ),
)
def multimodal_payload_stats(spark, sf_dir):
    from ..operators.multimodal import payload_stats

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return payload_stats(docs)


@query(
    "multimodal_frame_sample_plan",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(generate_series(0, dur, 1000)) AS frame_ts_ms
    FROM (
      SELECT doc_id,
             CAST(length(text) * 7 % 30000 AS BIGINT) AS dur
      FROM documents WHERE doc_id % 3 = 0
    )
    """,
    description=(
        "video frame-sampling PLAN: one (media_id, frame_ts_ms) row per "
        "frame to decode, every 1000 ms across each video's duration — "
        "the metadata-only fan-out stage that precedes any actual frame "
        "decode at 100 TB (you schedule the decode work from duration "
        "metadata, never by opening containers).  Durations synthesized "
        "deterministically from document attributes (every third doc is "
        "a 'video' of length*7 mod 30000 ms); the explode is a JVM-side "
        "sequence(), no Python.  operators/multimodal.py "
        "frame_sample_plan"
    ),
)
def multimodal_frame_sample_plan(spark, sf_dir):
    from ..operators.multimodal import frame_sample_plan

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit("video").alias("modality"),
            (F.length("text") * 7 % 30000).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_ms=1000)


@query(
    "multimodal_real_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(1 + doc_id % 7 AS INTEGER) END AS width,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(1 + doc_id % 5 AS INTEGER) END AS height,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(10 + doc_id % 40 AS INTEGER) END AS duration_ms,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(n_chars % 256 AS INTEGER) END AS mean_r_byte
    FROM documents WHERE doc_id < 200
    """,
    description=(
        "REAL media decode proven end-to-end: deterministic BMP images / "
        "PCM WAV clips are ENCODED from document attributes executor-side "
        "(operators/media_codec.py, built from the public BMP/RIFF specs), "
        "then DECODED back through the production probe_metadata + "
        "extract_features mapInPandas operators; the oracle recomputes the "
        "expected header fields and channel means symbolically.  Round-trip "
        "equality means the bytes on the wire are genuinely parsed, not "
        "faked"
    ),
)
def multimodal_real_decode(spark, sf_dir):
    # Verification harness shape: the synthesized payloads flow through BOTH
    # production operators (probe_metadata and extract_features), so the
    # synthesize stage executes twice.  A production pipeline would persist
    # the payload table (or run a single fused decode pass) — here the double
    # pass is deliberate: each operator is exercised against the oracle
    # independently, on a bounded 200-row slice.
    #
    # mc is captured by the closure below, which executes on executor Python
    # workers; media_codec is registered for by-value pickling (multimodal.py)
    # so the workers need neither this package on sys.path nor a re-import.
    from ..operators import media_codec as mc
    from ..operators.multimodal import extract_features, probe_metadata

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", "n_chars"
    )

    def synthesize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                if doc_id % 2 == 0:
                    w, h = int(1 + doc_id % 7), int(1 + doc_id % 5)
                    v = int(n_chars % 256)
                    payloads.append(
                        mc.encode_bmp(np.full((h, w, 3), v, np.uint8))
                    )
                else:
                    n = 8 * int(10 + doc_id % 40)  # exact-ms duration @8kHz
                    samp = (np.arange(n) % 64).astype(np.int16)
                    payloads.append(mc.encode_wav(samp, sample_rate=8000))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(
        synthesize, schema="media_id long, payload binary"
    )
    meta = probe_metadata(media)
    feats = extract_features(media).select(
        F.col("media_id").alias("f_id"), "feature"
    )
    return (
        meta.join(feats, meta.media_id == feats.f_id)
        .select(
            F.col("media_id").alias("doc_id"),
            "modality",
            "width",
            "height",
            "duration_ms",
            # feature[] is float32; recover the exact pixel byte instead of
            # comparing truncated doubles (v/255 round-trips exactly ≤255)
            F.when(
                F.col("modality") == "image",
                F.round(F.col("feature")[3] * 255).cast("int"),
            ).alias("mean_r_byte"),
        )
    )


@query(
    "runtime_range_prefilter_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    GROUP BY o_orderpriority
    """,
    description=(
        "runtime-filter pattern made explicit: the selective side's key "
        "RANGE (one min/max aggregate row, broadcast) prunes the fact scan "
        "BEFORE the shuffle join; keys inside the range but outside the "
        "month are removed by the exact join, so the result is identical "
        "to the plain join (which is the oracle).  This is the hand-rolled "
        "form of the range runtime filter AQE injects — worth owning "
        "explicitly when the selective side comes from a subquery the "
        "optimizer can't estimate (a bloom replaces the range at equal "
        "plumbing when key locality is poor)"
    ),
)
def runtime_range_prefilter_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    sel = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-02-01")
    ).select("o_orderkey", "o_orderpriority")
    bounds = sel.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    )
    pruned = (
        li.select("l_orderkey", "l_quantity")
        .join(F.broadcast(bounds))
        .filter(F.col("l_orderkey").between(F.col("lo"), F.col("hi")))
        .drop("lo", "hi")
    )
    return (
        pruned.join(sel, pruned.l_orderkey == sel.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            sum_money(dec("l_quantity"), "total_qty"),
        )
    )


@query(
    "kmeans_single_iteration",
    oracle=_IVF_ASSIGN_CTE
    + """
    , ex AS (
      SELECT a.centroid_id, t.i AS dim, v.vv[t.i] AS x
      FROM assign a
      JOIN v ON v.vec_id = a.vec_id,
           UNNEST(range(1, len(v.vv) + 1)) AS t(i)
    )
    SELECT centroid_id, CAST(dim AS INTEGER) AS dim,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000.0 AS centroid
    FROM ex GROUP BY centroid_id, dim
    """,
    description=(
        "ONE full Lloyd iteration, oracle-checked end-to-end: fixed seed "
        "centroids -> nearest-centroid assignment (broadcast argmax "
        "aggregate) -> element-wise new centroids via micro-unit-exact "
        "sums.  Makes the k-means building blocks SQL-verifiable even "
        "though the converged iterative loop is inherently no-oracle; "
        "shuffles are one row per vector (assignment) and centroids x "
        "dims rows (means) regardless of corpus size"
    ),
)
def kmeans_single_iteration(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    assign = sim.ivf_assign(emb, centroids)
    ex = (
        emb.join(assign, "vec_id")
        .select(
            "centroid_id",
            F.posexplode(sim.as_double_array(F.col("embedding"))).alias(
                "dim0", "x"
            ),
        )
        .select("centroid_id", (F.col("dim0") + 1).cast("int").alias("dim"), "x")
    )
    return (
        ex.groupBy("centroid_id", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("x") * 1000000).cast("long")).alias("sq"),
        )
        .select(
            "centroid_id",
            "dim",
            "n",
            (F.col("sq").cast("double") / F.col("n") / F.lit(1000000.0)).alias(
                "centroid"
            ),
        )
    )


@query(
    "dedup_incremental_newdocs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
      FROM (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(string_split(text, ' '), i, i + 2),
                               ' ') AS s
        FROM documents,
             UNNEST(generate_series(1,
                    greatest(len(string_split(text, ' ')) - 2, 0))) AS u(i)
      )
    ),
    new_docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id >= 400),
    old_docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 400),
    cand AS (
      SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
      FROM sh n_sh
      JOIN new_docs n ON n_sh.doc_id = n.doc_id
      JOIN sh o_sh ON n_sh.h = o_sh.h
      JOIN old_docs o ON o_sh.doc_id = o.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.id_new, c.id_old,
             CAST(COUNT(*) AS DOUBLE)
               / (sn.sz + so.sz - COUNT(*)) AS jaccard
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_new
      JOIN sh b ON b.doc_id = c.id_old AND a.h = b.h
      JOIN sizes sn ON sn.doc_id = c.id_new
      JOIN sizes so ON so.doc_id = c.id_old
      GROUP BY c.id_new, c.id_old, sn.sz, so.sz
    )
    SELECT id_new, id_old, jaccard FROM verified WHERE jaccard >= 0.5
    """,
    description=(
        "incremental (new-batch vs corpus) near-dup: the daily-ingestion "
        "shape — candidates come from shared shingle hashes between NEW "
        "docs and the EXISTING corpus only (never corpus x corpus), then "
        "exact Jaccard verifies.  At 100 TB the new batch is a vanishing "
        "fraction, so the candidate join is |new shingles| probing the "
        "corpus's shingle index — linear in the batch, not the corpus"
    ),
)
def dedup_incremental_newdocs(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    sh = dd.doc_shingle_hashes(docs).persist()
    n_shingle_rows = sh.count()
    new_sh = sh.filter(F.col("doc_id") >= 400).select(
        F.col("doc_id").alias("id_a"), "h"
    )
    old_sh = sh.filter(F.col("doc_id") < 400).select(
        F.col("doc_id").alias("id_b"), "h"
    )
    cand = new_sh.join(old_sh, "h").select("id_a", "id_b").distinct()
    jac = dd.jaccard_from_shingles(
        sh,
        cand,
        id_col="doc_id",
        key_col="h",
        broadcast_sets="auto",
        elems_upper_bound=n_shingle_rows,
    )
    return jac.filter(F.col("jaccard") >= 0.5).select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_old"),
        "jaccard",
    )


@query(
    "corpus_shuffle_shard",
    oracle="""
    SELECT CAST((doc_id * 2654435761) % 4294967296 % 16 AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY (doc_id * 2654435761) % 4294967296 % 16
             ORDER BY (doc_id * 2246822519) % 4294967296, doc_id
           ) AS INTEGER) AS pos,
           doc_id
    FROM documents
    """,
    description=(
        "deterministic global training shuffle: Knuth-multiplicative hash "
        "assigns each doc to one of S shards, a second independent hash "
        "orders docs WITHIN the shard — a reproducible random permutation "
        "with shard-local output files, no rand(), identical under task "
        "retry.  At 100 TB: S = desired file count, the only exchange is "
        "the shard repartition, and the within-shard sort is per-partition "
        "(no global order)"
    ),
)
def corpus_shuffle_shard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    shard = ((F.col("doc_id") * 2654435761) % 4294967296 % 16).cast("int")
    order_key = (F.col("doc_id") * 2246822519) % 4294967296
    w = Window.partitionBy(shard).orderBy(order_key, F.col("doc_id"))
    return docs.select(
        shard.alias("shard"),
        F.row_number().over(w).cast("int").alias("pos"),
        "doc_id",
    )


@query(
    "semantic_dedup_clustered",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings WHERE vec_id < 2000
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
    ),
    removed AS (
      SELECT DISTINCT b.vec_id AS rid
      FROM assign a
      JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE list_cosine_similarity(va.vv, vb.vv) >= 0.35
    )
    SELECT centroid_id,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN r.rid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN r.rid IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM assign LEFT JOIN removed r ON assign.vec_id = r.rid
    GROUP BY centroid_id
    """,
    description=(
        "SemDeDup-style semantic dedup (public method: cluster embeddings, "
        "prune near-identical points within each cluster): nearest-centroid "
        "assignment (broadcast centroids) -> within-cluster pairwise cosine "
        "threshold, keep the lowest id of each close pair -> per-cluster "
        "kept/removed accounting.  Clustering bounds the pair space to "
        "sum(cluster^2) instead of corpus^2 — the property that makes "
        "semantic dedup feasible at 100 TB (with k scaled to the corpus)"
    ),
)
def semantic_dedup_clustered(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    centroids = _init_centroids(emb)
    # assign feeds the blocked table AND the final accounting join; blocked
    # feeds BOTH sides of cosine_dedup_pairs' within-block self-join — a
    # lazy persist on each computes the chain once per stage instead of
    # per consumer (r13 pin sweep: 23 -> 13 plan exchanges, median
    # 2.53 -> 2.31 s at sf0.1; values unchanged)
    assign = sim.ivf_assign(emb, centroids).persist()
    blocked = emb.join(assign, "vec_id").persist()
    removed = (
        sim.cosine_dedup_pairs(blocked, "centroid_id", threshold=0.35)
        .select(F.col("id_b").alias("rid"))
        .distinct()
    )
    return (
        assign.join(removed, assign.vec_id == F.col("rid"), "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("rid").isNotNull(), 1).otherwise(0)).alias(
                "n_removed"
            ),
            F.sum(F.when(F.col("rid").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
    )


@query(
    "dedup_duplicated_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, i,
             md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
    ),
    dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_grams,
           CAST(SUM(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM grams LEFT JOIN dup d ON grams.g = d.g
    GROUP BY doc_id
    """,
    description=(
        "duplicated-span detection (the positional k-gram inventory behind "
        "published exact-substring training-data dedup): every 8-token span "
        "is md5-keyed with its position; spans occurring in >1 distinct doc "
        "mark their positions duplicated; per-doc duplicated-token fraction "
        "is the filter signal.  One shuffle on the span hash (uniform by "
        "construction), cost linear in corpus tokens, never corpus^2"
    ),
)
def dedup_duplicated_spans(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        # Spark sequence(1, 0) counts DOWN instead of returning empty —
        # short docs must be excluded before the sequence (oracle's
        # generate_series(1, 0) is empty, so semantics match)
        F.size("t") >= 8
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - 7)).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), F.lit(8)))).alias("g"),
    )
    # Single pass over the (expensive) token explode: collapse to one row
    # per (gram, doc) with its position count, count distinct docs per gram
    # with a window over the SAME shuffle key, then roll up by doc.  The
    # naive shape (separate dup-set aggregate joined back) scans and
    # explodes the corpus twice — 2x the dominant cost at 100 TB.
    per_doc_gram = grams.groupBy("g", "doc_id").agg(
        F.count(F.lit(1)).alias("npos")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    return (
        per_doc_gram.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("npos").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("nd") > 1, F.col("npos")).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (F.col("n_dup_grams").cast("double") / F.col("n_grams")).alias(
                "dup_frac"
            ),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
    SELECT prev_type, event_type AS next_type, COUNT(*) AS transitions
    FROM (
      SELECT event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    description=(
        "behavioral Markov transition counts: LAG over per-user time order "
        "(one shuffle on user_id, in-partition sort), then a tiny "
        "(types x types) aggregate"
    ),
)
def event_transition_matrix(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("transitions"))
    )


@query(
    "table_checksum_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
             || '|' || o_orderstatus), 1, 15))::BIGINT) AS VARCHAR) AS checksum
    FROM orders
    """,
    description=(
        "order-independent whole-table checksum: per-row md5 folded to a "
        "60-bit int, summed commutatively — the content-equality probe the "
        "blue-green publish and unload round-trip can use to compare "
        "tables without sorting or co-locating them (reference verifies "
        "loads via constraint queries + row counts; this is the Spark-scale "
        "content check). Fully partial-aggregatable: one number per "
        "partition, no shuffle of row data"
    ),
)
def table_checksum_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(20,0)")
    return (
        t(spark, sf_dir, "orders")
        .select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").cast("string").alias("checksum"),
        )
    )


@query(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars, substr(text, 1, 30) AS head FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
    FROM d a JOIN d b
      ON a.lang = b.lang
     AND (a.n_chars // 16) = (b.n_chars // 16)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 5
    """,
    description=(
        "edit-distance near-dup with blocking: candidate pairs only within "
        "(lang, length-bucket) blocks — the quadratic verify runs inside "
        "blocks, never across the corpus; the scale path swaps the length "
        "bucket for an LSH band as the block key (same join shape)"
    ),
)
def dedup_levenshtein_blocked(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 16).cast("long").alias("len_bucket"),
        F.substring("text", 1, 30).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("len_bucket").alias("bucket_a"),
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bucket").alias("bucket_b"),
        F.col("head").alias("head_b"),
    )
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "edit_distance", F.levenshtein("head_a", "head_b").cast("int")
        )
        .filter(F.col("edit_distance") <= 5)
        .select("id_a", "id_b", "edit_distance")
    )


@query(
    "dialect_qualify_largest_order",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) = 1
    """,
    description=(
        "Redshift QUALIFY clause through the shim: rewritten to an inner "
        "SELECT computing the window predicate + outer WHERE with "
        "* EXCEPT(helper) — largest order per customer, identical schema "
        "to the original query (DuckDB oracle runs QUALIFY natively)"
    ),
)
def dialect_qualify_largest_order(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["orders"],
        """
        SELECT o_custkey, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
        FROM orders
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        ) = 1
        """,
    )


@query(
    "dialect_to_char_monthly",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE instr(CAST(o_orderkey AS VARCHAR), '7') > 0
      AND length(o_orderstatus) = 1
    GROUP BY 1
    """,
    description=(
        "Redshift TO_CHAR datetime-format tokens (YYYY-MM -> yyyy-MM), "
        "CHARINDEX (arg-swapped to instr), and LEN through the shim"
    ),
)
def dialect_to_char_monthly(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["orders"],
        """
        SELECT TO_CHAR(o_orderdate, 'YYYY-MM') AS order_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM orders
        WHERE CHARINDEX('7', CAST(o_orderkey AS VARCHAR)) > 0
          AND LEN(o_orderstatus) = 1
        GROUP BY 1
        """,
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


@query(
    "profile_orders_columns",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
        for c in _PROFILE_COLS
    ),
    description=(
        "per-column data profile (rows/nulls/exact distincts/min/max) in "
        "ONE table scan: side-by-side aggregates + stack unpivot, vs the "
        "oracle's one-subquery-per-column UNION; at fact scale swap exact "
        "distincts for approx_count_distinct (same single-scan shape)"
    ),
)
def profile_orders_columns(spark, sf_dir):
    from ..operators.profile import profile_columns

    return profile_columns(t(spark, sf_dir, "orders"), _PROFILE_COLS)


@query(
    "daily_event_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1
    ),
    stats AS (
      SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean,
             CAST(SUM(n * n) AS DOUBLE) / COUNT(*) AS m2
      FROM daily
    )
    SELECT day, n,
           CAST((n - mean) / sqrt(m2 - mean * mean) AS DOUBLE) AS zscore,
           (ABS(n - mean) > 2 * sqrt(m2 - mean * mean)) AS is_anomaly
    FROM daily, stats
    """,
    description=(
        "volume anomaly detection: z-score of daily event counts against "
        "the global mean/stddev. Moments come from exact integer sums "
        "(sum, sum-of-squares) so the float math is engine-identical; the "
        "single-row stats side is a broadcast cross join"
    ),
)
def daily_event_anomaly_zscore(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = daily.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean"),
        (F.sum(F.col("n") * F.col("n")).cast("double") / F.count(F.lit(1))).alias(
            "m2"
        ),
    )
    sd = F.sqrt(F.col("m2") - F.col("mean") * F.col("mean"))
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "day",
            "n",
            ((F.col("n") - F.col("mean")) / sd).cast("double").alias("zscore"),
            (F.abs(F.col("n") - F.col("mean")) > 2 * sd).alias("is_anomaly"),
        )
    )


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    description=(
        "incremental aggregate maintenance: the rollup is maintained as "
        "algebraic partials (count, exact decimal sum) — a 'base' aggregate "
        "over history and a 'delta' aggregate over the refresh window are "
        "merged by re-aggregating the unioned partials, provably equal to "
        "the full recompute (the oracle). This is the refresh-run analog "
        "of the reference's full-rebuild-then-update cycle: the nightly "
        "100 TB scan becomes a delta-sized scan + a merge over the "
        "aggregate table"
    ),
)
def incremental_rollup_merge(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    split = F.lit("2024-01-20 00:00:00").cast("timestamp")

    def partials(df):
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(dec("value")).alias("p_sum"),  # stays decimal: mergeable & exact
        )

    base = partials(ev.filter(F.col("ts") < split))
    delta = partials(ev.filter(F.col("ts") >= split))
    return (
        base.unionByName(delta)
        .groupBy("hour_ts", "event_type")
        .agg(
            F.sum("p_n").cast("long").alias("n_events"),
            F.sum("p_sum").cast("double").alias("total_value"),
        )
    )


@query(
    "merge_upsert_latest_events",
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
        "join-based MERGE (plain-parquet upsert): the pre-split snapshot "
        "upserted with the post-split delta — anti-join keeps unmatched "
        "base rows, union appends the updates; provably equal to the "
        "full-history compaction (the oracle). With the loader's "
        "versioned-location publish this is the refresh-run MERGE INTO "
        "for tables without a lakehouse format"
    ),
)
def merge_upsert_latest_events(spark, sf_dir):
    from ..operators.merge import upsert

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    split = F.lit("2024-01-20 00:00:00").cast("timestamp")
    keys = ["user_id", "event_type"]
    base = dd.keep_latest(ev.filter(F.col("ts") < split), keys, ["ts", "event_id"])
    delta = dd.keep_latest(ev.filter(F.col("ts") >= split), keys, ["ts", "event_id"])
    return upsert(base, delta, keys).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )


@query(
    "embedding_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(v * 1000000) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000.0 AS centroid
    FROM ex GROUP BY label, dim
    """,
    description=(
        "element-wise centroid per label (the k-means building block): "
        "posexplode to (label, dim, value), micro-unit quantization for "
        "order-independent exact sums, one shuffle on (label, dim). At "
        "100 TB dims stay with their vector partition until the partial "
        "aggregate, so the exchange carries labels x dims rows, not rows"
    ),
)
def embedding_label_centroids(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(sim.as_double_array(F.col("embedding"))).alias("dim0", "v"),
    ).select("label", (F.col("dim0") + 1).cast("int").alias("dim"), "v")
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("v") * 1000000).cast("long")).alias("sq"),
        )
        .select(
            "label",
            "dim",
            "n",
            (F.col("sq").cast("double") / F.col("n") / F.lit(1000000.0)).alias(
                "centroid"
            ),
        )
    )


@query(
    "user_event_window_suite",
    oracle="""
    SELECT user_id, event_id,
           FIRST_VALUE(event_type) OVER w AS first_type,
           NTH_VALUE(event_type, 2) OVER w AS second_type,
           LAG(event_id) OVER w AS prev_event_id,
           CAST(PERCENT_RANK() OVER (
             PARTITION BY user_id ORDER BY value, event_id
           ) AS DOUBLE) AS value_pct_rank
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
    description=(
        "window-function surface in one pass: FIRST_VALUE / NTH_VALUE with "
        "an explicit ROWS frame, LAG, and PERCENT_RANK over a second "
        "ordering — two in-partition sorts, one shuffle on user_id"
    ),
)
def user_event_window_suite(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.lag("event_id").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_event_id"),
        F.percent_rank().over(wv).cast("double").alias("value_pct_rank"),
    )


@query(
    "customer_order_flags",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             AS has_orders,
           EXISTS (SELECT 1 FROM orders
                   WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
             AS has_open_orders
    FROM customer
    """,
    description=(
        "EXISTS as a SELECT-list flag (not a filter): two correlated "
        "existence probes decorrelated by Catalyst into left-semi-derived "
        "boolean joins — no per-row subquery execution"
    ),
)
def customer_order_flags(spark, sf_dir):
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(f"{name}_flags")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               EXISTS (SELECT 1 FROM orders_flags WHERE o_custkey = c_custkey)
                 AS has_orders,
               EXISTS (SELECT 1 FROM orders_flags
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
                 AS has_open_orders
        FROM customer_flags
        """
    )


@query(
    "ann_ivf_recall_eval",
    oracle=_IVF_ASSIGN_CTE
    + """
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.vv, c.vv) DESC, c.vec_id
               ) AS rk
        FROM v q, v c
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
      ) WHERE rk <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_cosine_similarity(qv.vv, cv.vv) DESC, c.vec_id
               ) AS rk
        FROM assign a
        JOIN assign c ON a.centroid_id = c.centroid_id AND c.vec_id != a.vec_id
        JOIN v qv ON qv.vec_id = a.vec_id
        JOIN v cv ON cv.vec_id = c.vec_id
        WHERE a.vec_id < 10
      ) WHERE rk <= 5
    )
    SELECT e.query_id, COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    description=(
        "ANN quality harness: recall@5 of IVF search against the exact "
        "brute-force ground truth, per query — the eval loop that keeps an "
        "approximate index honest; integer overlap counts, no float "
        "comparisons"
    ),
)
def ann_ivf_recall_eval(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    centroids = _init_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim.brute_force_knn(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = sim.ivf_search(emb, centroids, queries, k=5).select(
        F.col("query_id").alias("a_query"), F.col("neighbor_id").alias("a_nb")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("a_query"))
            & (F.col("neighbor_id") == F.col("a_nb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.when(F.col("a_nb").isNotNull(), 1).otherwise(0)).alias(
                "n_matched"
            ),
        )
    )


@query(
    "part_brand_cooccurrence",
    oracle="""
    WITH order_brands AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS n_orders
    FROM order_brands a
    JOIN order_brands b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    """,
    description=(
        "market-basket co-occurrence: brand pairs bought in the same "
        "order. The self-join is co-partitioned on l_orderkey (one "
        "shuffle, reused by both sides) and the pair space is bounded by "
        "per-order distinct brands, not corpus size — the co-occurrence "
        "matrix pattern for association mining at scale"
    ),
)
def part_brand_cooccurrence(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .repartition("l_orderkey")
    )
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(
        F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b")
    )
    return (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "dialect_json_extract_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           COUNT(*) AS n_events
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1
    """,
    description=(
        "Redshift JSON_EXTRACT_PATH_TEXT through the shim -> "
        "get_json_object with a built JSONPath — semi-structured access "
        "without a UDF"
    ),
)
def dialect_json_extract_props(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["events"],
        """
        SELECT CAST(JSON_EXTRACT_PATH_TEXT(props, 'k') AS BIGINT) AS k_value,
               COUNT(*) AS n_events
        FROM events
        WHERE JSON_EXTRACT_PATH_TEXT(props, 'k') IS NOT NULL
        GROUP BY 1
        """,
    )


@query(
    "corpus_prep_pipeline",
    oracle="""
    WITH filtered AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE n_chars >= 60 AND lang IN ('en', 'de', 'fr', 'es')
    ),
    deduped AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM filtered
      ) WHERE rn = 1
    )
    SELECT CASE
             WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
             WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'valid'
             ELSE 'test'
           END AS split,
           lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM deduped
    GROUP BY 1, 2
    """,
    description=(
        "end-to-end training-corpus prep in ONE declarative plan: length + "
        "language filter (pushed to the scan) -> exact content dedup "
        "(md5 keep-first, one shuffle on the digest) -> deterministic "
        "80/10/10 hash split -> per-(split, lang) accounting. The "
        "composition stays a single Catalyst plan: no materialization "
        "between stages, filters prune before the dedup shuffle"
    ),
)
def corpus_prep_pipeline(spark, sf_dir):
    from ..operators.sampling import hash_bucket

    docs = t(spark, sf_dir, "documents")
    filtered = docs.filter(
        (F.col("n_chars") >= 60) & F.col("lang").isin("en", "de", "fr", "es")
    )
    # keep-first as min_by aggregate on the digest: map-side combine drops
    # in-partition duplicates before the shuffle, no reduce-side sort
    deduped = (
        filtered.groupBy(F.md5(F.col("text")).alias("_digest"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "n_chars"), F.col("doc_id")
            ).alias("_k")
        )
        .select(
            F.col("_k.doc_id").alias("doc_id"),
            F.col("_k.lang").alias("lang"),
            F.col("_k.n_chars").alias("n_chars"),
        )
    )
    bucket = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        deduped.groupBy(split.alias("split"), F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "date_dimension_spine",
    oracle="""
    SELECT CAST(d AS DATE) AS day,
           CAST(isodow(d) AS INTEGER) AS iso_dow,
           CAST(week(d) AS INTEGER) AS iso_week,
           CAST(month(d) AS INTEGER) AS month,
           (isodow(d) >= 6) AS is_weekend
    FROM generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY) t(d)
    """,
    description=(
        "calendar-dimension generation from nothing: sequence() date spine "
        "exploded executor-side (no driver loop, no source scan) with ISO "
        "day-of-week/week attributes — the standard warehouse date dim, "
        "generated instead of loaded"
    ),
)
def date_dimension_spine(spark, sf_dir):
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    iso_dow = (F.weekday("day") + 1).cast("int")
    return spine.select(
        "day",
        iso_dow.alias("iso_dow"),
        F.weekofyear("day").cast("int").alias("iso_week"),
        F.month("day").cast("int").alias("month"),
        (iso_dow >= 6).alias("is_weekend"),
    )


@query(
    "nation_revenue_share",
    oracle=f"""
    WITH nat AS (
      SELECT n_name, r_name,
             CAST(SUM({_DP}) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name, r_name
    )
    SELECT n_name, r_name, revenue,
           CAST(revenue / SUM(revenue) OVER (PARTITION BY r_name) AS DOUBLE)
             AS region_share
    FROM nat
    """,
    description=(
        "percent-of-total via an unordered window aggregate: per-nation "
        "revenue divided by its region's windowed sum — shares computed "
        "over the small aggregate, never over fact rows; exact decimal "
        "sums make the division engine-identical"
    ),
)
def nation_revenue_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        li.select("l_orderkey", disc_price().alias("_dp"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(sum_money(F.col("_dp"), "revenue"))
    )
    w = Window.partitionBy("r_name")
    return nat.select(
        "n_name",
        "r_name",
        "revenue",
        (F.col("revenue") / F.sum("revenue").over(w)).cast("double").alias(
            "region_share"
        ),
    )


@query(
    "dialect_string_functions",
    oracle="""
    SELECT o_orderpriority,
           CAST(strpos(o_orderpriority, '-') AS INTEGER) AS dash_pos,
           CAST(strpos(o_orderpriority, 'U') AS INTEGER) AS u_pos,
           CAST(length(o_orderpriority) AS INTEGER) AS n_chars,
           split_part(o_orderpriority, '-', 2) AS priority_word,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    description=(
        "Redshift string-function surface through the dialect shim: "
        "CHARINDEX (argument order SWAPS into Spark's instr — the shim "
        "rewrite this entry exists to pin), STRPOS, LEN, SPLIT_PART — "
        "each executed via rewrite_redshift_sql and value-matched "
        "against DuckDB's native equivalents"
    ),
)
def dialect_string_functions(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["orders"],
        """
        SELECT o_orderpriority,
               CAST(CHARINDEX('-', o_orderpriority) AS INT) AS dash_pos,
               CAST(STRPOS(o_orderpriority, 'U') AS INT) AS u_pos,
               CAST(LEN(o_orderpriority) AS INT) AS n_chars,
               SPLIT_PART(o_orderpriority, '-', 2) AS priority_word,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority
        """,
    )


@query(
    "dialect_kitchen_sink",
    oracle="""
    SELECT order_month,
           status_name,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
             AS priorities,
           COUNT(*) AS n_orders
    FROM (
      SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
             CASE WHEN o_orderstatus = 'O' THEN 'open'
                  WHEN o_orderstatus = 'F' THEN 'final'
                  ELSE coalesce(NULL, 'other') END AS status_name,
             o_orderpriority, o_custkey, o_totalprice, o_orderkey
      FROM orders
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      ) <= 3
    )
    GROUP BY 1, 2
    """,
    description=(
        "dialect kitchen sink: one Redshift-flavored statement combining "
        "TO_CHAR, DECODE, NVL, LISTAGG DISTINCT WITHIN GROUP, and QUALIFY "
        "— every shim rewrite firing in a single query, oracle-matched"
    ),
)
def dialect_kitchen_sink(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["orders"],
        """
        SELECT order_month,
               status_name,
               LISTAGG(DISTINCT o_orderpriority, '|')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n_orders
        FROM (
          SELECT TO_CHAR(o_orderdate, 'YYYY-MM') AS order_month,
                 DECODE(o_orderstatus, 'O', 'open', 'F', 'final',
                        NVL(NULL, 'other')) AS status_name,
                 o_orderpriority, o_custkey, o_totalprice, o_orderkey
          FROM orders
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
          ) <= 3
        )
        GROUP BY 1, 2
        """,
    )


@query(
    "dialect_kitchen_sink_tz",
    oracle="""
    SELECT ny_day,
           event_type,
           string_agg(DISTINCT k_bucket, '|' ORDER BY k_bucket) AS k_buckets,
           max(shifted_hour) AS max_shifted_hour,
           COUNT(*) AS n_events
    FROM (
      SELECT strftime(timezone('America/New_York', timezone('UTC', ts)),
                      '%Y-%m-%d') AS ny_day,
             strftime(ts + INTERVAL 6 HOUR, '%H') AS shifted_hour,
             event_type,
             CASE CAST(JSON_EXTRACT_PATH_TEXT(props, 'k') AS INTEGER) % 3
               WHEN 0 THEN 'low' WHEN 1 THEN 'mid'
               ELSE coalesce(NULL, 'high') END AS k_bucket,
             user_id, value, event_id
      FROM events
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY value DESC, event_id
      ) <= 5
    )
    GROUP BY 1, 2
    """,
    description=(
        "second dialect kitchen sink, covering the shim rewrites the first "
        "one misses: CONVERT_TIMEZONE + DATEADD + JSON_EXTRACT_PATH_TEXT "
        "combined with QUALIFY, DECODE, NVL, TO_CHAR and LISTAGG DISTINCT "
        "WITHIN GROUP in one Redshift-flavored statement"
    ),
)
def dialect_kitchen_sink_tz(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["events"],
        """
        SELECT ny_day,
               event_type,
               LISTAGG(DISTINCT k_bucket, '|')
                 WITHIN GROUP (ORDER BY k_bucket) AS k_buckets,
               MAX(shifted_hour) AS max_shifted_hour,
               COUNT(*) AS n_events
        FROM (
          SELECT TO_CHAR(CONVERT_TIMEZONE('America/New_York', ts),
                         'YYYY-MM-DD') AS ny_day,
                 TO_CHAR(DATEADD(hour, 6, ts), 'HH24') AS shifted_hour,
                 event_type,
                 DECODE(CAST(JSON_EXTRACT_PATH_TEXT(props, 'k') AS INT) % 3,
                        0, 'low', 1, 'mid', NVL(NULL, 'high')) AS k_bucket,
                 user_id, value, event_id
          FROM events
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY value DESC, event_id
          ) <= 5
        )
        GROUP BY 1, 2
        """,
    )


# ===========================================================================
# Reconciliation, weighted sampling, exact quantiles (round 1, continued)
# ===========================================================================

@query(
    "reconcile_orders_drift",
    oracle="""
    WITH b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT o_orderkey, 'removed' AS diff_kind
    FROM orders WHERE o_orderkey % 101 = 0
    UNION ALL
    SELECT o_orderkey, 'changed' AS diff_kind
    FROM b WHERE o_orderkey % 97 = 0
    """,
    description=(
        "keyed symmetric table diff (full-outer join, null-safe column "
        "compare) between orders and a deterministically drifted copy — "
        "the content-level blue-green publish gate; output scales with "
        "drift, not table size"
    ),
)
def reconcile_orders_drift(spark, sf_dir):
    from ..operators.reconcile import table_diff

    orders = t(spark, sf_dir, "orders")
    drifted = orders.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(orders, drifted, ["o_orderkey"])


@query(
    "weighted_sample_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE (CAST((o_orderkey * 2654435761) % 4294967296 % 1000000 AS DOUBLE)
           / 1000000.0) * 500000.0 < o_totalprice
    """,
    description=(
        "deterministic weighted Bernoulli sample, P(keep) = value/cap — "
        "importance sampling for training corpora; per-row hash "
        "arithmetic, shuffle-free, pushes to the scan, engine-reproducible"
    ),
)
def weighted_sample_orders(spark, sf_dir):
    from ..operators.sampling import weighted_bernoulli_sample

    orders = t(spark, sf_dir, "orders")
    return weighted_bernoulli_sample(
        orders, "o_orderkey", "o_totalprice", 500_000.0
    ).select("o_orderkey", "o_totalprice")


@query(
    "exact_quantiles_order_value",
    oracle="""
    SELECT o_orderpriority,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    description=(
        "exact discrete quantiles (PERCENTILE_DISC — actual data values, "
        "so float-parity is guaranteed) per priority; the 100 TB path is "
        "approx_percentile, a mergeable sketch with map-side combine"
    ),
)
def exact_quantiles_order_value(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    aggs = [
        F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias(a)
        for p, a in ((0.25, "p25"), (0.50, "p50"), (0.90, "p90"), (0.99, "p99"))
    ]
    return orders.groupBy("o_orderpriority").agg(
        *aggs, F.count(F.lit(1)).alias("n_orders")
    )
