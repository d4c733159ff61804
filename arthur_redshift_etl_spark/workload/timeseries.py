"""Time-series rollups, the as-of join, LSH ANN, BPE-ish token counts,
exact and approximate aggregates."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import similarity as sim
from .core import _DP, dec, disc_price, query, sum_money, t


# ===========================================================================
# Time-series, as-of join, LSH-ANN, BPE-ish token counting
# ===========================================================================

@query(
    "five_min_rollup",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_ts,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    description="hypertable-style fixed-width time buckets (5 min)",
)
def five_min_rollup(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_money(dec("value"), "total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_ts"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_asof_last_purchase",
    oracle="""
    SELECT event_id, user_id, ts, last_purchase_ts,
           CASE WHEN last_purchase_ts IS NULL THEN NULL
                ELSE epoch_us(ts) - epoch_us(last_purchase_ts) END AS gap_us
    FROM (
      SELECT event_id, user_id, ts,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_purchase_ts
      FROM events
    )
    """,
    description="as-of join: each event matched to the user's latest prior "
    "purchase (windowed last-value formulation)",
)
def events_asof_last_purchase(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        last_purchase.alias("last_purchase_ts"),
    ).withColumn(
        "gap_us",
        F.when(
            F.col("last_purchase_ts").isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("last_purchase_ts").cast("timestamp"))
        ),
    )


def _lsh_planes(num_planes: int = 8, dim: int = 64):
    """Deterministic pseudo-random hyperplanes (fixed seed, no RNG state)."""
    import numpy as np

    rng = np.random.RandomState(42)
    return [[round(float(x), 6) for x in rng.randn(dim)] for _ in range(num_planes)]


def _lsh_oracle(num_planes: int = 8) -> str:
    planes = _lsh_planes(num_planes)
    bits = " || ".join(
        "CASE WHEN list_dot_product(vv, [{vals}]) > 0 THEN '1' ELSE '0' END".format(
            vals=", ".join(repr(x) for x in plane)
        )
        for plane in planes
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    bucketed AS (SELECT vec_id, vv, {bits} AS bucket FROM v),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.vv, c.vv) AS sim
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS lsh_rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """


@query(
    "ann_lsh_search",
    oracle=_lsh_oracle(),
    description="ANN via random-hyperplane LSH buckets (sign-bit sketch)",
)
def ann_lsh_search(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.lsh_search(emb, queries, _lsh_planes(), k=3).withColumnRenamed(
        "rank", "lsh_rank"
    )


_BPE_REGEX = "[a-z]+|[0-9]|[^a-z0-9\\s]"


@query(
    "text_bpe_token_count",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_REGEX}'))) AS BIGINT)
             AS bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY lang
    """,
    description="token counting: whitespace vs BPE-ish regex segmentation",
)
def text_bpe_token_count(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_REGEX), F.lit(0)))
    ws = F.size(F.split(F.col("text"), " "))
    return docs.groupBy("lang").agg(
        F.sum(bpe.cast("long")).alias("bpe_tokens"),
        F.sum(ws.cast("long")).alias("ws_tokens"),
    )


@query(
    "median_quantity_by_flag",
    oracle="""
    SELECT l_returnflag,
           median(l_quantity) AS median_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    description="exact median (Redshift MEDIAN → percentile shim path)",
)
def median_quantity_by_flag(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "approx_distinct_customers",
    oracle="""
    WITH hashed AS (
      SELECT c_mktsegment,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)) AS INTEGER)
               AS register,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 3, 8)) AS BIGINT)
               AS v
      FROM customer
    ),
    regs AS (
      SELECT c_mktsegment, register,
             MAX(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END) AS max_rho
      FROM hashed GROUP BY c_mktsegment, register
    ),
    sums AS (
      SELECT c_mktsegment, COUNT(*) AS m_used,
             SUM(CAST(1 AS BIGINT) << (33 - max_rho)) AS used_sum
      FROM regs GROUP BY c_mktsegment
    ),
    sketch AS (
      SELECT c_mktsegment, CAST(256 AS INTEGER) AS m,
             CAST(m_used AS BIGINT) AS m_used,
             CAST(used_sum + (256 - m_used) * (CAST(1 AS BIGINT) << 33) AS BIGINT)
               AS int_sum,
             CAST(256 - m_used AS BIGINT) AS m_empty
      FROM sums
    ),
    exact AS (
      SELECT c_mktsegment, CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
               AS exact_customers
      FROM customer GROUP BY c_mktsegment
    )
    SELECT s.c_mktsegment, m, m_used, int_sum,
           CASE WHEN (404351522913636.8 / int_sum)
                     <= 640.0 AND m_empty > 0
                THEN 256.0 * ln(256.0 / m_empty)
                ELSE 404351522913636.8 / int_sum
           END AS approx_customers,
           exact_customers
    FROM sketch s JOIN exact e ON s.c_mktsegment = e.c_mktsegment
    """,
    description=(
        "APPROXIMATE COUNT(DISTINCT ...) analog realized with the engine's "
        "own portable HLL (operators/sketch.py grouped registers + exact "
        "scaled-integer estimator) so the per-segment estimate is "
        "bit-identical across engines and fully oracle-checkable — "
        "previously a rows-only entry around Spark's opaque "
        "approx_count_distinct, whose dialect mapping stays covered by "
        "functions/compat.py; exact distinct shown alongside for the "
        "error profile"
    ),
)
def approx_distinct_customers(spark, sf_dir):
    from ..operators import sketch as sk

    cust = t(spark, sf_dir, "customer")
    regs = sk.hll_registers_grouped(cust, "c_custkey", ["c_mktsegment"])
    est = sk.hll_estimate_grouped(regs, ["c_mktsegment"]).withColumnRenamed(
        "hll_estimate", "approx_customers"
    )
    exact = cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").cast("long").alias("exact_customers")
    )
    return est.join(F.broadcast(exact), "c_mktsegment")


@query(
    "q15_top_suppliers",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, CAST(SUM({_DP}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    description="TPC-H Q15: top supplier via scalar MAX subquery over a CTE",
)
def q15(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(sum_money(disc_price(), "total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="CUBE grouping sets over orders",
)
def cube_status_priority(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_money(dec("o_totalprice"), "total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "cumulative_customer_revenue",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY c_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE c_custkey < 200
    """,
    description="running-total window frame per customer",
)
def cumulative_customer_revenue(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("c_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
        )
    )


@query(
    "doc_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           CAST(list_reduce(
             list_transform(string_split(text, ' '),
                            tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT & 4294967295),
             (acc, x) -> (acc * 31 + x) % {dd.MERSENNE31}
           ) AS BIGINT) AS rhash
    FROM documents
    """,
    description="document fingerprint: polynomial rolling hash over tokens",
)
def doc_rolling_hash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    arr = F.transform(
        F.split(F.col("text"), " "),
        lambda tk: dd.hash64(tk).bitwiseAND(F.lit(4294967295)),
    )
    rhash = F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(dd.MERSENNE31),
    )
    return docs.select("doc_id", rhash.cast("long").alias("rhash"))
