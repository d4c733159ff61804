"""Redshift-dialect queries run through the compat rewrite, range joins,
gap filling and one k-means step."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.compat import rewrite_redshift_sql as _compat
from ..operators import similarity as sim
from ..operators.rangejoin import bucketed_interval_join, gapfill_time_buckets
from .core import query, t
from .pipeline import _IVF_ASSIGN_CTE


# ===========================================================================
# Redshift-dialect queries executed through the compat shim (the reference's
# user-SQL path: raw dialect SQL → rewrite → spark.sql)
# ===========================================================================

def _run_dialect(spark, sf_dir, tables, redshift_sql):
    for name in tables:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_compat(redshift_sql))


@query(
    "dialect_listagg_nations",
    oracle="""
    SELECT r_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
    description="Redshift LISTAGG WITHIN GROUP → array_sort+array_join shim",
)
def dialect_listagg_nations(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["nation", "region"],
        """
        SELECT r_regionkey,
               LISTAGG(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_regionkey
        """,
    )


@query(
    "dialect_decode_status",
    oracle="""
    SELECT CASE WHEN o_orderstatus = 'O' THEN 'open'
                WHEN o_orderstatus = 'F' THEN 'finished'
                ELSE 'partial' END AS status_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(coalesce(o_totalprice, 0) AS DECIMAL(12,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE TIMESTAMP '2000-01-01 00:00:00' > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1
    """,
    description="Redshift DECODE/NVL/GETDATE through the shim",
)
def dialect_decode_status(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["orders"],
        """
        SELECT DECODE(o_orderstatus, 'O', 'open', 'F', 'finished', 'partial')
                 AS status_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(NVL(o_totalprice, 0) AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_price
        FROM orders
        WHERE GETDATE() > TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1
        """,
    )


@query(
    "dialect_sha256_fingerprint",
    oracle="""
    SELECT lower(sha256(c_name)) AS name_hash, c_custkey
    FROM customer WHERE c_custkey < 100
    """,
    description="Redshift plpythonu f_sha256 UDF → built-in sha2 shim",
)
def dialect_sha256_fingerprint(spark, sf_dir):
    return _run_dialect(
        spark,
        sf_dir,
        ["customer"],
        "SELECT f_sha256(c_name) AS name_hash, c_custkey FROM customer WHERE c_custkey < 100",
    )



@query(
    "range_join_error_context",
    oracle="""
    SELECT a.event_id AS err_id, b.event_id AS other_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id != a.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    WHERE a.event_type = 'error'
    """,
    description="range join: events within ±5 min of each error, same user "
    "(bucketed equi-join, no cartesian; microsecond-exact gap predicate — "
    "second truncation made boundary pairs engine-dependent)",
)
def range_join_error_context(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    others = ev.select(
        "user_id", F.col("event_id").alias("other_id"), F.col("ts").alias("other_ts")
    )
    joined = bucketed_interval_join(
        errors, others, "err_ts", "other_ts", max_gap_seconds=300, extra_keys=["user_id"]
    )
    return joined.filter(F.col("other_id") != F.col("err_id")).select(
        "err_id", "other_id"
    )


@query(
    "gapfilled_hourly_by_type",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_ts, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(time_bucket(INTERVAL '1 hour', ts)) AS lo,
             max(time_bucket(INTERVAL '1 hour', ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT spine.bucket_ts, types.event_type, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_events
    FROM spine CROSS JOIN types
    LEFT JOIN agg ON agg.bucket_ts = spine.bucket_ts AND agg.event_type = types.event_type
    """,
    description="gap-filled hourly series per event type (zero rows for "
    "empty buckets, distributed sequence spine)",
)
def gapfilled_hourly_by_type(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    filled = gapfill_time_buckets(
        ev,
        "ts",
        3600,
        group_cols=["event_type"],
        agg_exprs=[F.count(F.lit(1)).alias("n")],
    )
    return filled.select(
        "bucket_ts",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
    )


# One Lloyd update, SQL side: assignment -> micro-unit-exact per-dim means
# -> centroid arrays rebuilt in dim order -> re-assignment.  Appended to
# _IVF_ASSIGN_CTE; yields relation `assign2` (the 1-iteration-TRAINED
# assignment).  Shared by kmeans_embedding_clusters and the trained
# clustering-quality evals (VERDICT r10 #3).
_KMEANS_TRAIN1_CTE = """
    , ex AS (
      SELECT a.centroid_id, t.i AS dim, v.vv[t.i] AS x
      FROM assign a
      JOIN v ON v.vec_id = a.vec_id,
           UNNEST(range(1, len(v.vv) + 1)) AS t(i)
    ),
    means AS (
      SELECT centroid_id, dim,
             CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1000000.0 AS cx
      FROM ex GROUP BY centroid_id, dim
    ),
    cent2 AS (
      SELECT centroid_id, list(cx ORDER BY dim) AS cv2
      FROM means GROUP BY centroid_id
    ),
    assign2 AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent2.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(vv, cv2) DESC, centroid_id
               ) AS rk
        FROM v, cent2
      ) WHERE rk = 1
    )
"""


def _lloyd_once(emb, assign):
    """One Lloyd centroid update (Spark side of _KMEANS_TRAIN1_CTE).

    Micro-unit-exact: per-dim means are integer sums of floor(x*1e6)
    divided as doubles, so both engines derive bit-identical centroid
    vectors and the downstream re-assignment is hash-verifiable.  One
    shuffle keyed by (centroid, dim); output is k x dims rows regardless
    of corpus size.
    """
    means = (
        emb.join(assign, "vec_id")
        .select(
            "centroid_id",
            F.posexplode(sim.as_double_array(F.col("embedding"))).alias("dim", "x"),
        )
        .groupBy("centroid_id", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("x") * 1000000).cast("long")).alias("sq"),
        )
        .select(
            "centroid_id",
            "dim",
            (F.col("sq").cast("double") / F.col("n") / F.lit(1000000.0)).alias("cx"),
        )
    )
    return (
        means.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("a"))
        .select(
            "centroid_id", F.transform("a", lambda s: s["cx"]).alias("embedding")
        )
    )


@query(
    "kmeans_embedding_clusters",
    oracle=_IVF_ASSIGN_CTE
    + _KMEANS_TRAIN1_CTE
    + """
    SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assign2 GROUP BY centroid_id
    """,
    description=(
        "TWO chained Lloyd iterations, oracle-checked end-to-end: seed "
        "centroids -> assignment -> micro-unit-exact means (the "
        "kmeans_single_iteration arithmetic: integer sums of floor(x*1e6), "
        "so both engines derive bit-identical centroid doubles) -> arrays "
        "rebuilt in dim order -> second assignment -> bucket sizes.  The "
        "CONVERGED loop (operators/clustering.py kmeans, localCheckpoint "
        "per iteration) remains the production path, pinned by pytest "
        "parity tests — this entry proves the per-iteration building "
        "blocks compose across iterations under the driver's hash check"
    ),
)
def kmeans_embedding_clusters(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent2 = _lloyd_once(emb, sim.ivf_assign(emb, seeds))
    assign2 = sim.ivf_assign(emb, cent2)
    return assign2.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
