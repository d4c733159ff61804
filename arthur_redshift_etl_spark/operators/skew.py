"""Skew mitigation: salted joins and skewed-key detection.

AQE's skew-join handling (enabled in ``session.py``) splits oversized
partitions at runtime, but only for sort-merge joins and only per shuffle.
Explicit salting remains the tool when one hot key dominates a shuffle
aggregation or when a broadcast is impossible and a single key exceeds what
one task can hold.

Pattern: append a random-ish salt in [0, factor) to the *fact* side's key,
replicate each *dim* row ``factor`` times (explode), join on (key, salt).
Result is identical to the plain join; the hot key's rows spread over
``factor`` tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_skewed_keys(
    df: DataFrame, key: str, top: int = 10, min_share: float = 0.01
) -> DataFrame:
    """Keys holding more than ``min_share`` of all rows (candidate hot keys).

    One partial-aggregated groupBy — cheap relative to the join it guards.
    """
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("share", F.col("cnt") / F.lit(float(total)))
        .filter(F.col("share") >= min_share)
        .orderBy(F.col("cnt").desc())
        .limit(top)
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join on ``key``: salt the fact side, explode the dim.

    The dim side grows ``salt_factor``× (keep it the smaller input); the fact
    side's hot keys spread across ``salt_factor`` reducers.  Deterministic
    salt (hash of the full row's key + a per-row uniform from ``rand`` would
    be non-deterministic across retries — instead we salt by a stable hash of
    a monotonically varying column when available, falling back to ``rand``
    seeded for reproducibility).
    """
    salt = (F.spark_partition_id() * F.lit(31) + F.monotonically_increasing_id()) % F.lit(
        salt_factor
    )
    f = fact.withColumn("__salt", salt.cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    joined = f.join(d, on=[key, "__salt"], how=how)
    return joined.drop("__salt")
