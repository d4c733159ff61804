"""MERGE/upsert primitives over plain parquet tables.

The reference's ``update`` verb is transactional delete-then-reload inside
Redshift (SURVEY §3.3); lakehouse formats get MERGE INTO from the table
format.  On plain parquet the equivalent is a join-based rewrite: compute
the merged result, write to a fresh versioned location, swap — which slots
directly into this engine's blue-green publish (loader.py).  These
operators compute the merged relation; the loader's versioned-location
write gives the atomicity.

Shuffle shape: one hash shuffle of each side on the merge keys (the anti
join and the union reuse the same partitioning); at 100 TB with a bucketed
base table the anti join runs with zero exchanges on the base side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Last-writer-wins MERGE: update rows whose key matches, insert the
    rest.  ``updates`` must be key-unique (use ``latest_per_key`` first for
    CDC streams).  Equivalent SQL::

        SELECT * FROM updates
        UNION ALL
        SELECT b.* FROM base b WHERE NOT EXISTS
          (SELECT 1 FROM updates u WHERE u.k = b.k ...)
    """
    keep = base.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return updates.unionByName(keep)


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[str]
) -> DataFrame:
    """Collapse a CDC batch to one row per key: max(order) wins — the
    struct-argmax shape (map-side combine), no window sort."""
    ordered = F.struct(*[F.col(c) for c in order], *[
        F.col(c) for c in df.columns if c not in order
    ])
    collapsed = df.groupBy(*keys).agg(F.max(ordered).alias("__r"))
    return collapsed.select(
        *keys, *[F.col(f"__r.{c}").alias(c) for c in df.columns if c not in keys]
    )


def scd2_merge(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Type-2 merge: close open intervals superseded by an update, append
    the new versions.  ``base`` carries [valid_from, valid_to) history;
    updates become rows with ``valid_from = ts`` and NULL ``valid_to``."""
    upd = updates.withColumn(valid_from, F.col(ts_col)).withColumn(
        valid_to, F.lit(None).cast(base.schema[valid_to].dataType)
    )
    first_upd = upd.groupBy(*keys).agg(F.min(valid_from).alias("__new_from"))
    closed = (
        base.join(first_upd, list(keys), "left")
        .withColumn(
            valid_to,
            F.when(
                F.col(valid_to).isNull() & F.col("__new_from").isNotNull(),
                F.col("__new_from"),
            ).otherwise(F.col(valid_to)),
        )
        .drop("__new_from")
    )
    return closed.unionByName(upd.select(*closed.columns))
