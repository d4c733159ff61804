"""Identity (surrogate-key) assignment and the missing-dimension row.

Reference parity: ``python/etl/load.py:506-551`` — dimension tables get an
auto-assigned identity column plus one "N/A row" with key 0 so fact rows with
missing dimension references join to a well-defined row: 0 for
identity/numeric columns, ``'N/A'`` for strings, false for booleans,
``'0000-01-01 00:00:00'`` for timestamps, NULL for nullable others.

Identity semantics (SURVEY §7.3): Redshift's IDENTITY(1,1) is engine-assigned
and unordered; ``monotonically_increasing_id`` is non-deterministic across
runs, so we use ``row_number()`` over an explicit, stable ordering key.

Scale notes: a global ``row_number()`` over one unpartitioned window is a
single-reducer sort — unacceptable at 10^10 rows.  ``with_identity`` therefore
uses the two-phase approach: rows get per-partition ranks via
``row_number`` within ``spark_partition_id``, then a tiny driver-side prefix
sum over per-partition counts turns them into globally dense, ordered ids.
The data itself is never funneled through one task (only the per-partition
counts are). For modest dimensions, ``ordered=True`` with a plain window is
fine and fully deterministic.
"""

from __future__ import annotations

import datetime
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..design import TableDesign

NA_TIMESTAMP = datetime.datetime(1, 1, 1, 0, 0, 0)  # stand-in for 0000-01-01


def global_row_number(
    df: DataFrame, order_by: Sequence[str], row_number_column: str = "__grn"
) -> tuple[DataFrame, int]:
    """Exact global 1-based row numbers over ``order_by`` — no single-task sort.

    Two-phase (the classic distributed rank): ``repartitionByRange`` gives a
    globally range-ordered layout, each partition ranks locally, and a prefix
    sum over the per-partition COUNTs (metadata only — a K-element array on
    the driver, never row data) turns local ranks into global ones.  Returns
    ``(df_with_column, total_row_count)``; the count job is the price of
    exactness and is a map-only pass over the already-shuffled layout.

    The ranked layout is pinned with an eager ``localCheckpoint`` before the
    count job: the per-partition offsets are Python constants baked into the
    returned plan, so every later job MUST see the exact same partitioning.
    Without the pin, re-executing the range exchange in a separate job can
    legally produce a different layout (AQE re-coalesces from fresh runtime
    stats; boundary sampling sees a differently-partitioned upstream), which
    silently mis-ranks rows — observed as a rank that exists in the count job
    but matches zero rows in the consumer job.
    """
    keys = [F.col(c) for c in order_by]
    ordered = (
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .localCheckpoint(eager=True)
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["cnt"]
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        return df.withColumn(row_number_column, F.lit(None).cast("long")), 0
    offset_col = F.create_map(
        *[item for pid, off in offsets.items() for item in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("__pid").orderBy(*keys)
    out = (
        with_pid.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            row_number_column, (offset_col[F.col("__pid")] + F.col("__rn")).cast("long")
        )
        .drop("__pid", "__rn")
    )
    return out, acc


def grouped_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[str],
    row_number_column: str = "__grn_g",
    count_column: Optional[str] = None,
) -> DataFrame:
    """Per-group 1-based row numbers with NO single-task stratum sort.

    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` sorts EVERY row
    of a group in one task — with skewed groups (one web-crawl domain can be
    >90% of a 100 TB corpus) that window is a straggler/OOM point.  This is
    the exact, skew-proof replacement:

    1. :func:`global_row_number` over ``(group_cols, order_by)`` — the range
       repartition spreads a giant group across MANY range partitions (the
       partitioner splits on the full key tuple), each sorts only its slice,
       and the driver-side prefix sum is metadata-only;
    2. one aggregate finds each group's first global rank (and size, if
       ``count_column`` is requested) — |groups| rows with map-side partial
       aggregation, skew-irrelevant;
    3. per-group rank = global rank − group start + 1, attached via a
       budget-gated broadcast join (``plans.broadcast``): group-cardinality
       tables are tiny for real strata (domains, languages, sources); above
       the decoded budget (~600k groups) the join falls back to shuffle —
       still exact, but note the fallback hash-partitions the ranked side
       by the group key, so a skewed group re-concentrates in one join
       partition; that partition only ATTACHES the start offset (no
       re-sort), and AQE's skew-join split (on in our sessions) bounds it.
       NULL group keys are kept (null-safe join), matching the window and
       the SQL oracles.

    Equivalent to the single-window answer for any total order (make
    ``order_by`` unique with an id tiebreaker, same contract as the window).
    The group-start aggregate is one extra (cheap) job versus the window —
    the price of removing the unbounded per-task sort.

    Returns the frame with ``row_number_column`` (long) and, when
    ``count_column`` is given, the group size (long) — the pair
    stratified sampling needs (rank ≤ ceil(fraction·n)).
    """
    from ..plans.broadcast import broadcast_within_budget

    ranked, total = global_row_number(
        df, [*group_cols, *order_by], row_number_column="__grn_all"
    )
    if total == 0:
        out = ranked.withColumn(row_number_column, F.lit(None).cast("long"))
        if count_column:
            out = out.withColumn(count_column, F.lit(None).cast("long"))
        return out.drop("__grn_all")
    aggs = [F.min("__grn_all").alias("__gstart")]
    if count_column:
        aggs.append(F.count(F.lit(1)).cast("long").alias(count_column))
    # group keys renamed on the start table so the join can be NULL-SAFE:
    # a plain equi-join would silently DROP every row whose group key is
    # NULL, while the window this replaces treats NULL as a normal
    # partition (and so do the SQL oracles) — <=> keeps hash-join
    # eligibility, so the budget-gated broadcast still applies
    starts = ranked.groupBy(*group_cols).agg(*aggs).select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        "__gstart",
        *([count_column] if count_column else []),
    )
    # the ranked side is localCheckpoint-pinned (global_row_number), so this
    # count scans materialized blocks, not the full upstream lineage
    n_groups = starts.count()
    cond = None
    for c in group_cols:
        clause = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = clause if cond is None else (cond & clause)
    out = ranked.join(
        broadcast_within_budget(starts, n_groups), cond
    ).withColumn(
        row_number_column,
        (F.col("__grn_all") - F.col("__gstart") + F.lit(1)).cast("long"),
    )
    return out.drop(
        "__grn_all", "__gstart", *[f"__g_{c}" for c in group_cols]
    )


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: str,
    sum_column: str = "__gsum",
) -> tuple[DataFrame, int]:
    """Exact global running sum of ``value_col`` over ``order_by`` — no
    single-task window.

    Same two-phase shape as :func:`global_row_number`: range-repartition for
    a globally ordered layout, per-partition prefix sums via a window keyed
    by partition id, and a driver-side prefix sum over per-partition value
    TOTALS (metadata only — K numbers, never row data) to lift local sums to
    global ones.  Returns ``(df_with_column, grand_total)``.  Integer values
    only (the metadata prefix sum must be exact).

    Same cross-job hazard as :func:`global_row_number`: the per-partition
    offsets are baked constants, so the layout is pinned with an eager
    ``localCheckpoint`` before the totals job.
    """
    keys = [F.col(c) for c in order_by]
    ordered = (
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .localCheckpoint(eager=True)
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    totals = {
        r["__pid"]: r["s"] or 0
        for r in with_pid.groupBy("__pid")
        .agg(F.sum(value_col).cast("long").alias("s"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    if not offsets:
        return df.withColumn(sum_column, F.lit(None).cast("long")), 0
    offset_col = F.create_map(
        *[item for pid, off in offsets.items() for item in (F.lit(pid), F.lit(off))]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        with_pid.withColumn("__lsum", F.sum(value_col).over(w))
        .withColumn(
            sum_column,
            (offset_col[F.col("__pid")] + F.col("__lsum")).cast("long"),
        )
        .drop("__pid", "__lsum")
    )
    return out, acc


def global_running_max(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: str,
    max_column: str = "__gmax",
    exclusive: bool = False,
) -> DataFrame:
    """Exact global running max of ``value_col`` over ``order_by`` — no
    single-task window.

    Same two-phase shape as :func:`global_running_sum` (max is associative,
    so the driver-side prefix combine over per-partition TOTALS — K numbers,
    never row data — is exact): range-repartition for a globally ordered
    layout, per-partition prefix max via a window keyed by partition id,
    then lift with the greatest of all earlier partitions' maxes.

    ``exclusive=True`` yields the strict-prefix max (all rows BEFORE the
    current one in ``order_by`` order); the first global row gets NULL.
    That is the skyline/Pareto primitive: a point is dominated exactly when
    the exclusive prefix max over the other dimension reaches it.

    **exclusive=True requires unique ``order_by`` keys.** The strict
    prefix is computed with a ROWS frame, so duplicate keys make "before"
    depend on the (nondeterministic) tie order within a partition —
    pre-group to one row per key first, as the Pareto-frontier caller
    does. Inclusive mode (the default) is tie-safe: equal keys see the
    same running max regardless of order.

    Integer values only (NULL-free long column; the driver combine uses
    Python ints).  Same cross-job hazard as :func:`global_row_number`: the
    per-partition offsets are baked constants, so the layout is pinned with
    an eager ``localCheckpoint`` before the totals job.
    """
    keys = [F.col(c) for c in order_by]
    ordered = (
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .localCheckpoint(eager=True)
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    totals = {
        r["__pid"]: r["m"]
        for r in with_pid.groupBy("__pid")
        .agg(F.max(value_col).cast("long").alias("m"))
        .collect()
    }
    if not totals:
        return df.withColumn(max_column, F.lit(None).cast("long"))
    offsets: dict = {}
    running: Optional[int] = None
    for pid in sorted(totals):
        offsets[pid] = running  # max over all EARLIER partitions
        if totals[pid] is not None:
            running = totals[pid] if running is None else max(running, totals[pid])
    offset_col = F.create_map(
        *[
            item
            for pid, off in offsets.items()
            for item in (F.lit(pid), F.lit(off).cast("long"))
        ]
    )
    end = -1 if exclusive else Window.currentRow
    w = (
        Window.partitionBy("__pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    out = (
        with_pid.withColumn("__lmax", F.max(value_col).over(w))
        .withColumn(
            max_column,
            F.greatest(
                offset_col[F.col("__pid")],
                F.col("__lmax").cast("long"),
            ),
        )
        .drop("__pid", "__lmax")
    )
    return out


def with_identity(
    df: DataFrame,
    identity_column: str,
    order_by: Sequence[str],
    distributed: Optional[bool] = None,
) -> DataFrame:
    """Add a dense 1-based identity column ordered by ``order_by``.

    ``distributed`` selects the plan, not the result (ids are identical):

    - ``None`` (default) — the distributed two-phase path: safe at every
      scale (a 100 TB "dimension" build can never silently funnel through
      one task), and on a tiny dim the extra range-shuffle costs microseconds.
      (Deciding from the input's partition count would mean materializing
      the RDD conversion lineage just to read a number — and one-partition
      inputs are the only case the plain window wins, by a margin too small
      to buy that.)
    - ``False`` — single global window (one-task sort; tiny dims only).
    - ``True`` — same as the default, kept for call-site explicitness.
    """
    if distributed is None:
        distributed = True
    if not distributed:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(identity_column, F.row_number().over(w).cast("long"))

    out, _ = global_row_number(df, order_by, row_number_column=identity_column)
    return out


def na_row_value(field: T.StructField, identity: bool = False):
    """The missing-dimension value for one column (load.py:506-526)."""
    dt = field.dataType
    if identity:
        return 0
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return 0
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return 0.0
    if isinstance(dt, T.DecimalType):
        return 0
    if isinstance(dt, T.StringType):
        return "N/A"
    if isinstance(dt, T.BooleanType):
        return False
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return NA_TIMESTAMP
    if isinstance(dt, T.DateType):
        return NA_TIMESTAMP.date()
    return None


def with_na_row(df: DataFrame, identity_column: Optional[str] = None) -> DataFrame:
    """Union one N/A row onto a dimension DataFrame.

    The row is a projection of literals over ``range(1)``, planned and run
    in the JVM: ``createDataFrame`` of a Python list is a Python RDD, and
    running it starts a Python worker daemon (~0.8 s on a cold JVM).
    Temporal values are cast from their ISO text in the session time zone."""
    row = []
    for field in df.schema.fields:
        value = na_row_value(field, identity=field.name == identity_column)
        if isinstance(value, datetime.date):  # dates and timestamps
            value = str(value)
        row.append(F.lit(value).cast(field.dataType).alias(field.name))
    return df.unionAll(df.sparkSession.range(1).select(*row))


def build_dimension(
    df: DataFrame,
    design: TableDesign,
    order_by: Optional[Sequence[str]] = None,
    add_na_row: bool = True,
    distributed: Optional[bool] = None,
) -> DataFrame:
    """Full dim_ materialization path: identity + N/A row per the design."""
    ident = design.identity_column
    if ident is not None:
        keys = order_by
        if keys is None:
            nk = next(
                (cols for ctype, cols in design.constraint_items() if ctype == "natural_key"),
                None,
            )
            keys = nk or [c.name for c in design.unskipped_columns if not c.identity][:1]
        df = with_identity(df, ident.name, keys, distributed=distributed)
        df = df.select([c.name for c in design.unskipped_columns])
    if add_na_row:
        df = with_na_row(df, identity_column=ident.name if ident else None)
    return df
