"""Watermarked stream-stream and stream-static joins.

The reference has no streaming at all (README: "Arthur is not designed to
support streaming or micro-batch ETLs"); its join surface is batch SQL in
transform files.  This module is the streaming half of that join surface:
the interval-join shape the batch catalog already proves
(``bucketed_interval_join`` / as-of joins in the ``workload`` catalog)
expressed as an incremental Structured Streaming join with bounded state.

Why the time-range condition is not optional
--------------------------------------------
A stream-stream equi-join with no time bound must keep EVERY past row of
both sides in the state store forever — at 100 TB/day that is a guaranteed
OOM, and Spark refuses outer joins without the bound for exactly that
reason.  With watermarks on both inputs and a range condition
``r.ts BETWEEN l.ts + lower AND l.ts + upper``, the state each side holds
is::

    state_rows(side) ~= arrival_rate(side) x (watermark_delay + |upper|)

so operators size state by RATE x HORIZON, independent of total stream
length.  For key cardinality that scales with data volume, start the query
under :func:`~arthur_redshift_etl_spark.streaming.events.scalable_state_conf`
(RocksDB) — the round-7 A/B measured the on-heap provider dying at ~12M
state rows while RocksDB degrades to disk instead.

Emission semantics (tested in tests/test_streaming_joins.py):

- ``inner``: a match emits in the micro-batch where the LATER of the two
  rows arrives; results are identical to the equivalent batch interval
  join as long as neither row was dropped as late.
- ``leftOuter``: the null-padded row for an unmatched left row emits only
  once the watermark passes ``left_ts + upper`` (Spark must be sure no
  match can still arrive), i.e. outer results trail the data by
  ``watermark_delay + upper`` and need a later micro-batch to flush.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STREAM_JOIN_MODES = {"inner", "leftOuter", "rightOuter", "fullOuter"}


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    how: str = "inner",
    right_prefix: str = "r_",
) -> DataFrame:
    """Join two event streams on keys + a time-range condition.

    Matches ``right`` rows whose ``right_ts`` falls in
    ``[left_ts + lower, left_ts + upper]`` for equal join keys.  Both
    sides get ``withWatermark`` applied here (required: the watermark +
    range condition is what lets Spark evict state; without both, an
    outer stream-stream join is rejected outright and an inner one leaks
    state forever).

    ``left_ts`` and ``right_ts`` must be DIFFERENT column names (rename
    before calling if needed) so the output carries both timestamps
    unambiguously.  Non-key right columns that collide with left names
    are prefixed with ``right_prefix``.

    Intervals are SQL interval strings ("0 seconds", "30 minutes"); a
    negative ``lower`` ("-5 minutes") permits right rows slightly before
    the left row (clock-skew tolerance).
    """
    if how not in _STREAM_JOIN_MODES:
        raise ValueError(f"how must be one of {sorted(_STREAM_JOIN_MODES)}: {how}")
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must differ so both survive the join "
            f"(got {left_ts!r} twice) — rename one side first"
        )
    keys = [on] if isinstance(on, str) else list(on)
    if right_ts in left.columns:
        raise ValueError(
            f"right_ts {right_ts!r} also names a left column — the output "
            "would carry two identically-named timestamps; rename one side"
        )

    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)

    # prefix colliding non-key right columns so the output is unambiguous
    left_cols = set(left.columns)
    renames = {
        c: right_prefix + c
        for c in rw.columns
        if c in left_cols and c not in keys and c != right_ts
    }
    for old, new in renames.items():
        rw = rw.withColumnRenamed(old, new)

    l, r = lw.alias("l"), rw.alias("r")
    cond = None
    for k in keys:
        eq = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = eq if cond is None else (cond & eq)
    # SQL interval syntax accepts a signed magnitude ("INTERVAL -5 minutes")
    lo = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower.strip()}")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper.strip()}")
    rts = F.col(f"r.{right_ts}")
    time_cond = (rts >= lo) & (rts <= hi)
    cond = time_cond if cond is None else (cond & time_cond)

    joined = l.join(r, cond, how)
    # one copy of each join key in the output: for modes where the LEFT
    # side can be the null-padded one, coalesce so an unmatched right
    # row still carries its key (otherwise the consumer can't tell which
    # key the event belonged to)
    right_padded_modes = {"rightOuter", "fullOuter"}
    out_cols = []
    for c in lw.columns:
        if c in keys and how in right_padded_modes:
            out_cols.append(F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"l.{c}"))
    out_cols += [F.col(f"r.{c}") for c in rw.columns if c not in keys]
    return joined.select(*out_cols)


def attribution_join_stream(
    events: DataFrame,
    touch_type: str = "view",
    convert_type: str = "purchase",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Streaming touch->conversion attribution within a time horizon.

    The canonical stream-stream join: attribute each conversion event
    (``convert_type``) to the touch events (``touch_type``) by the same
    user in the preceding ``horizon``.  Batch analog::

        SELECT ... FROM views v JOIN purchases p
          ON p.user_id = v.user_id
         AND p.ts BETWEEN v.ts AND v.ts + INTERVAL horizon

    With ``how='leftOuter'`` unconverted touches emit null-padded once the
    watermark passes their horizon (a streaming funnel-drop feed).

    State held per side ~= rate x (watermark + horizon) keyed by user_id —
    user-scaled cardinality, so production runs belong on RocksDB
    (``scalable_state_conf``).
    """
    touches = events.filter(F.col("event_type") == touch_type).select(
        F.col("user_id"),
        F.col("event_id").alias("touch_event_id"),
        F.col("ts").alias("touch_ts"),
    )
    converts = events.filter(F.col("event_type") == convert_type).select(
        F.col("user_id"),
        F.col("event_id").alias("convert_event_id"),
        F.col("ts").alias("convert_ts"),
        F.col("value").alias("convert_value"),
    )
    return interval_join_streams(
        touches,
        converts,
        on="user_id",
        left_ts="touch_ts",
        right_ts="convert_ts",
        watermark=watermark,
        lower="0 seconds",
        upper=horizon,
        how=how,
    )


def enrich_stream_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Enrich a stream with a static dimension (stream-static join).

    The static side is planned ONCE and re-read per micro-batch by the
    file source, so a broadcast-able dim never shuffles the stream: each
    micro-batch is a map-side hash join.  ``broadcast_dim`` should stay
    True for dims under the engine's decoded-bytes broadcast budget
    (``plans.broadcast``); for genuinely large dims pass False and accept
    the per-batch shuffle — or pre-bucket both sides.

    No watermark is needed: the static side holds no streaming state.
    For a dim that must refresh mid-run (slowly changing), re-resolve it
    inside ``foreachBatch`` instead — a plain stream-static join pins the
    dim snapshot taken at planning time for the life of the query.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    keys = [on] if isinstance(on, str) else list(on)
    return stream.join(d, keys, how)
