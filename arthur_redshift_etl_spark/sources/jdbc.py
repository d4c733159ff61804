"""Partition-aware JDBC extraction (the Sqoop replacement).

Reference parity:
- partition-count heuristic: ``extract/database_extractor.py:42-120``
  (``maximize_partitions``: largest multiple of 4 ≤ max_partitions with at
  least min-bytes per partition; 10 MiB unsampled / 100 MiB sampled);
- partition-key choice: ``relation.py:417-473`` (split_by column/expression,
  else single-column numeric/date/timestamp primary key; temporal keys cast
  to epoch) and ``extract/sqoop.py:186-195``;
- boundary query: ``relation.py:407-415``;
- select with casts + condition + sampling: ``extract/sqoop.py:165-176``,
  ``database_extractor.py:122-154``.

Spark mapping: ``spark.read.jdbc(url, table, column, lowerBound, upperBound,
numPartitions, properties)`` — the driver plans one range predicate per
partition; executors fetch ranges in parallel, exactly like Sqoop mappers.
Catalyst does NOT size JDBC partitions, so the reference's heuristic stays.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from ..design import TableDesign
from ..errors import ETLConfigError

logger = logging.getLogger(__name__)

MIN_PARTITION_BYTES = 10 * 1024 * 1024  # 10 MiB (database_extractor.py:42-53)
MIN_PARTITION_BYTES_SAMPLED = 100 * 1024 * 1024
DEFAULT_MAX_PARTITIONS = 32  # default_settings.yaml:70
SAMPLING_THRESHOLD_BYTES = 100 * 1024 * 1024
# database_extractor.py's size when its probe is unavailable; the planner
# assumes it for an unprobed plan (the CLI's dry plan, plain JDBC).  The
# key-range sources size every extract with KeyRangeDataSource.size_bytes.
FALLBACK_TABLE_SIZE = 671_088_640

SPLIT_KEY_TYPES = {"int", "long", "date", "timestamp"}


def maximize_partitions(
    table_size_bytes: int,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
    use_sampling: bool = False,
) -> int:
    """Largest multiple of 4 ≤ max_partitions with ≥ min-size per partition.

    >>> maximize_partitions(10 * 1024 * 1024)
    1
    >>> maximize_partitions(45 * 1024 * 1024)
    4
    >>> maximize_partitions(1 << 40)
    32
    >>> maximize_partitions(200 * 1024 * 1024, use_sampling=True)
    1
    >>> maximize_partitions(90 * 1024 * 1024)
    8
    >>> maximize_partitions(130 * 1024 * 1024)
    12
    """
    min_bytes = MIN_PARTITION_BYTES_SAMPLED if use_sampling else MIN_PARTITION_BYTES
    best = 1
    n = 4
    while n <= max_partitions:
        if table_size_bytes / n >= min_bytes:
            best = n
            n += 4
        else:
            break
    return best


def should_sample(table_size_bytes: int) -> bool:
    """Sampling applies only to tables over 100 MiB (extractor :38-40)."""
    return table_size_bytes > SAMPLING_THRESHOLD_BYTES


def sampling_condition(key: str) -> str:
    """10%-of-rows predicate (extractor :150-153).

    The reference emits ``("key" % 10) = 1``; we use the ANSI ``MOD``
    function so the predicate parses on every upstream dialect we extract
    from (Postgres, MySQL, Redshift, Derby).
    """
    return f"(MOD({key}, 10) = 1)"


def find_partition_key(design: TableDesign) -> Optional[str]:
    """split_by column/expression, else a single-column int/long/date/
    timestamp primary key (reference relation.py:417-473).

    Temporal keys are wrapped in an epoch cast so range math is numeric
    (reference uses ``CAST(DATE_PART('epoch', k) AS BIGINT)``; Spark side
    uses ``unix_timestamp``).
    """
    split_by = design.extract_settings.split_by
    if split_by:
        key = split_by[0]
    else:
        pk = next(
            (cols for ctype, cols in design.constraint_items() if ctype == "primary_key"),
            None,
        )
        if not pk or len(pk) != 1:
            return None
        key = pk[0]
    col = next((c for c in design.columns if c.name == key), None)
    if col is None:
        return key  # split-by expression, pass through
    if col.type not in SPLIT_KEY_TYPES:
        return None
    if col.type in ("date", "timestamp"):
        return f"CAST(unix_timestamp({key}) AS BIGINT)"
    return key


def select_statement(design: TableDesign, add_sampling_key: Optional[str] = None) -> str:
    """Extract SELECT with per-column cast expressions and WHERE pushdown.

    Mirrors ``relation.py:378-392`` (``get_columns_with_casts``) +
    ``database_extractor.py:134-142``: skipped columns excluded, each
    column's ``expression`` applied as ``expr AS "name"``.
    """
    parts: List[str] = []
    for c in design.unskipped_columns:
        if c.expression:
            parts.append(f'{c.expression % c.name} AS {c.name}')
        else:
            parts.append(c.name)
    source_table = design.source_name.split(".", 1)[-1]
    stmt = f"SELECT {', '.join(parts)} FROM {source_table}"
    conditions = []
    if design.extract_settings.condition:
        conditions.append(f"({design.extract_settings.condition})")
    if add_sampling_key:
        conditions.append(sampling_condition(add_sampling_key))
    if conditions:
        stmt += " WHERE " + " AND ".join(conditions)
    return stmt


@dataclass
class JdbcExtractPlan:
    """Everything needed for a partitioned ``spark.read.jdbc`` call."""

    query: str
    partition_column: Optional[str]
    num_partitions: int
    boundary_query: Optional[str]
    # the upstream's probed size of ``query``; None when nothing was probed
    size_bytes: Optional[int] = None

    def read(self, spark, url: str, properties: Optional[dict] = None,
             lower_bound=None, upper_bound=None):
        """Execute the plan.  Bounds come from the boundary query (run it
        via ``spark.read.jdbc`` on the caller side) or are passed in."""
        props = dict(properties or {})
        dbtable = f"({self.query}) AS extract_subquery"
        reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
        for k, v in props.items():
            reader = reader.option(k, v)
        if self.partition_column and lower_bound is not None and upper_bound is not None:
            reader = (
                reader.option("partitionColumn", self.partition_column)
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
                .option("numPartitions", str(self.num_partitions))
            )
        return reader.load()


def plan_extract(
    design: TableDesign,
    table_size_bytes: Optional[int] = None,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
    use_sampling: bool = False,
) -> JdbcExtractPlan:
    """Build the full extract plan for one source relation.

    ``table_size_bytes`` is the upstream's probed size, recorded on the
    plan; unprobed (None), the heuristic assumes ``FALLBACK_TABLE_SIZE``."""
    size = FALLBACK_TABLE_SIZE if table_size_bytes is None else table_size_bytes
    explicit_n = design.extract_settings.num_partitions
    key = find_partition_key(design)
    sampling_key = None
    if use_sampling and should_sample(size) and key and "(" not in key:
        sampling_key = key
    if key is None:
        num = 1
    elif explicit_n:
        num = explicit_n
    else:
        num = maximize_partitions(size, max_partitions, use_sampling)
    return JdbcExtractPlan(
        query=select_statement(design, add_sampling_key=sampling_key),
        partition_column=key,
        num_partitions=num,
        boundary_query=design.extract_settings.boundary_query,
        size_bytes=table_size_bytes,
    )


def incremental_condition(watermark_column: str, last_seen) -> str:
    """WHERE fragment for a watermark (append-only / last-modified) extract.

    The classic incremental pattern the reference's full-table Sqoop
    extracts lack (Sqoop itself calls it ``--incremental append/
    lastmodified``): only rows strictly past the previously extracted
    high-water mark move.  Numeric marks are embedded as literals,
    temporal marks as an ISO timestamp literal — both sargable, so the
    upstream index on the watermark column drives the scan.
    """
    if last_seen is None:
        raise ValueError("incremental extract needs the previous high-water mark")
    # unquoted identifier, matching select_statement's column style —
    # quoting would force exact case and break on engines that fold
    # unquoted identifiers (Derby uppercases, Postgres lowercases)
    if isinstance(last_seen, (int, float)):
        return f"{watermark_column} > {last_seen}"
    lit = str(last_seen).replace("'", "''")
    import re as _re

    if _re.match(r"^\d{4}-\d{2}-\d{2}([ T]|$)", str(last_seen)):
        # SQL-standard TIMESTAMP literal — portable (Postgres/Redshift/
        # Derby/MySQL); the TIMESTAMP('...') function-call form is not
        return f"{watermark_column} > TIMESTAMP '{lit}'"
    # non-temporal string mark (e.g. a varchar business key): plain literal
    return f"{watermark_column} > '{lit}'"


def incremental_statement(design: TableDesign, watermark_column: str, last_seen) -> str:
    """The delta query: :func:`select_statement` plus the watermark predicate."""
    base = select_statement(design)
    cond = incremental_condition(watermark_column, last_seen)
    # select_statement emits "... FROM table" or "... WHERE <condition>";
    # splice the watermark predicate accordingly
    return f"{base} AND {cond}" if " WHERE " in base else f"{base} WHERE {cond}"


def plan_incremental_extract(
    design: TableDesign,
    watermark_column: str,
    last_seen,
    table_size_bytes: Optional[int] = None,
    max_partitions: int = DEFAULT_MAX_PARTITIONS,
) -> JdbcExtractPlan:
    """Extract only rows past ``last_seen`` on ``watermark_column``.

    Same partitioned read machinery as :func:`plan_extract` — the
    watermark predicate is pushed INTO the extract subquery so every
    partition reads its slice of the delta only.  Pairs with the
    merge/CDC operators (``operators/merge.py``): extract the delta,
    keep-latest/upsert it into the lake table, and record the new
    ``MAX(watermark)`` as the next run's mark.  At 100 TB upstream this
    is the difference between moving the table and moving the day.
    """
    base = plan_extract(design, table_size_bytes, max_partitions)
    return JdbcExtractPlan(
        query=incremental_statement(design, watermark_column, last_seen),
        partition_column=base.partition_column,
        num_partitions=base.num_partitions,
        boundary_query=base.boundary_query,
        size_bytes=base.size_bytes,
    )
