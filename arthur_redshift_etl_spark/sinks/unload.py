"""UNLOAD: write a relation (or query result) to quoted gzip CSV + sidecars.

Reference parity: ``dialect/redshift.py:548-582`` (UNLOAD ... DELIMITER ','
ESCAPE ADDQUOTES GZIP NULL AS '\\N' MANIFEST ALLOWOVERWRITE) and the
orchestration in ``unload.py:40-169`` which also writes ``columns.yaml`` and
``_SUCCESS``; round-trip validation ``validate.py:266-324``.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame

from ..design import TableDesign
from ..errors import DataUnloadError
from ..sources.files import CSV_WRITE_OPTIONS, write_manifest


def write_columns_yaml(path: str, columns: List[str]) -> str:
    """Sidecar naming the unloaded columns (unload.py writes columns.yaml)."""
    sidecar = os.path.join(path, "columns.yaml")
    with open(sidecar, "w") as fh:
        fh.write("columns:\n")
        for c in columns:
            fh.write(f"  - {c}\n")
    return sidecar


def unload(
    df: DataFrame,
    path: str,
    allow_overwrite: bool = False,
    fmt: str = "csv",
    order_by: "list[str] | None" = None,
) -> str:
    """Write the DataFrame as quoted gzip CSV (or parquet) + manifest.

    Returns the manifest path.  Matches reference CSV conventions so a
    reloaded relation round-trips: quoteAll, backslash escape, ``\\N`` NULL
    marker, gzip.

    ``order_by`` produces globally ordered output without a single-task
    sort: rows are range-partitioned on the sort key (files own contiguous
    key ranges, in file order) and sorted within each partition — the scale
    path for Redshift ``UNLOAD ... ORDER BY``-style consumers.
    """
    if order_by:
        df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    mode = "overwrite" if allow_overwrite else "errorifexists"
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer.options(**CSV_WRITE_OPTIONS).csv(path)
    elif fmt == "parquet":
        writer.parquet(path)
    else:
        raise DataUnloadError(f"unsupported unload format: {fmt}")
    write_columns_yaml(path, list(df.columns))
    return write_manifest(path)


def validate_reload_columns(
    unload_design: TableDesign, reload_design: TableDesign
) -> None:
    """An unloaded relation's columns must exactly match the relation that
    loads it back (reference validate.py:266-324)."""
    a = unload_design.column_names
    b = reload_design.column_names
    if a != b:
        raise DataUnloadError(
            f"unload/reload column mismatch: {unload_design.name} unloads {a} "
            f"but {reload_design.name} expects {b}"
        )
