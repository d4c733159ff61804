"""DDL rendering from table designs (Spark SQL dialect).

Reference parity: ``python/etl/dialect/redshift.py:28-215`` — CREATE TABLE
with columns, NOT NULL, IDENTITY, PK/UNIQUE annotations, DISTSTYLE/SORTKEY;
CREATE VIEW.  Spark has no enforced constraints or dist/sort DDL, so those
render as comments/TBLPROPERTIES — informational, like Redshift's own
unenforced constraints — while the loader applies the physical analogs
(repartition + sortWithinPartitions, SURVEY §2.2).
"""

from __future__ import annotations

from typing import List

from .design import TableDesign


def _spark_sql_type(col) -> str:
    dt = col.spark_type()
    return dt.simpleString().upper()


def render_create_table(design: TableDesign, db: str = "") -> str:
    name = design.name if not db else f"{db}.{design.name.split('.', 1)[1]}"
    lines: List[str] = []
    for c in design.unskipped_columns:
        parts = [f"  {c.name} {_spark_sql_type(c)}"]
        if c.not_null:
            parts.append("NOT NULL")
        if c.identity:
            parts.append("/* IDENTITY(1,1) */")
        lines.append(" ".join(parts))
    body = ",\n".join(lines)
    props: List[str] = []
    for ctype, cols in design.constraint_items():
        props.append(f"'constraint.{ctype}' = '{','.join(cols)}'")
    dist = design.attributes.get("distribution")
    if dist:
        val = dist if isinstance(dist, str) else ",".join(dist)
        props.append(f"'distribution' = '{val}'")
    sort = design.attributes.get("compound_sort") or design.attributes.get(
        "interleaved_sort"
    )
    if sort:
        props.append(f"'sort_keys' = '{','.join(sort)}'")
    ddl = f"CREATE TABLE {name} (\n{body}\n) USING parquet"
    if props:
        ddl += "\nTBLPROPERTIES (" + ", ".join(props) + ")"
    return ddl


def render_create_view(design: TableDesign, query: str) -> str:
    cols = ", ".join(c.name for c in design.unskipped_columns)
    return f"CREATE OR REPLACE VIEW {design.name} ({cols}) AS\n{query.strip().rstrip(';')}"


def render_ddl(design: TableDesign, query: str = "") -> str:
    if design.kind == "VIEW":
        return render_create_view(design, query or "/* missing query */")
    return render_create_table(design)
