"""Bootstrap: infer table designs from observed data and queries.

Reference parity: ``python/etl/design/bootstrap.py`` — source designs from
upstream catalog introspection (:85-205) and transformation designs from a
temporary view round-trip (:616-640, :801-893).  Spark needs no warehouse
round-trip: ``spark.sql(query).schema`` gives the columns and the parsed
plan gives the dependencies (SURVEY §3.3 note).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .design import ColumnDefinition, TableDesign
from .functions.compat import rewrite_redshift_sql
from .plans.deps import query_dependencies


def bootstrap_source_design(
    df: DataFrame, name: str, source_name: str, primary_key: Optional[List[str]] = None
) -> TableDesign:
    """Design document for a source relation from its observed schema."""
    design = TableDesign.from_spark_schema(name, source_name, df.schema)
    if primary_key:
        design.constraints.append({"primary_key": list(primary_key)})
    return design


def bootstrap_transformation_design(
    spark: SparkSession, name: str, query: str, as_view: bool = False
) -> TableDesign:
    """Design for a CTAS/VIEW: columns from the analyzed query schema,
    depends_on from the parsed plan."""
    compat_query = rewrite_redshift_sql(query)
    schema = spark.sql(compat_query).limit(0).schema
    if as_view:
        design = TableDesign(
            name=name,
            source_name="VIEW",
            # views carry only column names (design/load.py:161-179)
            columns=[ColumnDefinition(f.name) for f in schema.fields],
        )
    else:
        design = TableDesign.from_spark_schema(name, "CTAS", schema)
    design.depends_on = query_dependencies(spark, compat_query)
    return design


def discover_sources(
    spark: SparkSession,
    database: str,
    include: Optional[List[str]] = None,
    exclude: Optional[List[str]] = None,
) -> List[str]:
    """List candidate source tables in a catalog database, glob-filtered.

    Reference parity: ``design/bootstrap.py:27-82`` walks ``pg_class`` with
    include/exclude patterns; here the Spark catalog plays that role (for
    JDBC sources the same globs apply to ``information_schema`` listings).
    """
    import fnmatch

    names = [
        t.name
        for t in spark.catalog.listTables(database)
        # session temp views appear in every database listing — not sources
        if getattr(t, "tableType", "") != "TEMPORARY" and not t.isTemporary
    ]
    if include:
        names = [
            n for n in names if any(fnmatch.fnmatchcase(n, p.lower()) for p in include)
        ]
    if exclude:
        names = [
            n
            for n in names
            if not any(fnmatch.fnmatchcase(n, p.lower()) for p in exclude)
        ]
    return sorted(names)
