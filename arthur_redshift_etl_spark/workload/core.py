"""The catalog's core: the entry registry, ``@query``, the table resolver
``t()`` and the exact-arithmetic helpers that every family shares.
"""

from __future__ import annotations

import os
import weakref
from dataclasses import dataclass
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str = ""


REGISTRY: Dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None, description: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, description)
        return fn

    return deco


# Oracle parity assumes UTC timestamps and permissive (Redshift-style)
# casts, and events.parquet carries TIMESTAMP(NANOS), which Spark's reader
# rejects unless nanos are read as long.  t() enforces all three on its first
# call for each session, so the driver contract's sessions (not built by
# build_session) get them too, and no read mid-pass changes the schema key.
_T_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.ansi.enabled", "false"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)
# session -> {(path, st_mtime_ns, st_size, nanosAsLong): inferred schema}.
# spark.read.parquet runs one inference job per call, even for one file; a
# read with the schema supplied runs none.  Schemas only, never DataFrames.
_T_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, Dict[tuple, StructType]]" = (
    weakref.WeakKeyDictionary()
)


def _read_parquet(spark: SparkSession, schemas: dict, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size,
           spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"))
    schema = schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = df.schema
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    schemas = _T_SCHEMAS.get(spark)
    if schemas is None:
        for k, v in _T_CONF:
            spark.conf.set(k, v)
        schemas = _T_SCHEMAS[spark] = {}
    df = _read_parquet(spark, schemas, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # nanos were read as long: truncate to microseconds (same truncation
        # DuckDB applies)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long")).cast("timestamp_ntz")
            )
        return df
    if name in ("documents", "embeddings"):
        # single small parquet file → one input split; the downstream
        # explode/cross pipelines are CPU-bound, so spread them across cores.
        # Input-file count (catalog metadata, no RDD materialization — the
        # .rdd conversion would build the whole Python-serialization lineage
        # just to read a number) is the right scan-width proxy here: these
        # tables are written as one-file-per-table, so files < cores means
        # the scan cannot fill the machine.
        target = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < target:
            df = df.repartition(target)
    return df


# ---- exact-arithmetic helpers (see the package docstring) ------------------

def dec(col: str, p: int = 12, s: int = 2):
    return F.col(col).cast(f"decimal({p},{s})")


def ONE():
    return F.lit(1).cast("decimal(3,2)")


def disc_price():
    return dec("l_extendedprice") * (ONE() - dec("l_discount", 3, 2))


def sum_money(col_expr, alias: str):
    return F.sum(col_expr).cast("double").alias(alias)


# SQL-side equivalents
_DP = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)
_CHARGE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "((CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * "
    "(CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))"
)


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracles() -> Dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
