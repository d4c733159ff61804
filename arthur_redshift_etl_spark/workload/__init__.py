"""The engine's query catalog: Spark implementations + DuckDB oracle SQL.

Each entry is one operator/query from SURVEY §2 (or a scale-pipeline operator
from the north star: dedup / similarity / text analysis), implemented twice:

- ``fn(spark, sf_dir) -> DataFrame`` — the idiomatic Spark implementation;
- ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet tables.

Float-parity convention: money/measure columns are 2-dp doubles in the data,
so aggregates CAST to DECIMAL first (exact arithmetic in both engines), then
CAST the final result to DOUBLE — bit-identical across engines regardless of
summation order.  Ratios divide already-exact doubles.  Ranks/top-k order by
the exact measure with an id tiebreaker so ordering is engine-independent.

The entries live in one module per family, in catalog order.  Importing this
package registers them all, and ``list(REGISTRY)`` is that order.
"""

from .core import QuerySpec, REGISTRY, oracles, queries, query, t  # noqa: F401

from . import (  # noqa: F401  (import order is registry order)
    relational,
    pipeline,
    tpch_extended,
    timeseries,
    dialect,
    tpch_remaining,
    training,
    analytics,
    corpus,
    pii_quant,
    lm_quality,
    stats,
    recall_sources,
    pq,
    cluster_eval,
    estimation,
)
