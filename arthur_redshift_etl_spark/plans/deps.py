"""Dependency extraction from the analyzed logical plan.

Replaces the reference's two mechanisms with one (SURVEY §2.11): the
``pg_depend`` catalog walk (``design/bootstrap.py:182-205``) and the
EXPLAIN-text scraping for external tables (``bootstrap.py:208-278``).

A transformation's true dependencies are whatever relations its query
reads; Spark's analyzer resolves every table reference, so walking the
analyzed plan gives exact, dialect-independent answers.
"""

from __future__ import annotations

import re
from typing import List, Set

from pyspark.sql import SparkSession


def _collect_unresolved(plan_string: str) -> Set[str]:
    """Table identifiers from UnresolvedRelation nodes of a parsed plan.

    Single-part names matching a CTE definition are references to the CTE,
    not to catalog relations — excluded.
    """
    cte_names = set()
    for m in re.finditer(r"CTE \[([^\]]+)\]", plan_string):
        cte_names.update(p.strip().lower() for p in m.group(1).split(","))
    out: Set[str] = set()
    for m in re.finditer(r"'UnresolvedRelation \[([^\]]+)\]", plan_string):
        parts = [p.strip().strip("`") for p in m.group(1).split(",")]
        parts = [p for p in parts if p]
        if len(parts) >= 2:
            out.add(".".join(parts[-2:]).lower())
        elif parts and parts[0].lower() not in cte_names:
            out.add(parts[0].lower())
    return out


def query_dependencies(spark: SparkSession, query: str) -> List[str]:
    """Relations a SQL query reads, without executing it.

    Uses the *parsed* (unresolved) plan so it works even when the referenced
    tables don't exist yet — exactly what design validation needs.
    """
    jspark = spark._jsparkSession
    parsed = jspark.sessionState().sqlParser().parsePlan(query)
    return sorted(_collect_unresolved(parsed.toString()))
