"""Design validation against live queries: the transform dry-run.

Reference parity: ``python/etl/validate.py``:
- dry-run a transformation, diff actual vs declared columns (:124-239,
  difflib-based minimal-edit hints :242-263);
- actual vs declared dependency diff (via the logical plan here, instead of
  ``pg_depend``);
- ``WHERE FALSE`` permission/syntax probe (:327-336) → ``.limit(0)`` run.
"""

from __future__ import annotations

import difflib
import logging
from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import SparkSession

from .functions.compat import rewrite_redshift_sql
from .plans.deps import query_dependencies
from .relations import Relation

logger = logging.getLogger(__name__)


@dataclass
class ValidationIssue:
    relation: str
    kind: str  # column_mismatch | dependency_mismatch | query_error | upstream_*
    message: str
    severity: str = "error"  # error | warning

    def __str__(self) -> str:
        return f"{self.relation}: [{self.kind}:{self.severity}] {self.message}"


def diff_column_lists(declared: Sequence[str], actual: Sequence[str]) -> Optional[str]:
    """Human-readable minimal diff (reference validate.py:242-263)."""
    if list(declared) == list(actual):
        return None
    diff = difflib.ndiff(list(declared), list(actual))
    changes = [d for d in diff if d[:1] in "+-"]
    return "; ".join(changes)


def validate_transformation(
    spark: SparkSession, rel: Relation, check_dependencies: bool = True
) -> List[ValidationIssue]:
    """Dry-run one CTAS/VIEW: schema diff + dependency diff, no execution."""
    issues: List[ValidationIssue] = []
    query = rewrite_redshift_sql(rel.sql())
    try:
        df = spark.sql(query).limit(0)
    except Exception as exc:
        issues.append(ValidationIssue(rel.identifier, "query_error", str(exc).split("\n")[0]))
        return issues

    declared = rel.design.column_names
    actual = [f.name for f in df.schema.fields]
    if rel.design.identity_column is not None:
        declared = [c for c in declared if c != rel.design.identity_column.name]
    delta = diff_column_lists(declared, actual)
    if delta:
        issues.append(ValidationIssue(rel.identifier, "column_mismatch", delta))

    if check_dependencies:
        actual_deps = set(query_dependencies(spark, query))
        declared_deps = {d.lower() for d in rel.design.depends_on}
        missing = actual_deps - declared_deps
        extra = declared_deps - actual_deps
        if missing:
            issues.append(
                ValidationIssue(
                    rel.identifier,
                    "dependency_mismatch",
                    f"query reads undeclared relation(s): {sorted(missing)}",
                )
            )
        if extra:
            issues.append(
                ValidationIssue(
                    rel.identifier,
                    "dependency_mismatch",
                    f"declared but unused dependency(ies): {sorted(extra)}",
                )
            )
    return issues


def validate_relations(
    spark: SparkSession, relations: Sequence[Relation]
) -> List[ValidationIssue]:
    issues: List[ValidationIssue] = []
    for rel in relations:
        if rel.is_transformation:
            issues.extend(validate_transformation(spark, rel))
    return issues


# ---------------------------------------------------------------------------
# Upstream (source-database) validation — reference validate.py:339-470
# ---------------------------------------------------------------------------


def validate_upstream_columns(design, info) -> List[ValidationIssue]:
    """Compare upstream columns to the table design file.

    Reference ``validate_upstream_columns`` (validate.py:339-403):
    - ERROR if the design lists non-skipped columns that do not exist
      upstream (calculated ``etl__`` columns exempt);
    - WARNING for skipped design columns missing upstream, and for upstream
      columns the design does not mention;
    - ERROR if a design ``not_null`` is not enforced upstream.
    """
    issues: List[ValidationIssue] = []
    rel = design.name
    current = frozenset(info.column_names)
    design_cols = frozenset(
        c.name for c in design.columns if not c.name.startswith("etl__")
    )
    required = frozenset(
        c.name for c in design.columns
        if c.name in design_cols and not c.skipped
    )

    missing_required = required - current
    if missing_required:
        issues.append(
            ValidationIssue(
                rel,
                "upstream_missing_column",
                f"design has column(s) that do not exist upstream: "
                f"{sorted(missing_required)}",
            )
        )
    extra_design = design_cols - current - missing_required
    if extra_design:
        issues.append(
            ValidationIssue(
                rel,
                "upstream_missing_column",
                f"skipped design column(s) missing upstream: {sorted(extra_design)}",
                severity="warning",
            )
        )
    undesigned = current - design_cols
    if undesigned:
        issues.append(
            ValidationIssue(
                rel,
                "upstream_extra_column",
                f"column(s) exist upstream but not in design: {sorted(undesigned)}",
                severity="warning",
            )
        )

    upstream_not_null = info.not_null_columns
    for c in design.columns:
        if c.not_null and c.name in current and c.name not in upstream_not_null:
            issues.append(
                ValidationIssue(
                    rel,
                    "upstream_nullability",
                    f"not_null constraint of column '{c.name}' not enforced upstream",
                )
            )
    return issues


def validate_upstream_constraints(design, info) -> List[ValidationIssue]:
    """Compare design key constraints to what the upstream DB enforces.

    Reference ``validate_upstream_constraints`` (validate.py:406-470):
    - a design ``primary_key`` must equal the upstream primary key (ERROR on
      mismatch or when upstream enforces none);
    - a design ``unique`` is satisfied by an upstream unique index OR the
      upstream primary key (PK-as-unique allowed, not vice versa);
    - upstream key constraints the design never uses are WARNINGs.
    """
    issues: List[ValidationIssue] = []
    rel = design.name
    current_pk = frozenset(info.primary_key)
    current_uniques = list(info.uniques)

    design_pk = frozenset(
        col for ctype, cols in design.constraint_items()
        if ctype == "primary_key" for col in cols
    )
    design_uniques = [
        frozenset(cols) for ctype, cols in design.constraint_items()
        if ctype == "unique"
    ]

    pk_used = False
    uniques_used = set()

    if design_pk:
        if current_pk == design_pk:
            pk_used = True
        elif current_pk:
            issues.append(
                ValidationIssue(
                    rel,
                    "upstream_constraint",
                    f"primary_key {sorted(design_pk)} does not match upstream "
                    f"{sorted(current_pk)}",
                )
            )
        else:
            issues.append(
                ValidationIssue(
                    rel,
                    "upstream_constraint",
                    f"primary_key {sorted(design_pk)} is not enforced upstream",
                )
            )

    for du in design_uniques:
        if current_pk and current_pk == du:
            pk_used = True
        elif du in current_uniques:
            uniques_used.add(du)
        else:
            issues.append(
                ValidationIssue(
                    rel,
                    "upstream_constraint",
                    f"unique constraint {sorted(du)} is not enforced upstream",
                )
            )

    if current_pk and not pk_used and design_pk != current_pk:
        issues.append(
            ValidationIssue(
                rel,
                "upstream_constraint",
                f"upstream has additional primary_key {sorted(current_pk)}",
                severity="warning",
            )
        )
    for cu in current_uniques:
        if cu not in uniques_used:
            issues.append(
                ValidationIssue(
                    rel,
                    "upstream_constraint",
                    f"upstream has additional unique constraint {sorted(cu)}",
                    severity="warning",
                )
            )
    return issues


def validate_upstream_relation(
    spark: SparkSession,
    rel: Relation,
    url: str,
    driver: Optional[str] = None,
) -> List[ValidationIssue]:
    """Validate one source relation's design against the live upstream DB.

    ``WHERE FALSE`` read-permission probe analog is the metadata fetch itself:
    a vanished table is a hard error (reference validate.py:322-336,352-356).
    """
    from .sources.metadata import fetch_upstream_info

    parts = rel.design.source_name.split(".")
    table = parts[-1]
    schema = parts[-2] if len(parts) >= 2 else None
    info = fetch_upstream_info(spark, url, table, schema=schema, driver=driver)
    if info is None or not info.columns:
        return [
            ValidationIssue(
                rel.identifier,
                "upstream_missing_table",
                f"upstream table '{rel.design.source_name}' is gone or has no columns",
            )
        ]
    return validate_upstream_columns(rel.design, info) + validate_upstream_constraints(
        rel.design, info
    )


def validate_upstream(
    spark: SparkSession,
    relations: Sequence[Relation],
    url: str,
    driver: Optional[str] = None,
) -> List[ValidationIssue]:
    """Validate every source relation against the upstream database."""
    issues: List[ValidationIssue] = []
    for rel in relations:
        if rel.is_source_relation:
            issues.extend(validate_upstream_relation(spark, rel, url, driver=driver))
    return issues
