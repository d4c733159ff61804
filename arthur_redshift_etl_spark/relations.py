"""Relations and the dependency DAG — the engine's "query planner".

Reference parity: ``python/etl/relation.py``:
- RelationDescription (:49-498) → :class:`Relation`;
- dependency sanitation (:518-565);
- priority-queue topological sort with execution levels (:568-646);
- required-set propagation (:649-686);
- downstream closure / immediate-view closure (:693-730);
- selection in execution order with --continue-from (:733-814).

All pure Python; Spark appears only at materialization time (loader.py).
"""

from __future__ import annotations

import heapq
import logging
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Set

from .design import TableDesign
from .errors import CyclicDependencyError, MissingQueryError
from .names import TableName, TableSelector

logger = logging.getLogger(__name__)

# Sentinel dependency meaning "depends on the engine catalog itself" →
# build-last semantics (reference: relation.py:560-565 for pg_catalog).
CATALOG_SENTINEL_SCHEMAS = ("pg_catalog", "information_schema", "engine_catalog")


@dataclass
class Relation:
    """A relation: table design + optional SQL query + optional data location."""

    design: TableDesign
    query: Optional[str] = None
    data_location: Optional[str] = None  # path for SOURCE relations
    data_format: str = "parquet"

    # set by the DAG sorter
    execution_order: Optional[int] = None
    execution_level: Optional[int] = None
    is_required: bool = False

    # runtime flags (loader)
    skip_copy: bool = False
    failed: bool = False

    def __post_init__(self) -> None:
        self.table_name = TableName.from_identifier(self.design.name)

    @property
    def identifier(self) -> str:
        return self.table_name.identifier

    @property
    def kind(self) -> str:
        return self.design.kind

    @property
    def is_ctas_relation(self) -> bool:
        return self.kind == "CTAS"

    @property
    def is_view_relation(self) -> bool:
        return self.kind == "VIEW"

    @property
    def is_source_relation(self) -> bool:
        return self.kind == "TABLE"

    @property
    def is_external_relation(self) -> bool:
        """Spectrum-analog: attached at its location, never copied."""
        return self.kind == "EXTERNAL"

    @property
    def is_transformation(self) -> bool:
        return self.kind in ("CTAS", "VIEW")

    @property
    def dependencies(self) -> List[str]:
        return [d.lower() for d in self.design.depends_on]

    def sql(self) -> str:
        if self.query is None:
            raise MissingQueryError(f"{self.identifier} has no query")
        return self.query.strip().rstrip(";")

    def __repr__(self) -> str:
        return f"Relation({self.identifier!r}, kind={self.kind})"


def _is_catalog_dependency(identifier: str) -> bool:
    schema = identifier.split(".", 1)[0]
    return schema in CATALOG_SENTINEL_SCHEMAS


def sanitize_dependencies(relations: Sequence[Relation]) -> None:
    """Drop unknown deps with a warning; catalog deps → depend on everything.

    Reference: relation.py:518-565.  Mutates ``design.depends_on`` in place.
    """
    known = {r.identifier for r in relations}
    for rel in relations:
        deps = rel.dependencies
        if any(_is_catalog_dependency(d) for d in deps):
            # build-last: depend on every other relation
            others = sorted(known - {rel.identifier})
            logger.warning(
                "%s depends on the engine catalog; scheduling it last", rel.identifier
            )
            rel.design.depends_on = others
            continue
        unknown = [d for d in deps if d not in known]
        if unknown:
            logger.warning(
                "%s has unmanaged/unknown dependencies (dropped): %s",
                rel.identifier,
                ", ".join(unknown),
            )
        rel.design.depends_on = [d for d in deps if d in known]


def order_by_dependencies(relations: Sequence[Relation]) -> List[Relation]:
    """Topological sort assigning execution_order and execution_level.

    Priority-queue Kahn variant (reference: relation.py:568-646): ties broken
    by input order so the result is deterministic; ``execution_level`` is
    1 + max(level of dependencies) — relations sharing a level can build in
    parallel.  Raises :class:`CyclicDependencyError` on cycles.
    """
    by_name: Dict[str, Relation] = {r.identifier: r for r in relations}
    input_pos = {r.identifier: i for i, r in enumerate(relations)}
    n = len(relations)

    in_deg: Dict[str, int] = {}
    dependents: Dict[str, List[str]] = {name: [] for name in by_name}
    for rel in relations:
        deps = [d for d in rel.dependencies if d in by_name]
        in_deg[rel.identifier] = len(deps)
        for d in deps:
            dependents[d].append(rel.identifier)

    heap = [input_pos[name] for name, deg in in_deg.items() if deg == 0]
    heapq.heapify(heap)
    pos_to_name = {i: r.identifier for i, r in enumerate(relations)}

    ordered: List[Relation] = []
    levels: Dict[str, int] = {}
    order = 0
    while heap:
        pos = heapq.heappop(heap)
        name = pos_to_name[pos]
        rel = by_name[name]
        order += 1
        rel.execution_order = order
        dep_levels = [levels[d] for d in rel.dependencies if d in levels]
        rel.execution_level = 1 + max(dep_levels, default=0)
        levels[name] = rel.execution_level
        ordered.append(rel)
        for child in dependents[name]:
            in_deg[child] -= 1
            if in_deg[child] == 0:
                heapq.heappush(heap, input_pos[child])

    if len(ordered) != n:
        stuck = sorted(name for name, deg in in_deg.items() if deg > 0)
        raise CyclicDependencyError(f"cyclic dependency among: {', '.join(stuck)}")
    return ordered


def propagate_required(
    relations: Sequence[Relation], required_selector: TableSelector
) -> None:
    """Mark every relation feeding a required relation as required.

    Reverse-execution-order sweep (reference: relation.py:649-686);
    ``relations`` must already be in execution order.
    """
    required: Set[str] = set()
    for rel in reversed(list(relations)):
        if required_selector.match(rel.table_name) or rel.identifier in required:
            rel.is_required = True
            required.update(rel.dependencies)
        else:
            rel.is_required = False


def find_dependents(
    relations: Sequence[Relation], seeds: Iterable[Relation]
) -> List[Relation]:
    """Transitive downstream closure, in execution order.

    Reference: relation.py:693-707.
    """
    seed_names = {r.identifier for r in seeds}
    closure: Set[str] = set(seed_names)
    out: List[Relation] = []
    for rel in relations:  # already in execution order
        if rel.identifier in seed_names:
            continue
        if any(d in closure for d in rel.dependencies):
            closure.add(rel.identifier)
            out.append(rel)
    return out


def find_immediate_dependencies(
    relations: Sequence[Relation], selected: Iterable[Relation]
) -> List[Relation]:
    """Views chained directly off selected relations (reference: :710-730).

    A view reading a selected relation is dropped by CASCADE semantics, so it
    must be rebuilt with the selection.
    """
    selected_names = {r.identifier for r in selected}
    grabbed: Set[str] = set(selected_names)
    out: List[Relation] = []
    for rel in relations:
        if rel.identifier in selected_names:
            continue
        if rel.is_view_relation and any(d in grabbed for d in rel.dependencies):
            grabbed.add(rel.identifier)
            out.append(rel)
    return out


def select_in_execution_order(
    relations: Sequence[Relation],
    selector: TableSelector,
    include_dependents: bool = False,
    include_immediate_views: bool = False,
    continue_from: Optional[str] = None,
) -> List[Relation]:
    """Glob-select + optional closures + --continue-from fast-forward.

    Reference: relation.py:733-814.  ``continue_from`` accepts a relation
    identifier, ``:transformations`` (start at the first transformation), or a
    schema name.
    """
    ordered = order_by_dependencies(list(relations))
    selected = [r for r in ordered if selector.match(r.table_name)]
    extra: List[Relation] = []
    if include_dependents:
        extra = find_dependents(ordered, selected)
    elif include_immediate_views:
        extra = find_immediate_dependencies(ordered, selected)
    chosen = {r.identifier for r in selected} | {r.identifier for r in extra}
    result = [r for r in ordered if r.identifier in chosen]
    if continue_from:
        if continue_from == ":transformations":
            idx = next(
                (i for i, r in enumerate(result) if r.is_transformation), len(result)
            )
            result = result[idx:]
        elif "." in continue_from:
            idx = next(
                (i for i, r in enumerate(result) if r.identifier == continue_from.lower()),
                None,
            )
            if idx is None:
                raise ValueError(f"--continue-from relation not in selection: {continue_from}")
            result = result[idx:]
        else:
            schema = continue_from.lower()
            idx = next(
                (i for i, r in enumerate(result) if r.table_name.schema == schema),
                None,
            )
            if idx is None:
                raise ValueError(f"--continue-from schema not in selection: {continue_from}")
            result = result[idx:]
    return result


def mark_failure(relations: Sequence[Relation], failed: Relation) -> List[str]:
    """Set skip_copy on all dependents of a failed relation.

    Reference: load.py:202-219 — dependents are still created, but empty.
    Returns the identifiers of the skipped dependents.
    """
    failed.failed = True
    dependents = find_dependents(relations, [failed])
    for rel in dependents:
        rel.skip_copy = True
    return [r.identifier for r in dependents]
