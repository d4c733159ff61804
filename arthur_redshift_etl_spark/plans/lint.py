"""EXPLAIN lint: warn about plan shapes that hurt at scale.

Reference parity: ``python/etl/explain.py:22-107`` — prints plans and warns
on bad Redshift distribution choices (DS_DIST_INNER / DS_BCAST_INNER /
DS_DIST_BOTH) and leader-node-only functions.  The Spark analogs:

| Redshift warning        | Spark analog                                    |
|-------------------------|-------------------------------------------------|
| DS_DIST_BOTH            | SortMergeJoin with both sides shuffled          |
| DS_BCAST_INNER (large)  | BroadcastNestedLoopJoin / CartesianProduct      |
| missing dist key        | Exchange hashpartitioning on every join input   |
| leader-only functions   | non-codegen Python UDF stages (BatchEvalPython) |
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List

from pyspark.sql import DataFrame


@dataclass
class LintWarning:
    code: str
    message: str

    def __str__(self) -> str:
        return f"[{self.code}] {self.message}"


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


# Tables whose row count scales with the fact data volume: broadcasting a
# raw (un-aggregated, un-limited) subtree over one of these works at test SF
# and OOMs the driver/executors at 100 TB.  Dimension tables (region,
# nation) and aggregate/limit-reduced subtrees are bounded by construction.
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# optimized-logical nodes that bound the rows flowing out of their subtree
_REDUCING_NODES = (
    "Aggregate",
    "GlobalLimit",
    "LocalLimit",
    "Deduplicate",
)

# PHYSICAL twins of _REDUCING_NODES: a persist() pin substitutes into the
# optimized logical plan as an InMemoryRelation LEAF, so its lineage is only
# visible as the cached physical tree (r13 multi-consumer pins made this
# reachable inside hinted broadcast subtrees — ivf_search's assign pin)
_PHYS_REDUCING_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
)


def _unwrap_cached_physical(imr_jnode):
    """The SparkPlan an InMemoryRelation caches; under AQE the stored plan
    is an AdaptiveSparkPlanExec LEAF — unwrap to its pre-execution initial
    plan (Scala package-private, public in bytecode, reachable via py4j).
    ADVICE r13: initialPlan() relies on that bytecode accident surviving
    Spark upgrades, so fall back to inputPlan()/executedPlan() rather than
    letting the whole pin go opaque on a signature change (the armed test
    in test_lint_gate still pins the initialPlan path on this version).
    When every accessor fails the last error is re-raised, so the caller
    counts the pin as opaque instead of walking the childless wrapper."""
    phys = imr_jnode.cachedPlan()
    if phys.nodeName() != "AdaptiveSparkPlan":
        return phys
    for meth in ("initialPlan", "inputPlan", "executedPlan"):
        try:
            return getattr(phys, meth)()
        except Exception as exc:  # noqa: BLE001 - try the next accessor
            last = exc
    raise last


def _fact_scans_from_path(ident: str) -> List[str]:
    """Fact tables identified by the PATH BASENAME of a file-source leaf.

    Anchored to the last path segment (with or without a ``.parquet``
    suffix) so ``/data/reorders/`` or a column list containing ``events``
    cannot false-positive a substring match.
    """
    base = ident.rstrip("/").rsplit("/", 1)[-1]
    stem = base[: -len(".parquet")] if base.endswith(".parquet") else base
    return [t for t in FACT_TABLES if stem == t]


def _jchildren(jnode):
    ch = jnode.children()
    return [ch.apply(i) for i in range(ch.size())]


def broadcast_audit(df: DataFrame) -> List[dict]:
    """One record per HINT-FORCED broadcast side in the optimized plan.

    Planner-chosen broadcasts are size-based and self-correct as the data
    grows (AQE re-decides from runtime stats), so only explicit
    ``F.broadcast(...)`` hints — which force the broadcast at ANY size —
    are audited.  ``scans``: fact tables scanned RAW inside the hinted
    subtree, i.e. with no aggregate/limit between hint and scan, so the
    broadcast is proportional to the table (filters scale too).
    ``size_bytes``: Catalyst's size estimate for the hinted subtree.
    """
    records: List[dict] = []
    # count of pinned subtrees whose cached lineage could not be read while
    # auditing the CURRENT join side (reset per side in walk()) — surfaces
    # the fail-open path ADVICE r13 flagged instead of silently skipping
    opaque_pins = [0]

    def phys_subtree(pnode) -> tuple:
        """scan_subtree twin over a cached PHYSICAL tree — without it a
        pinned aggregate loses its reduction exemption (BIG_BROADCAST
        false-fires on the join-product stat) and a pinned raw fact scan
        escapes the audit entirely."""
        name = pnode.nodeName()
        if any(name.startswith(r) for r in _PHYS_REDUCING_NODES):
            return [], True  # row-bounded below this point
        if name.startswith("InMemoryTableScan"):  # nested pin
            try:
                return phys_subtree(_unwrap_cached_physical(pnode.relation()))
            except Exception:  # noqa: BLE001 - opaque cache: no lineage
                opaque_pins[0] += 1
                return [], False
        kids = _jchildren(pnode)
        if not kids:
            try:  # file-based scan: identify the table by its root path
                ident = pnode.relation().location().rootPaths().apply(0).toString()
            except Exception:  # noqa: BLE001 - non-file leaf: skip
                return [], False
            return _fact_scans_from_path(ident), False
        found: List[str] = []
        reduced = False
        for c in kids:
            f, r = phys_subtree(c)
            found.extend(f)
            reduced = reduced or r
        return found, reduced

    def scan_subtree(node) -> tuple:
        """(raw fact scans, subtree contains a reducing node)."""
        name = node.nodeName()
        if any(name.startswith(r) for r in _REDUCING_NODES):
            return [], True  # row-bounded below this point
        if name == "InMemoryRelation":  # persist pin: walk the cached plan
            try:
                return phys_subtree(_unwrap_cached_physical(node))
            except Exception:  # noqa: BLE001 - opaque cache: no lineage
                opaque_pins[0] += 1
                return [], False
        if not _jchildren(node):  # logical leaf: relation / local table
            try:  # file-based: identify the table by its root path
                ident = node.relation().location().rootPaths().apply(0).toString()
            except Exception:  # noqa: BLE001 - LocalRelation / non-file leaf:
                # no path identity; matching the node's toString() would hit
                # column names ('events') or data echoed in literals — skip
                return [], False
            return _fact_scans_from_path(ident), False
        found: List[str] = []
        reduced = False
        for c in _jchildren(node):
            f, r = scan_subtree(c)
            found.extend(f)
            reduced = reduced or r
        return found, reduced

    def walk(node):
        if node.nodeName() == "Join":
            children = _jchildren(node)
            hint = node.hint()
            for side, idx in ((hint.leftHint(), 0), (hint.rightHint(), 1)):
                if not (side.isDefined() and side.get().strategy().isDefined()):
                    continue
                if "broadcast" not in side.get().strategy().get().toString().lower():
                    continue
                subtree = children[idx]
                raw = subtree.stats().sizeInBytes()  # scala BigInt; py4j may
                size = raw if isinstance(raw, int) else int(raw.toString())
                opaque_pins[0] = 0
                scans, reduced = scan_subtree(subtree)
                rc_opt = subtree.stats().rowCount()
                row_count = None
                if rc_opt.isDefined():
                    rc = rc_opt.get()  # scala BigInt; py4j may auto-convert
                    row_count = rc if isinstance(rc, int) else int(rc.toString())
                # decoded estimate: what the driver/executors actually hold
                # (UnsafeHashedRelation), NOT the compressed stat bytes.
                # rowCount x modeled row width when CBO stats carry a row
                # count; else stat bytes x the measured ~10x decode ratio
                # (scripts/broadcast_crossover.py) on reduction-free lineage.
                decoded = None
                try:
                    from pyspark.sql.types import _parse_datatype_json_string

                    from .broadcast import decoded_row_width

                    schema = _parse_datatype_json_string(subtree.schema().json())
                    if row_count is not None:
                        decoded = row_count * decoded_row_width(schema)
                    elif not reduced:
                        decoded = size * 10
                except Exception:  # noqa: BLE001 - estimate only, never fatal
                    pass
                records.append(
                    {
                        "scans": sorted(set(scans)),
                        "size_bytes": size,
                        "row_count": row_count,
                        "decoded_bytes_est": decoded,
                        # a reducing node makes the subtree row-bounded AND
                        # its Catalyst byte estimate meaningless (default
                        # multiplicative propagation through joins printed
                        # 850 GB for k-bounded subtrees) — size-gate only
                        # reduction-free lineage, where stats track scans
                        "size_meaningful": not reduced,
                        # ADVICE r13: a pinned subtree whose cached lineage
                        # could not be read means `scans` may UNDERCOUNT —
                        # the gate's degradation is now visible, not silent
                        "opaque_pin": opaque_pins[0] > 0,
                    }
                )
        for c in _jchildren(node):
            walk(c)

    walk(df._jdf.queryExecution().optimizedPlan())
    return records


def lint_plan(
    df: DataFrame,
    broadcast_bytes_hint: int = 256 << 20,
    decoded_budget_bytes: int = 64 << 20,
) -> List[LintWarning]:
    """Inspect the physical plan for scale hazards.

    The broadcast warnings exist because the planner's own gate tests
    Spark's COMPRESSED columnar size estimate against
    ``autoBroadcastJoinThreshold`` — measured (scripts/
    broadcast_crossover.py, SCALE.md round 7): auto-broadcast of a
    1.5M-row dim (2.0 MB parquet, ~20x that as an in-memory hashmap) is
    1.7x SLOWER than the sort-merge join it replaces, with zero network
    cost; the crossover on a 6M-row fact is ~500k dim rows.  Budget
    broadcasts on rows x decoded row width, not on stat bytes.
    """
    text = plan_text(df)
    warnings: List[LintWarning] = []

    for rec in broadcast_audit(df):
        if rec["scans"]:
            warnings.append(
                LintWarning(
                    "BCAST_RAW_FACT",
                    "broadcast subtree scans fact table(s) "
                    f"{','.join(rec['scans'])} with no aggregate/limit in "
                    "between — the broadcast grows with the data; bound it "
                    "(aggregate, limit, or a measured-size gate) or shuffle",
                )
            )
        if rec["size_meaningful"] and rec["size_bytes"] > broadcast_bytes_hint:
            warnings.append(
                LintWarning(
                    "BIG_BROADCAST",
                    f"broadcast subtree estimated at {rec['size_bytes']} "
                    f"bytes (> {broadcast_bytes_hint}) — driver materializes "
                    "every broadcast; prefer a shuffle join at this size",
                )
            )
        decoded = rec.get("decoded_bytes_est")
        # a CBO rowCount makes the decoded estimate trustworthy even under
        # a reducing node (the reduction argument only invalidates Catalyst
        # BYTE propagation); the stat-bytes x10 fallback is what needs the
        # reduction-free gate
        decoded_trustworthy = rec["row_count"] is not None or rec["size_meaningful"]
        if (
            decoded_trustworthy
            and decoded is not None
            and decoded > decoded_budget_bytes
        ):
            warnings.append(
                LintWarning(
                    "BIG_DECODED_BROADCAST",
                    f"hinted broadcast's DECODED estimate {decoded} B "
                    f"(> {decoded_budget_bytes}) — the measured crossover "
                    "(~500k rows / 20 MiB decoded, SCALE.md r7) says this "
                    "side joins faster shuffled; route the hint through "
                    "plans.broadcast.broadcast_within_budget",
                )
            )

    if "CartesianProduct" in text:
        warnings.append(
            LintWarning(
                "CARTESIAN",
                "cartesian product in plan — unbounded pair blowup at scale; "
                "add a join condition or block the join",
            )
        )
    if "BroadcastNestedLoopJoin" in text:
        warnings.append(
            LintWarning(
                "NL_JOIN",
                "broadcast nested-loop join — non-equi join semantics; verify "
                "the broadcast side stays small at production scale",
            )
        )
    n_smj = text.count("SortMergeJoin")
    if n_smj:
        warnings.append(
            LintWarning(
                "SMJ",
                f"{n_smj} sort-merge join(s) — fine for fact-fact joins, but "
                "broadcast any dimension side (AQE converts when stats allow)",
            )
        )
    n_exchange = len(re.findall(r"Exchange hashpartitioning", text))
    if n_exchange >= 4:
        warnings.append(
            LintWarning(
                "SHUFFLES",
                f"{n_exchange} hash exchanges — consider pre-partitioning/"
                "bucketing inputs on the dominant join key to reuse one shuffle",
            )
        )
    if "BatchEvalPython" in text:
        warnings.append(
            LintWarning(
                "PY_UDF",
                "row-at-a-time Python UDF in plan — rewrite with built-ins or "
                "an Arrow-batched pandas UDF (10-100x)",
            )
        )
    if (
        "InMemoryTableScan" not in text
        and "WholeStageCodegen" not in text
        # pre-execution AQE plans don't show codegen spans yet
        and "AdaptiveSparkPlan" not in text
    ):
        warnings.append(
            LintWarning("NO_CODEGEN", "no whole-stage codegen spans in plan")
        )
    return warnings


def scan_pushdown_report(df: DataFrame) -> List[str]:
    """PushedFilters/ReadSchema lines — verify pruning reached the scan."""
    text = plan_text(df)
    return [
        line.strip()
        for line in text.splitlines()
        if "PushedFilters" in line or "ReadSchema" in line
    ]
