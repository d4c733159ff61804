"""Static float-parity lint over the catalog source.

The oracle gate hashes VALUES, so any aggregate whose result depends on
accumulation order (a raw-double SUM/AVG) is a latent hash mismatch even
when both engines are "correct" — partial-sum order differs between Spark
tasks and DuckDB threads, and between runs.  The catalog convention is to
cast to an exact type (decimal/int) INSIDE the aggregate (the ``dec()``
helper) and move to float only after the order-free sum.  Round 9's one
red driver row (``duckdb_source_orders_by_status``) slipped a raw-double
SUM past review; this lint makes the convention a gate.

Scope: every ``F.sum``/``F.avg``/``F.mean``/``F.sum_distinct`` call in
the catalog package (every ``.py`` file under ``workload/``) whose argument
references a known floating-point source column must contain a
``.cast(...)`` or ``dec(...)`` in the argument subtree.  Window/grouped
contexts are included (the hazard is the same).
"""

import ast
import glob
import os

WORKLOAD_DIR = os.path.join(
    os.path.dirname(__file__), "..", "arthur_redshift_etl_spark", "workload"
)

# Floating-point columns of the test tables (parquet physical DOUBLE/FLOAT).
DOUBLE_COLUMNS = frozenset(
    {
        "o_totalprice",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "value",  # events.value
        "element",  # embeddings vector elements
        "p_retailprice",
        "c_acctbal",
        "s_acctbal",
    }
)

ORDER_SENSITIVE_AGGS = frozenset({"sum", "avg", "mean", "sum_distinct"})

# name -> reason; entries allowed to aggregate raw doubles (none today —
# additions need a comment explaining why order-dependence is acceptable,
# e.g. a tolerance-gated non-oracle metric).
ALLOWED = {}


def _columns_referenced(node):
    cols = set()
    for n in ast.walk(node):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "col"
            and n.args
            and isinstance(n.args[0], ast.Constant)
        ):
            cols.add(n.args[0].value)
        # bare-string column args: F.sum("o_totalprice")
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            cols.add(n.value)
    return cols


def _has_exact_cast(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            if isinstance(n.func, ast.Attribute) and n.func.attr == "cast":
                return True
            if isinstance(n.func, ast.Name) and n.func.id == "dec":
                return True
    return False


def _aggregate_calls(tree):
    """Every F.sum/F.avg/F.mean/F.sum_distinct call with an argument."""
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ORDER_SENSITIVE_AGGS
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and n.args
        ):
            yield n


def test_no_order_dependent_double_aggregates():
    paths = sorted(glob.glob(os.path.join(WORKLOAD_DIR, "*.py")))
    # a wrong directory would otherwise pass without checking anything
    assert paths, f"no catalog module under {WORKLOAD_DIR}"

    offenders = []
    call_sites = 0
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        # map line -> enclosing top-level function name for the allowlist
        func_of_line = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for ln in range(node.lineno, (node.end_lineno or node.lineno) + 1):
                    func_of_line[ln] = node.name

        for n in _aggregate_calls(tree):
            call_sites += 1
            arg = n.args[0]
            touched = _columns_referenced(arg) & DOUBLE_COLUMNS
            if not touched or _has_exact_cast(arg):
                continue
            fn = func_of_line.get(n.lineno, "?")
            if fn in ALLOWED:
                continue
            offenders.append(
                f"{os.path.basename(path)}:{n.lineno} ({fn}): F.{n.func.attr} "
                f"over raw double column(s) {sorted(touched)} — cast to "
                f"decimal/int inside the aggregate (dec() helper) for "
                f"order-free parity"
            )
    assert call_sites, f"no F.sum/F.avg call site in {len(paths)} modules"
    assert not offenders, "\n".join(offenders)


def _sum_args(sql: str):
    """Yield the argument substring of every SUM( / AVG( in a SQL string
    (paren-matched, case-insensitive)."""
    import re

    for m in re.finditer(r"\b(SUM|AVG)\s*\(", sql, re.IGNORECASE):
        depth = 1
        i = m.end()
        start = i
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        yield sql[start : i - 1]


def test_no_order_dependent_double_aggregates_in_oracles():
    """The SQL oracle side of the same gate: a SUM/AVG whose argument
    references a known double source column must carry a CAST inside the
    aggregate — DuckDB's accumulation order differs from Spark's, so a
    raw-double sum hash-diverges even when both engines are 'right'
    (the r9 red row's oracle had exactly this shape)."""
    import re

    from arthur_redshift_etl_spark.workload import REGISTRY

    offenders = []
    for name in sorted(REGISTRY):
        sql = REGISTRY[name].oracle
        if not sql:
            continue
        for arg in _sum_args(sql):
            # a double column used only inside a WHEN <cond> THEN predicate
            # gates which rows contribute — the summed VALUE is the THEN
            # branch, so strip conditions before checking
            value_part = re.sub(
                r"\bWHEN\b.*?\bTHEN\b", "WHEN THEN", arg,
                flags=re.IGNORECASE | re.DOTALL,
            )
            touched = {
                c
                for c in DOUBLE_COLUMNS
                if re.search(rf"\b{re.escape(c)}\b", value_part)
            }
            if not touched:
                continue
            if re.search(r"\bCAST\s*\(", value_part, re.IGNORECASE):
                continue
            if name in ALLOWED:
                continue
            offenders.append(
                f"{name}: oracle SUM/AVG over raw double column(s) "
                f"{sorted(touched)} — CAST to an exact type inside the "
                f"aggregate: SUM({arg[:60]}...)"
            )
    assert not offenders, "\n".join(offenders)
