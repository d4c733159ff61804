"""Plan-exchange budget gate (VERDICT r12 #7).

``plans/exchange_budgets.json`` records each catalog entry's shuffle-Exchange
count (generated by ``scripts/gen_plan_budgets.py`` — regenerate after a
deliberate plan change and review the diff like code).  This test fails when
an entry's plan EXCEEDS its recorded budget, so an accidental plan regression
(the 33-exchange ``simhash_recall_eval`` drift of round 11) breaks CI the day
it lands instead of waiting for a manual sweep.

Entries ABSENT from the budget file (new since the last regeneration) get
``DEFAULT_CEILING`` — generous enough not to block honest new work, tight
enough to catch runaway plans.  Coming in UNDER budget is fine (that's an
improvement; regenerate to ratchet it down).
"""

from __future__ import annotations

import json
import os

import pytest

from arthur_redshift_etl_spark.plans.lint import plan_text
from arthur_redshift_etl_spark.workload import REGISTRY

from tests.conftest import SF_DIR

BUDGET_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "exchange_budgets.json",
)

DEFAULT_CEILING = 10

with open(BUDGET_FILE) as _fh:
    BUDGETS = json.load(_fh)


def _count_exchanges(plan: str) -> int:
    # "(n) Exchange" detail lines only — BroadcastExchange is excluded
    return plan.count(") Exchange")


def test_budget_file_covers_registry():
    missing = sorted(set(BUDGETS) - set(REGISTRY))
    assert not missing, (
        f"budget file lists entries no longer in the registry: {missing} — "
        "regenerate with scripts/gen_plan_budgets.py"
    )


def test_subset_merge_drops_entries_missing_from_the_registry():
    from scripts.gen_plan_budgets import merge_budgets

    existing = {"kept": 3, "renamed_away": 7, "also_kept": 1}
    registry = {"kept": None, "also_kept": None, "new_entry": None}
    assert merge_budgets(existing, registry, ["kept", "new_entry"]) == {
        "kept": 3,
        "also_kept": 1,
    }
    assert existing == {"kept": 3, "renamed_away": 7, "also_kept": 1}


def test_subset_merge_rejects_unknown_names():
    from scripts.gen_plan_budgets import merge_budgets

    with pytest.raises(SystemExit, match=r"unknown entries: \['nope'\]"):
        merge_budgets({"kept": 3}, {"kept": None}, ["kept", "nope"])


def _smoke(names):
    """Default-path subset (VERDICT r13 #1; same scheme as the oracle
    sweep): every 5th sorted entry, plus the high-exchange tail (budget
    >= 10 — the entries whose plans have historically drifted) and the
    bench DEFAULT_QUERIES.  The full 245-plan sweep runs with -m full."""
    import bench

    keep = {n for i, n in enumerate(names) if i % 5 == 0}
    keep.update(n for n in bench.DEFAULT_QUERIES if n in names)
    keep.update(n for n in names if BUDGETS.get(n, 0) >= 10)
    return keep


_SMOKE = _smoke(sorted(REGISTRY))


@pytest.mark.parametrize(
    "name",
    [
        n if n in _SMOKE else pytest.param(n, marks=pytest.mark.full)
        for n in sorted(REGISTRY)
    ],
)
def test_entry_within_exchange_budget(spark, name):
    budget = BUDGETS.get(name, DEFAULT_CEILING)
    n = _count_exchanges(plan_text(REGISTRY[name].fn(spark, SF_DIR)))
    spark.catalog.clearCache()
    assert n <= budget, (
        f"{name}: plan has {n} shuffle exchanges, budget is {budget}.  "
        "If this regression is intentional, regenerate "
        "plans/exchange_budgets.json (scripts/gen_plan_budgets.py) and "
        "justify the raise in the commit message."
    )
