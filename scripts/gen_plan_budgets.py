#!/usr/bin/env python3
"""Generate plans/exchange_budgets.json — the per-entry shuffle-count budget
that tests/test_plan_budgets.py gates in CI (VERDICT r12 #7: the 33-exchange
simhash_recall_eval drift sat unnoticed for rounds because nothing failed).

Run AFTER any plan-shape change lands:
    python scripts/gen_plan_budgets.py
then review the diff of plans/exchange_budgets.json like code — a raised
number needs a reasoned note in the commit.

The count is shuffle Exchange nodes only (BroadcastExchange excluded —
broadcast is the cheap side of the trade).  sf0.001, local[8]/8 shuffle
partitions, same session shape as the test so the numbers are reproducible.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arthur_redshift_etl_spark.plans.lint import plan_text  # noqa: E402
from arthur_redshift_etl_spark.session import build_session  # noqa: E402
from arthur_redshift_etl_spark.workload import REGISTRY  # noqa: E402

SF = "/root/testdata/sf0.001"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "exchange_budgets.json",
)


def count_exchanges(plan: str) -> int:
    # "(n) Exchange" detail lines — shuffle exchanges only; the substring
    # cannot match "(n) BroadcastExchange"
    return plan.count(") Exchange")


def merge_budgets(existing: dict, registry, subset) -> dict:
    """The budgets a subset run starts from: ``existing`` without the
    entries no longer in ``registry`` (a renamed or removed entry must not
    survive the merge; test_budget_file_covers_registry rejects the file
    otherwise).  A subset name not in ``registry`` is an error."""
    unknown = sorted(set(subset) - set(registry))
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    return {name: n for name, n in existing.items() if name in registry}


def main() -> None:
    # optional argv subset: re-plan only the named entries and merge into
    # the existing file (for a round that touched a handful of plans; the
    # full sweep remains the default and the CI -m full path re-verifies)
    subset = sys.argv[1:]
    budgets = {}
    if subset:
        existing = {}
        if os.path.exists(OUT):
            with open(OUT) as fh:
                existing = json.load(fh)
        budgets = merge_budgets(existing, REGISTRY, subset)
        stale = sorted(set(existing) - set(budgets))
        if stale:
            print(f"dropped budgets no longer in REGISTRY: {stale}")
    spark = build_session(
        app_name="gen-plan-budgets",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in subset or sorted(REGISTRY):
        budgets[name] = count_exchanges(plan_text(REGISTRY[name].fn(spark, SF)))
        spark.catalog.clearCache()
    with open(OUT, "w") as fh:
        json.dump(budgets, fh, indent=0, sort_keys=True)
        fh.write("\n")
    hist = {}
    for v in budgets.values():
        hist[v] = hist.get(v, 0) + 1
    print(f"wrote {OUT}: {len(budgets)} entries; histogram {dict(sorted(hist.items()))}")
    spark.stop()


if __name__ == "__main__":
    main()
