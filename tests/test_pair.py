"""The pairing tool's verdicts and result parsing, on canned runs (no Spark)."""

import importlib.util
import json
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "pair", os.path.join(os.path.dirname(__file__), "..", "scripts", "pair.py")
)
pair = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pair)

BASE = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.0]


def line(**metrics):
    return json.dumps({
        "correct": True, "attempted": 77, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    })


def test_ties_count_for_neither_side():
    change = [b - 1.0 for b in BASE]
    change[0] = BASE[0]
    change[1] = BASE[1]
    v = pair.verdict(BASE, change, "lower", 0.25)
    assert v["wins"] == 8
    assert v["verdict"] == "no-regression"


def test_nine_of_ten_is_a_gain_and_eight_is_not():
    nine = [b - 1.0 for b in BASE]
    nine[0] = BASE[0] + 0.5
    assert pair.verdict(BASE, nine, "lower", 0.25)["wins"] == 9
    assert pair.verdict(BASE, nine, "lower", 0.25)["verdict"] == "gain"
    eight = list(nine)
    eight[1] = BASE[1] + 0.5
    assert pair.verdict(BASE, eight, "lower", 0.25)["wins"] == 8
    assert pair.verdict(BASE, eight, "lower", 0.25)["verdict"] == "no-regression"


def test_higher_is_better_metric_counts_wins_upward():
    v = pair.verdict(BASE, [b + 1.0 for b in BASE], "higher", 0.25)
    assert (v["wins"], v["verdict"]) == (10, "gain")


def test_median_gap_inside_the_iqr_is_no_gain():
    base = [8.0, 9.0, 10.0, 11.0, 12.0, 8.0, 9.0, 10.0, 11.0, 12.0]
    change = [b - 0.5 for b in base]  # wins every pair, moves the median 0.5
    v = pair.verdict(base, change, "lower", 0.25)
    assert v["wins"] == 10
    assert v["base_iqr"] == pytest.approx(2.0)
    assert v["verdict"] == "no-regression"


def test_gain_needs_no_more_failures_than_base():
    change = [b - 1.0 for b in BASE]
    assert pair.verdict(BASE, change, "lower", 0.25)["verdict"] == "gain"
    assert pair.verdict(BASE, change, "lower", 0.25, fails_more=True)["verdict"] == "no-regression"


def test_regression_past_the_bound():
    assert pair.verdict(BASE, [b * 1.3 for b in BASE], "lower", 0.25)["verdict"] == "regression"
    assert pair.verdict(BASE, [b * 1.2 for b in BASE], "lower", 0.25)["verdict"] == "no-regression"


def test_spread_wider_than_the_bound_is_unresolved():
    base = [6.0, 8.0, 10.0, 14.0, 16.0, 6.0, 8.0, 10.0, 14.0, 16.0]
    v = pair.verdict(base, [b * 1.05 for b in base], "lower", 0.25)
    assert v["base_iqr"] > 0.25 * v["base_median"]
    assert v["verdict"] == "unresolved"
    # unless every CHANGE run beats every BASE run
    assert pair.verdict(base, [5.0] * 10, "lower", 0.25)["verdict"] in ("gain", "no-regression")


def test_parse_result_reads_last_line_and_host_steal():
    out = "\n".join([
        "# env workload=star_sql seed=1",
        "# host steal_cores=0.31 other_cores=0.0 own_cores=3.2 load1=1.0 spin_ms=10/11",
        line(setup_s=4.2, cold_pass_s=7.3),
        "",
    ])
    res = pair.parse_result(out, "pair 1 base seed 1")
    assert res["metrics"] == {"setup_s": 4.2, "cold_pass_s": 7.3}
    assert (res["attempted"], res["failed"], res["steal_cores"]) == (77, 0, 0.31)
    assert "STEAL" in pair.describe(res)


@pytest.mark.parametrize("last", [
    "Traceback (most recent call last):",
    '{"attempted": 77, "failed": 0}',
    '{"attempted": 77, "failed": 0, "metrics": {"setup_s": {"unit": "s"}}}',
    '["not", "an", "object"]',
])
def test_malformed_last_line_names_the_run(last):
    with pytest.raises(pair.RunError, match="pair 3 change seed 3: malformed"):
        pair.parse_result(line(setup_s=1.0) + "\n" + last, "pair 3 change seed 3")


def test_empty_output_names_the_run():
    with pytest.raises(pair.RunError, match="pair 1 base seed 1"):
        pair.parse_result("", "pair 1 base seed 1")
