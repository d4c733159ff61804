"""The bench stdout contract line must fit the driver's tail window.

The per-round driver records only the last 2000 characters of bench.py's
stdout and json-parses the final line; rounds 4, 5, and 8 each lost their
bench grade because the line outgrew that window and was truncated
mid-object ("parsed": null in BENCH_r0{4,5,8}.json).  These tests pin the
compaction that prevents a recurrence, including at query-list sizes far
beyond the current suite.
"""

import importlib.util
import json

import pytest


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_mod", "/root/repo/bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _full_result(n_queries: int) -> dict:
    queries = {f"q{i:03d}_some_longish_query_name": 123.4567 for i in range(n_queries)}
    return {
        "metric": "workload_total_wall",
        "unit": "sec",
        "sf": 0.1,
        "queries_warm": dict(queries),
        "queries_planning": {k: 0.1234 for k in queries},
        "value_warm": 26.8858,
        "host": {
            "load1_pre": 6.45,
            "load1_post": 1.99,
            "load5_post": 3.65,
            "busy_cores": 1.99,
            "own_cores": 1.27,
            "steal_cores": 0.14,
            "other_cores": 0.58,
            "spin_ms_pre": 374.5,
            "spin_ms_post": 390.7,
            "mem_ms_pre": 119.7,
            "mem_ms_post": 127.8,
            "ncpu": 32,
        },
        "queries": queries,
        "queries_cold_fresh": {k: 5.1069 for k in list(queries)[:3]},
        "queries_cold_fresh_detail": {
            k: {
                "planning": 0.3334,
                "exec": 4.7735,
                "warm_same_jvm": 2.7831,
                "spin_ms_pre": 377.5,
                "spin_ms_post": 443.1,
                "mem_ms_post": 144.1,
                "steal_cores": 0.16,
            }
            for k in list(queries)[:3]
        },
        "value_cold_best": 30.1,
        "value": 31.56,
        "queries_steal_cores": {k: 0.62 for k in queries},
    }


def test_current_suite_size_fits_with_all_extras(bench):
    # 23 queries (the current DEFAULT_QUERIES size) + fresh rechecks + host
    compact = bench.compact_stdout_result(_full_result(len(bench.DEFAULT_QUERIES)))
    line = json.dumps(compact)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert parsed["metric"] == "workload_total_wall"
    assert len(parsed["queries"]) == len(bench.DEFAULT_QUERIES)
    # the compact fingerprint keys survive at this size
    assert "host" in parsed and "queries_cold_fresh" in parsed
    # the bulky detail blocks never ride the line
    for dropped in ("queries_warm", "queries_planning", "queries_cold_fresh_detail"):
        assert dropped not in parsed, dropped


@pytest.mark.parametrize("n", [1, 23, 40, 55])
def test_line_budget_holds_as_suite_grows(bench, n):
    compact = bench.compact_stdout_result(_full_result(n))
    line = json.dumps(compact)
    assert len(line) <= bench.LINE_BUDGET, (n, len(line))
    parsed = json.loads(line)
    # contract fields survive every trim tier
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert len(parsed["queries"]) + parsed.get("queries_omitted", 0) == n
    if n <= 40:  # omission is strictly a last resort
        assert "queries_omitted" not in parsed


def test_per_query_steal_rides_the_line_filtered(bench):
    """VERDICT r13 item 2: contaminated queries' steal must travel on the
    stdout line; calm queries (<0.05 cores) must not bloat it."""
    result = _full_result(len(bench.DEFAULT_QUERIES))
    names = list(result["queries"])
    result["queries_steal_cores"] = {
        n: (0.62 if i < 3 else 0.01) for i, n in enumerate(names)
    }
    compact = bench.compact_stdout_result(result)
    line = json.dumps(compact)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries_steal_cores"] == {n: 0.62 for n in names[:3]}
    # worst case: every query contaminated on a full-size suite still fits
    result["queries_steal_cores"] = {n: 0.62 for n in names}
    compact = bench.compact_stdout_result(result)
    assert len(json.dumps(compact)) <= bench.LINE_BUDGET


def test_first_trim_drops_per_query_steal_before_host(bench):
    """ADVICE r14 #4: the run-level host block is what makes per-query
    steal interpretable, so when the line must shed a key the per-query
    steal map goes first and host outlives it."""
    n = len(bench.DEFAULT_QUERIES)
    while "queries_steal_cores" in bench.compact_stdout_result(_full_result(n)):
        n += 1  # grow the suite until the line is forced to trim
    parsed = json.loads(json.dumps(bench.compact_stdout_result(_full_result(n))))
    assert parsed["host"]["steal_cores"] == 0.14
    assert "queries_cold_fresh" in parsed and "value_cold_best" in parsed


def test_r08_regression_shape_now_parses(bench):
    """The exact field set that overflowed in round 8 compacts to <= budget."""
    result = _full_result(23)
    compact = bench.compact_stdout_result(result)
    assert len(json.dumps(compact)) <= bench.LINE_BUDGET
    # values are preserved, not merely truncated away
    assert compact["value"] == result["value"]
    assert compact["value_warm"] == result["value_warm"]
    assert compact["queries"] == result["queries"]


def test_budget_holds_under_randomized_shapes(bench):
    """Property: for ANY mix of query-name lengths, counts, and optional
    blocks, the compacted line parses and fits the budget."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:  # pragma: no cover - environment gate
        pytest.skip("hypothesis unavailable")

    names = st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz_",
            min_size=1,
            max_size=48,
        ),
        min_size=1,
        max_size=80,
        unique=True,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        names=names,
        with_warm=st.booleans(),
        with_fresh=st.booleans(),
        value=st.floats(0, 1e6, allow_nan=False),
    )
    def check(names, with_warm, with_fresh, value):
        queries = {n: 123.4567 for n in names}
        result = {
            "metric": "workload_total_wall",
            "unit": "sec",
            "sf": 0.1,
            "queries": queries,
            "value": round(value, 4),
            "host": {"load1_pre": 1.0, "steal_cores": 0.1, "other_cores": 0.2,
                     "spin_ms_post": 400.0},
        }
        if with_warm:
            result["value_warm"] = round(value * 0.8, 4)
            result["queries_warm"] = dict(queries)
        if with_fresh:
            result["queries_cold_fresh"] = {n: 1.0 for n in names[:3]}
            result["value_cold_best"] = round(value, 4)
        compact = bench.compact_stdout_result(result)
        line = json.dumps(compact)
        assert len(line) <= bench.LINE_BUDGET
        parsed = json.loads(line)
        for key in ("metric", "value", "unit", "queries", "sf"):
            assert key in parsed
        assert (
            len(parsed["queries"]) + parsed.get("queries_omitted", 0)
            == len(queries)
        )

    check()
