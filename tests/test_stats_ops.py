"""Known-answer invariants for the statistical catalog entries.

Each test builds a tiny parquet table set with a CONSTRUCTED ground truth
(identical cohorts, perfect linear trend, complete graphs, ...) and checks
the entry reproduces the closed-form answer — the property layer on top of
the DuckDB value oracles, in the reference's test style (SURVEY §5).
"""

import datetime
import re

import pytest

from arthur_redshift_etl_spark.plans.lint import plan_text
from arthur_redshift_etl_spark.workload import REGISTRY


def plan_shape(df):
    """The plans without expression and exchange ids, which differ per build."""
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan_text(df, "extended"))


def _write(spark, tmp_path, table, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/{table}.parquet")
    return str(tmp_path)


def test_ks_identical_cohorts_is_zero(spark, tmp_path):
    # every value appears once per parity -> identical empirical CDFs
    rows = []
    k = 0
    for v in (10.0, 20.0, 30.0, 40.0):
        for par in (0, 1):
            rows.append((k, par + 2, "O", v,
                         datetime.date(2024, 1, 1), "1-URGENT"))
            k += 1
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["ks_test_order_values"].fn(spark, sf).collect()[0]
    assert out["d_numerator"] == 0 and out["ks_d"] == 0.0
    assert out["n_a"] == 4 and out["n_b"] == 4


def test_ks_disjoint_cohorts_is_one(spark, tmp_path):
    rows = [(i, 0, "O", 10.0 + i, datetime.date(2024, 1, 1), "p")
            for i in range(4)]
    rows += [(10 + i, 1, "O", 100.0 + i, datetime.date(2024, 1, 1), "p")
             for i in range(4)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["ks_test_order_values"].fn(spark, sf).collect()[0]
    assert out["ks_d"] == 1.0


def test_gini_equal_revenue_is_zero(spark, tmp_path):
    rows = [(i, i, "O", 100.0, datetime.date(2024, 1, 1), "p")
            for i in range(10)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["gini_customer_revenue"].fn(spark, sf).collect()[0]
    assert out["gini"] == 0.0 and out["n_customers"] == 10


def test_gini_total_concentration(spark, tmp_path):
    # one customer has (almost) everything: G -> (n-1)/n as epsilon -> 0
    rows = [(i, i, "O", 0.01, datetime.date(2024, 1, 1), "p")
            for i in range(9)]
    rows.append((99, 99, "O", 1_000_000.0, datetime.date(2024, 1, 1), "p"))
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["gini_customer_revenue"].fn(spark, sf).collect()[0]
    assert out["gini"] == pytest.approx(0.9, abs=1e-6)


def test_ab_equal_conversion_z_zero(spark, tmp_path):
    # same conversion rate in both parities -> z exactly 0
    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for uid in range(8):  # 4 per parity, half convert
        et = "purchase" if uid < 4 else "view"
        rows.append((uid, ts, uid, et, 1.0, "{}"))
    sf = _write(spark, tmp_path, "events", rows,
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
    out = REGISTRY["ab_test_conversion_ztest"].fn(spark, sf).collect()[0]
    assert out["p_a"] == out["p_b"] == 0.5
    assert out["z_score"] == 0.0


def test_theil_sen_exact_on_linear_data(spark, tmp_path):
    # one order per day, revenue = 3*x + 5 exactly -> slope 3, intercept 5
    rows = []
    base = datetime.date(1970, 1, 1)
    for x in range(1, 31):
        rows.append((x, x, "O", 3.0 * x + 5.0,
                     base + datetime.timedelta(days=x), "p"))
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["daily_revenue_theil_sen"].fn(spark, sf).collect()[0]
    assert out["ts_slope"] == 3.0
    assert out["ts_intercept"] == 5.0


def test_pagerank_regular_graph_uniform(spark, tmp_path):
    # all 4 parts in one order: complete graph K4, deg 3 everywhere ->
    # pr stays exactly 0.15 + 0.85 = 1.0 both iterations
    rows = [(1, p, 1, 1, 1.0, 2.0, 0.0, 0.0, "N", "O",
             datetime.date(2024, 1, 1)) for p in (10, 11, 12, 13)]
    sf = _write(spark, tmp_path, "lineitem", rows,
                "l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate date")
    out = {r["part_key"]: r for r in
           REGISTRY["pagerank_two_iterations"].fn(spark, sf).collect()}
    assert set(out) == {10, 11, 12, 13}
    for r in out.values():
        assert r["degree"] == 3
        assert r["pagerank2"] == pytest.approx(1.0, abs=1e-12)


def test_triangles_k4_with_support(spark, tmp_path):
    # K4 repeated in two orders (support>=2 keeps all 6 edges):
    # C(4,3)=4 triangles, each node in 3, coefficient 1.0
    rows = []
    for ok in (1, 2):
        for ln, p in enumerate((10, 11, 12, 13)):
            rows.append((ok, p, 1, ln, 1.0, 2.0, 0.0, 0.0, "N", "O",
                         datetime.date(2024, 1, 1)))
    sf = _write(spark, tmp_path, "lineitem", rows,
                "l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate date")
    out = {r["part_key"]: r for r in
           REGISTRY["triangle_count_parts"].fn(spark, sf).collect()}
    assert set(out) == {10, 11, 12, 13}
    for r in out.values():
        assert r["n_triangles"] == 3
        assert r["clustering_coeff"] == 1.0


def test_autocorr_perfect_weekly_period(spark, tmp_path):
    # daily revenue repeats with period 7 -> lag-7 correlation exactly 1
    rows = []
    base = datetime.date(1970, 1, 1)
    week = [100.0, 220.0, 130.0, 340.0, 150.0, 260.0, 170.0]
    for x in range(28):
        rows.append((x, x, "O", week[x % 7],
                     base + datetime.timedelta(days=x), "p"))
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["daily_revenue_autocorr_lag7"].fn(spark, sf).collect()[0]
    assert out["n_pairs"] == 21
    assert out["autocorr_lag7"] == pytest.approx(1.0, abs=1e-12)


def test_dsir_weights_zero_when_target_is_corpus(spark, tmp_path):
    # every doc in the target sources -> target model == raw model ->
    # every llr term is ln(1) = 0 and all weights are exactly 0
    rows = [(i, "alpha beta gamma delta", "en", "src1", 20) for i in range(3)]
    rows += [(10 + i, "beta gamma epsilon", "en", "src2", 15) for i in range(3)]
    sf = _write(spark, tmp_path, "documents", rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long")
    out = REGISTRY["dsir_importance_weights"].fn(spark, sf).collect()
    assert len(out) == 6
    for r in out:
        assert r["dsir_logweight"] == 0.0


def test_benford_counts_match_construction(spark, tmp_path):
    # 30 values starting with 1, 10 with 9
    rows = [(i, i, "O", 1000.0 + i, datetime.date(2024, 1, 1), "p")
            for i in range(30)]
    rows += [(100 + i, i, "O", 9000.0 + i, datetime.date(2024, 1, 1), "p")
             for i in range(10)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = {r["digit"]: r for r in
           REGISTRY["benford_first_digit_orders"].fn(spark, sf).collect()}
    assert out[1]["observed"] == 30 and out[9]["observed"] == 10
    # digit-1 overrepresented vs Benford on this mix -> positive z; and the
    # expected counts follow log10(1+1/d) * 40
    import math
    assert out[1]["expected"] == pytest.approx(
        40 * math.log10(2), rel=1e-12
    )


def test_kaplan_meier_constructed_curve(spark, tmp_path):
    # lifetimes: 3 users churn at t=1, one at t=5, two censored at t=19
    # (active within 7 days of the window end)
    ts0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, day):
        return (eid, ts0 + datetime.timedelta(days=day), uid,
                "view", 1.0, "{}")

    rows = []
    eid = 0
    for uid in (1, 2, 3):  # churn at t=1
        rows += [ev(eid, uid, 0), ev(eid + 1, uid, 1)]
        eid += 2
    rows += [ev(eid, 4, 0), ev(eid + 1, 4, 5)]  # churn at t=5
    eid += 2
    for uid in (5, 6):  # censored: last event at window end
        rows += [ev(eid, uid, 0), ev(eid + 1, uid, 19)]
        eid += 2
    sf = _write(spark, tmp_path, "events", rows,
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
    out = {r["t"]: r for r in
           REGISTRY["kaplan_meier_user_retention"].fn(spark, sf).collect()}
    assert set(out) == {1, 5, 19}
    assert (out[1]["n_risk"], out[1]["d_churned"]) == (6, 3)
    assert (out[5]["n_risk"], out[5]["d_churned"]) == (3, 1)
    assert (out[19]["n_risk"], out[19]["c_censored"]) == (2, 2)
    assert out[1]["survival"] == pytest.approx(0.5, abs=1e-9)
    assert out[5]["survival"] == pytest.approx(1 / 3, abs=1e-9)
    assert out[19]["survival"] == pytest.approx(1 / 3, abs=1e-9)


def test_ks_two_pass_fallback_matches_packed(spark, monkeypatch):
    # shrink the packing base so the sizing check fails on real sf0.001
    # cohorts (~750 each > 256) and the exact decimal two-pass fallback
    # runs; both paths are integer-exact, so every field must match the
    # packed path bit-for-bit (ks_d is the same exact division).  The plans
    # must differ, or the patch missed and the packed path ran twice.
    from arthur_redshift_etl_spark.workload import stats

    sf = "/root/testdata/sf0.001"
    packed_df = REGISTRY["ks_test_order_values"].fn(spark, sf)
    packed = packed_df.collect()[0]
    monkeypatch.setattr(stats, "KS_PACK_BASE", 256)
    fallback_df = REGISTRY["ks_test_order_values"].fn(spark, sf)
    fallback = fallback_df.collect()[0]
    assert tuple(fallback) == tuple(packed)
    assert plan_shape(packed_df) != plan_shape(fallback_df)
    assert fallback["d_numerator"] > 0  # non-degenerate on real data


def test_ks_pack_boundary_condition():
    # the binding constraint is the numerator product, not the 2^32
    # packing: balanced cohorts cap at ~3.04e9 (sqrt(2^63)), far below
    # the 2^32 packing limit on n_b
    import math

    from arthur_redshift_etl_spark.workload.stats import KS_PACK_BASE

    base = KS_PACK_BASE
    balanced_cap = math.isqrt((1 << 63) - 1)
    assert balanced_cap < base  # product binds before packing when balanced
    assert balanced_cap == 3037000499
    # skewed shape where packing binds first: tiny n_b, huge n_a
    n_a, n_b = (1 << 63) // base, 10
    assert n_a * n_b < (1 << 63)  # product fine, yet packed grand total not


def test_mannwhitney_disjoint_cohorts(spark, tmp_path):
    # A = {1,2,3} (even custkeys), B = {4,5,6}: U_A = 0 and the
    # closed-form z = -9 / (2*sqrt(9/12*7)) = -1.96396...
    rows = [(i, 2, "O", float(v), datetime.date(2024, 1, 1), "p")
            for i, v in enumerate((1, 2, 3))]
    rows += [(10 + i, 3, "O", float(v), datetime.date(2024, 1, 1), "p")
             for i, v in enumerate((4, 5, 6))]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["mannwhitney_order_values"].fn(spark, sf).collect()[0]
    assert out["n_a"] == 3 and out["n_b"] == 3
    assert out["two_u_a"] == 0
    import math

    assert abs(out["z"] - (-9 / (2 * math.sqrt(9 / 12 * 7)))) < 1e-12


def test_mannwhitney_all_tied_is_degenerate_center(spark, tmp_path):
    # every value identical: midranks put 2U_A exactly at its mean
    # n_a*n_b and the tie-corrected variance collapses to zero — SQL
    # division by zero is NULL in both engines, so z is NULL
    rows = [(i, i % 2 + 2, "O", 42.0, datetime.date(2024, 1, 1), "p")
            for i in range(8)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["mannwhitney_order_values"].fn(spark, sf).collect()[0]
    assert out["two_u_a"] == out["n_a"] * out["n_b"]
    assert out["z"] is None


def test_chi_square_perfect_independence(spark, tmp_path):
    # n_ij = r_i * c_j / N exactly -> chi2 ~ 0 (within quantization), V ~ 0
    rows = []
    k = 0
    for pr, rmult in (("1-URGENT", 1), ("2-HIGH", 2)):
        for st, cmult in (("O", 1), ("F", 3)):
            for _ in range(10 * rmult * cmult):
                rows.append((k, 1, st, 1.0, datetime.date(2024, 1, 1), pr))
                k += 1
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["chi_square_priority_status"].fn(spark, sf).collect()[0]
    assert out["n"] == k and out["dof"] == 1
    assert abs(out["chi2"]) < 1e-6
    assert out["cramers_v"] < 1e-3


def test_chi_square_perfect_association(spark, tmp_path):
    # priority fully determines status -> V = 1, chi2 = N * min(R-1, C-1)
    rows = []
    k = 0
    for pr, st in (("1-URGENT", "O"), ("2-HIGH", "F")):
        for _ in range(25):
            rows.append((k, 1, st, 1.0, datetime.date(2024, 1, 1), pr))
            k += 1
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["chi_square_priority_status"].fn(spark, sf).collect()[0]
    assert abs(out["chi2"] - 50.0) < 1e-6
    assert abs(out["cramers_v"] - 1.0) < 1e-9


def test_seasonal_decompose_constant_series(spark, tmp_path):
    # constant daily revenue: trend = y, seasonal = 0, resid = 0 on every
    # full-window day; edge days have NULL trend/resid
    rows = [(d, 1, "O", 100.0, datetime.date(2024, 1, 1)
             + datetime.timedelta(days=d), "p") for d in range(21)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate date, o_orderpriority string")
    out = REGISTRY["seasonal_decompose_daily_revenue"].fn(spark, sf).collect()
    assert len(out) == 21
    full = [r for r in out if r["trend"] is not None]
    assert len(full) == 15  # 3 edge days on each side excluded
    for r in full:
        assert abs(r["trend"] - 100.0) < 1e-9
        assert abs(r["seasonal"]) < 1e-9
        assert abs(r["resid"]) < 1e-9


# ---- hypothesis: the shared oracle formulas vs independent brute force ----
# The oracle harness pins Spark == DuckDB; these pin DuckDB == a from-first-
# principles Python implementation on random inputs, closing the loop (a
# formula bug shared by both engine expressions would survive the harness).

from hypothesis import given, settings
from hypothesis import strategies as st


def _mw_bruteforce(pairs):
    # pairs: list of (value, cohort) with cohort in {0,1}; midrank U + z
    import math

    vals = sorted(v for v, _ in pairs)
    rank_of = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        mid = (i + 1 + j) / 2  # average of positions i+1..j
        rank_of[vals[i]] = mid
        i = j
    a = [v for v, c in pairs if c == 0]
    b = [v for v, c in pairs if c == 1]
    n_a, n_b, n = len(a), len(b), len(pairs)
    r_a = sum(rank_of[v] for v in a)
    two_u = int(round(2 * r_a)) - n_a * (n_a + 1)
    ties = {}
    for v, _ in pairs:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t**3 - t for t in ties.values())
    var = n_a * n_b / 12 * ((n + 1) - tie_term / (n * (n - 1)))
    z = None
    if var > 0:
        z = (two_u - n_a * n_b) / (2 * math.sqrt(var))
    return n_a, n_b, two_u, z


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 1)),
        min_size=2,
        max_size=60,
    ).filter(lambda ps: len({c for _, c in ps}) == 2)
)
def test_mannwhitney_oracle_matches_bruteforce(pairs):
    import duckdb

    from arthur_redshift_etl_spark.workload import REGISTRY

    con = duckdb.connect()
    con.execute("CREATE TABLE orders (o_totalprice DOUBLE, o_custkey BIGINT)")
    con.executemany(
        "INSERT INTO orders VALUES (?, ?)",
        [(float(v), 2 + c) for v, c in pairs],  # custkey parity = cohort
    )
    row = con.sql(REGISTRY["mannwhitney_order_values"].oracle).fetchall()[0]
    n_a, n_b, two_u, z = _mw_bruteforce(
        [(float(v), c) for v, c in pairs]
    )
    assert (row[0], row[1], row[2]) == (n_a, n_b, two_u)
    if z is None:
        assert row[3] is None
    else:
        assert abs(row[3] - z) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from("pqr"), st.sampled_from("xy")),
        min_size=4,
        max_size=80,
    ).filter(
        lambda cs: len({p for p, _ in cs}) >= 2 and len({s for _, s in cs}) >= 2
    )
)
def test_chi_square_oracle_matches_bruteforce(cells):
    import duckdb

    from arthur_redshift_etl_spark.workload import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders (o_orderpriority VARCHAR, o_orderstatus VARCHAR)"
    )
    con.executemany("INSERT INTO orders VALUES (?, ?)", cells)
    row = con.sql(REGISTRY["chi_square_priority_status"].oracle).fetchall()[0]
    # independent direct computation
    from collections import Counter

    n = len(cells)
    cnt = Counter(cells)
    r = Counter(p for p, _ in cells)
    c = Counter(s for _, s in cells)
    chi2 = sum(
        (k - r[p] * c[s] / n) ** 2 / (r[p] * c[s] / n)
        for (p, s), k in cnt.items()
    )
    # zero cells contribute their expected count to chi2 as well
    for p in r:
        for s in c:
            if (p, s) not in cnt:
                chi2 += r[p] * c[s] / n
    dof = (len(r) - 1) * (len(c) - 1)
    assert row[0] == n and row[1] == dof
    # quantization bound: one 1e-12 floor per occupied cell, scaled by N
    assert abs(row[2] - chi2) <= len(r) * len(c) * 1e-12 * n + 1e-9 * chi2 + 1e-9
