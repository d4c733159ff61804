"""Seeded generator for the benchmark's input tables.

Writes the star schema the engine's catalog reads (region, nation,
customer, supplier, part, orders, lineitem, events) as one parquet file
per table, with the column names, types and value domains of the
engine's fixture tables.  Row counts follow TPC-H's ratios at scale
factor ``sf`` (sf=0.1 gives 600k lineitem rows).  The same (sf, seed)
always gives byte-identical tables.

Keys start at 1 as in TPC-H, so no customer collides with the key-0
missing-dimension row; ``(l_orderkey, l_linenumber)`` is unique and every
ship date follows its order date, so the ETL workload's key constraints
hold.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events".split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def make_tables(sf: float, seed: int) -> dict:
    """Return ``{table: pyarrow.Table}`` for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    adj = _pick(rng, PART_ADJ, n_part)
    noun = _pick(rng, PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    # order dates 1995-01-01 .. 2001-08-01, midnight
    odays = rng.integers(0, 2404, n_ord)
    odate = _EPOCH_1995 + odays * np.timedelta64(_DAY_US, "us")
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            _EPOCH_1995 + ship * np.timedelta64(_DAY_US, "us"), pa.timestamp("us")
        ),
    })
    # events: increasing timestamps over 30 days, microsecond precision
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype(np.int64)
    ts = _EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": _money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<table>.parquet`` for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
