"""Seeded TPC-H-shaped parquet tables for the headline workload.

The headline queries read ``customer``, ``orders``, ``lineitem``,
``part`` and ``events`` through ``schemas.load_testdata``. This module
writes those five tables with the column names, physical types and value
domains of the engine's sf-scaled testdata (FIXTURES.md section 4), so the
benchmark needs no file outside its own checkout.

Row counts scale like the testdata: at ``sf=0.1`` there are 15,000
customers, 150,000 orders, about 600,000 lineitems, 20,000 parts and
100,000 events. Money columns are whole cents divided by 100, so every
value has at most two decimals, as the engine's money sums require.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "lineitem", "part", "events")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_PART_WORDS = np.array(["blue", "hot", "large", "ring", "bolt", "steel", "green"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
_EVENT_START = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money values in [lo, hi) cents as exact two-decimal doubles."""
    return rng.integers(lo, hi, n) / 100.0


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))

    cust_key = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": cust_key,
            "c_name": [f"Customer#{k:09d}" for k in cust_key],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
            "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n_cust)],
        }
    )

    ord_key = np.arange(n_ord, dtype=np.int64)
    ord_day = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    orders = pa.table(
        {
            "o_orderkey": ord_key,
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": pa.array(_ORDER_START + ord_day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": _PRIORITIES[rng.integers(0, len(_PRIORITIES), n_ord)],
        }
    )

    lines = rng.integers(1, 8, n_ord)  # 1..7 lineitems per order, mean 4
    n_li = int(lines.sum())
    li_order = np.repeat(ord_key, lines)
    li_number = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    ship_day = np.repeat(ord_day, lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, max(1, n_part // 20), n_li, dtype=np.int64),
            "l_linenumber": li_number,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(_ORDER_START + ship_day * _DAY_US, pa.timestamp("us")),
        }
    )

    part_key = np.arange(n_part, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": part_key,
            "p_name": np.char.add(
                np.char.add(_PART_WORDS[rng.integers(0, 7, n_part)], " "),
                _PART_WORDS[rng.integers(0, 7, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _PART_TYPES[rng.integers(0, len(_PART_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": (90_000 + (part_key % 20_001) * 10) / 100.0,
        }
    )

    ev_ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(_EVENT_START + ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, n_ev // 66), n_ev, dtype=np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n_ev)],
            "value": _cents(rng, 0, 20_000, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "part": part,
        "events": events,
    }


def write_testdata(out_dir: str, sf: float, seed: int) -> int:
    """Write the five tables as ``{out_dir}/{name}.parquet`` (one row
    group each, like the engine's testdata). Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows)
        total += os.path.getsize(path)
    return total
