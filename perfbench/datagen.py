"""Seeded synthetic inputs shaped like the sf0.1 testdata tables.

The benchmark reads nothing outside its checkout, so it generates the four
tables its workloads touch (``customer``, ``events``, ``orders``,
``lineitem``) with the same schemas, row counts and key domains as sf0.1:

- ``customer``: 15,000 rows, ``c_custkey`` 0..14999 (the message table the
  REST workloads seed from);
- ``events``: 100,000 change events on 1,500 users, five event types
  uniformly (``error`` is the DELETE op, so about 1,200 keys are live at the
  end), timestamps ascending across January 2024;
- ``orders``: 150,000 rows; ``lineitem``: about 590,000 rows, 0 to 7 lines
  per order.

The same seed writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_EVENTS = 100_000
N_USERS = 1_500
N_ORDERS = 150_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)

_JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
_30_DAYS_US = 30 * 86_400 * 1_000_000
_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_DAY_US = 86_400 * 1_000_000


def customer_names(keys) -> list[str]:
    """``c_name`` for each key — also the message content the REST
    workloads expect back."""
    return [f"Customer#{k:09d}" for k in keys]


def _customer(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": customer_names(keys),
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, N_CUSTOMERS)],
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = _JAN_2024_US + np.sort(rng.integers(0, _30_DAYS_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _orders_lineitem(
    rng: np.random.Generator, n_orders: int
) -> tuple[pa.Table, pa.Table]:
    okeys = np.arange(n_orders, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(0, N_CUSTOMERS, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": pa.array(
                _1995_US + rng.integers(0, 2400, n_orders) * _DAY_US,
                pa.timestamp("us"),
            ),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)],
        }
    )
    # 1..7 lines per order, and about 2% of orders without any (sf0.1:
    # 147,236 of 150,000 orders have lines)
    n_lines = rng.integers(1, 8, n_orders)
    n_lines[rng.random(n_orders) < 0.0184] = 0
    l_orderkey = np.repeat(okeys, n_lines)
    n = len(l_orderkey)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
            "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                _1995_US + rng.integers(0, 2500, n) * _DAY_US, pa.timestamp("us")
            ),
        }
    )
    return orders, lineitem


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the four tables as ``<out_dir>/<name>.parquet`` (one row group
    each, like the testdata) and return ``out_dir``. ``scale`` shrinks the
    event and order tables for warm-up passes; the key domains stay the
    same."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    orders, lineitem = _orders_lineitem(rng, max(int(N_ORDERS * scale), 1))
    tables = {
        "customer": _customer(rng),
        "events": _events(rng, max(int(N_EVENTS * scale), 1)),
        "orders": orders,
        "lineitem": lineitem,
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
