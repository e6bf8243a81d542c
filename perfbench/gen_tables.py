#!/usr/bin/env python3
"""Seeded generator of the query-mix input tables.

Writes `orders`, `lineitem`, `customer` and `events` as one parquet file
each, with the column names, types and value ranges of the repository's
synthetic star schema (TESTDATA.md), which are all the query-mix rows
read. Sizes scale linearly with `sf`, as in that schema: at sf 0.01 there
are 15,000 orders, 60,000 line items, 1,500 customers and 10,000 events
from 150 users over 30 days. The same seed and sf give the same files.

    python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def stamps(rng, start, days, n, sort):
    us = rng.integers(0, days * DAY_US, n)
    if sort:
        us = np.sort(us)
    return pa.array(np.datetime64(start, "us") + us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_ord = int(1_500_000 * sf)
    n_li = 4 * n_ord
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord)),
        "o_orderdate": stamps(rng, "1995-01-01", 2500, n_ord, False),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["F", "O"], n_li),
        "l_shipdate": stamps(rng, "1995-01-01", 2600, n_li, False),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust),
    })
    ks = rng.integers(0, 100, n_ev)
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": stamps(rng, "2024-01-01", 30, n_ev, True),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in ks], pa.string()),
    })
    return {"orders": orders, "lineitem": lineitem, "customer": customer,
            "events": events}


def write(out_dir, seed, sf):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, out / f"{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
