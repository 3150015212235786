"""Seeded TPC-H-shaped tables for the ``analytics`` workload.

The program's query registry reads ``<dir>/<table>.parquet`` with the
columns of the project's test data (TESTDATA.md): region, nation,
customer, supplier, orders, lineitem and events. This module writes
those tables from a seed with NumPy, at the same row counts per scale
factor as the test data (lineitem = 6 M x sf), one row group per file.
The value domains follow the test data where the mix's filters depend on
them: five market segments, region ``ASIA``, order dates 1995-2001,
return flags A/N/R, quantities 1-50.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _write(out: Path, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet", row_group_size=max(1, table.num_rows))


def generate(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the tables under ``out``; return their row counts."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(DAY_US, "us"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    # Line numbers count 1.. within each order, so (orderkey, linenumber)
    # is unique and ORDER BY ... LIMIT has no ties.
    orderkey = rng.integers(0, n_ord, n_line, dtype=np.int64)
    by_key = np.argsort(orderkey, kind="stable")
    sorted_keys = orderkey[by_key]
    first = np.searchsorted(sorted_keys, sorted_keys, side="left")
    linenumber = np.empty(n_line, dtype=np.int32)
    linenumber[by_key] = np.arange(n_line) - first + 1
    _write(out, "lineitem", {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2499, n_line) * np.timedelta64(DAY_US, "us"),
    })
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0, 560),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"customer": n_cust, "supplier": n_supp, "orders": n_ord,
            "lineitem": n_line, "events": n_ev}
