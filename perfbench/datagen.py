"""Seeded synthetic tables for the wire benchmark.

Writes one parquet file per table with the column names and types of the
repository's fixture schemas (FIXTURES.md), so the server registers them
as views exactly like the fixture directories. Values come from one
``numpy`` generator seeded by ``--seed``: the same seed gives byte-equal
inputs. Money columns are whole cents, so sums rounded to two decimals
cannot differ between engines that add in another order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table; the row-heavy statements scale with orders/events/part
ROWS = {
    "customer": 1500,
    "supplier": 200,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "search", "logout"]
WORDS = ["almond", "azure", "blush", "coral", "drab", "frosted", "ivory",
         "khaki", "linen", "navy", "olive", "peach", "sienna", "thistle"]
EPOCH = dt.datetime(2023, 1, 1)
ROWS_ALL = ("region", "nation", *ROWS)  # every table written


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(seconds: np.ndarray) -> pa.Array:
    micros = (seconds.astype(np.int64) * 1_000_000).astype("datetime64[us]")
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    w = np.array(WORDS)
    names = [
        " ".join(ws)
        for ws in zip(*(w[rng.integers(0, len(WORDS), npart)] for _ in range(3)))
    ]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, npart + 1), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, npart), rng.integers(1, 6, npart))],
        "p_type": [f"{a} {b}" for a, b in
                   zip(w[rng.integers(0, len(WORDS), npart)],
                       np.array(["TIN", "STEEL", "COPPER", "BRASS"])[
                           rng.integers(0, 4, npart)])],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _cents(rng, 900.0, 2100.0, npart),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.integers(0, 7 * 365, no) * 86400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    ne = n["events"]
    users = max(1, ne // 20)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(1, ne + 1), pa.int64()),
        "ts": _ts(np.sort(rng.integers(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(1, users + 1, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _cents(rng, 0.0, 500.0, ne),
        "props": [f'{{"k":{k}}}' for k in rng.integers(0, 100, ne)],
    })
    return out


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
