"""Seeded input generator for the benchmark.

Writes parquet tables with the schemas of the engine's fixture family
(FIXTURES.md, family A) so the package and its DuckDB oracles read them
unchanged. Every table is drawn from one ``numpy`` generator seeded by
``(seed, table)``: the same seed gives byte-identical inputs.

Refresh snapshots share files: the order and lineitem rows are split into
date-ordered delta part files written once, and snapshot ``k`` is a
directory of hard links to parts ``0..k``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at each scale; the sf scales are the fixtures' own sizes
# (TESTDATA.md).
SIZES = {
    # warm-up inputs: every plan shape, as little data as it takes
    "tiny": dict(orders=1_500, lineitem=6_000, customer=150, supplier=10,
                 embeddings=200),
    "sf0.001": dict(orders=1_500, lineitem=6_000, customer=150, supplier=10,
                    embeddings=500),
    "sf0.01": dict(orders=15_000, lineitem=60_000, customer=1_500,
                   supplier=100, embeddings=500),
    "sf0.1": dict(orders=150_000, lineitem=600_000, customer=15_000,
                  supplier=1_000, embeddings=2_000),
}

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days + 1
_EPOCH = dt.date(1970, 1, 1)


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100, 2)


def _days_to_ts(day0: dt.date, days: np.ndarray) -> pa.Array:
    us = ((day0 - _EPOCH).days + days).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days_to_ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)]),
    })


def lineitem(seed: int, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    """About ``n`` lines: each order gets 1..7 lines numbered from 1, so
    ``(l_orderkey, l_linenumber)`` is a key and daily bars have no ties."""
    rng = _rng(seed, "lineitem")
    per = rng.integers(1, 8, n_orders)
    per = np.minimum(per, np.maximum(1, np.round(per * n / per.sum()))).astype(np.int64)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    line = (np.arange(len(okey)) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    n = len(okey)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": line,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days_to_ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n)),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


def write_embeddings(out_dir: str, seed: int, scale: str) -> str:
    """Write ``<out_dir>/embeddings.parquet`` at one scale; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(embeddings(seed, SIZES[scale]["embeddings"]),
                   os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def write_snapshots(out_dir: str, seed: int, scale: str,
                    cutoffs: list[dt.date]) -> list[str]:
    """Growing order/lineitem snapshots for the refresh workload.

    Rows are split at ``cutoffs`` by their own date (orders by order date,
    lineitem by ship date): delta 0 holds everything up to ``cutoffs[0]``,
    delta ``k`` the days in ``(cutoffs[k-1], cutoffs[k]]``; rows after the
    last cutoff are not used. Each delta is one part file written once;
    snapshot ``k`` links parts ``0..k``.
    Returns the snapshot directories, oldest first.
    """
    s = SIZES[scale]
    tables = {
        "orders": (orders(seed, s["orders"], s["customer"]), "o_orderdate"),
        "lineitem": (lineitem(seed, s["lineitem"], s["orders"],
                              s["customer"] * 4 // 3, s["supplier"]),
                     "l_shipdate"),
    }
    parts = os.path.join(out_dir, "parts")
    os.makedirs(parts, exist_ok=True)
    bounds = [np.datetime64(c) + np.timedelta64(1, "D") for c in cutoffs]
    for name, (table, ts_col) in tables.items():
        day = table[ts_col].to_numpy().astype("datetime64[D]")
        k = np.searchsorted(np.array(bounds, dtype="datetime64[D]"), day, side="right")
        for i in range(len(cutoffs)):
            pq.write_table(table.filter(pa.array(k == i)),
                           os.path.join(parts, f"{name}-{i:03d}.parquet"))
    snaps = []
    for i in range(len(cutoffs)):
        snap = os.path.join(out_dir, f"snap-{i:03d}")
        for name in tables:
            d = os.path.join(snap, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            for j in range(i + 1):
                os.link(os.path.join(parts, f"{name}-{j:03d}.parquet"),
                        os.path.join(d, f"part-{j:03d}.parquet"))
        snaps.append(snap)
    return snaps
