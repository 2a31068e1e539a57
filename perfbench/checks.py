"""Correctness gates, run outside the timed window.

Expected values come from DuckDB over the same generated files, never from
the engine: the registry's own oracle SQL for model queries and serving,
and plain SQL bars for the refresh sink. Rows compare as order-insensitive
multisets with exact values, the comparison ``tests/oracle.py`` makes.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import duckdb

def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def multiset(cols: list[str], rows) -> list[tuple]:
    """Rows as a sorted list of tuples with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def duck(sql: str, views: dict[str, str]) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS FROM '{path}'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def fixture_views(sf_dir: str) -> dict[str, str]:
    """One view per generated table, named as the registry's oracles expect."""
    return {f.removesuffix(".parquet"): os.path.join(sf_dir, f)
            for f in os.listdir(sf_dir) if f.endswith(".parquet")}


def mismatch(name: str, got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows, expected {len(want_rows)}"
    got, want = multiset(got_cols, got_rows), multiset(want_cols, want_rows)
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    if bad:
        return f"{name}: {len(bad)} rows differ, first {got[bad[0]]} != {want[bad[0]]}"
    return None


def bars_sql(snap: str) -> dict[str, str]:
    """The refresh sink's expected tables over one snapshot directory.

    Within a day every order shares one timestamp, so the bars' ordering
    key reduces to the row key: ``o_orderkey`` for price bars and
    ``(l_orderkey, l_linenumber)`` for rate bars.
    """
    o = f"read_parquet('{snap}/orders.parquet/*.parquet')"
    li = f"read_parquet('{snap}/lineitem.parquet/*.parquet')"
    px = f"""SELECT CAST(o_orderdate AS DATE) AS date,
        arg_min(o_totalprice, o_orderkey) AS open, max(o_totalprice) AS high,
        min(o_totalprice) AS low, arg_max(o_totalprice, o_orderkey) AS close,
        CAST(count(*) AS BIGINT) AS volume
        FROM {o} GROUP BY 1"""
    fx = f"""SELECT CAST(l_shipdate AS DATE) AS date,
        arg_min(l_discount, l_orderkey * 8 + l_linenumber) AS open,
        max(l_discount) AS high, min(l_discount) AS low,
        arg_max(l_discount, l_orderkey * 8 + l_linenumber) AS close
        FROM {li} GROUP BY 1"""
    prd = f"""SELECT p.date, p.close AS close_price_usd, f.close AS close_rate,
        round_even(p.close * f.close * 100, 0) / 100 AS close_price_fx
        FROM ({px}) p JOIN ({fx}) f USING (date)"""
    return {"src_px_usd": px, "src_usd_fx": fx, "prd_px_fx": prd}


def new_dates(prev_snap: str | None, snap: str) -> dict[str, int]:
    """Rows each sink table must gain when ``snap`` follows ``prev_snap``."""

    def dates(s):
        if s is None:
            return {"px": set(), "fx": set()}
        _, px = duck(f"SELECT DISTINCT CAST(o_orderdate AS DATE) FROM "
                     f"read_parquet('{s}/orders.parquet/*.parquet')", {})
        _, fx = duck(f"SELECT DISTINCT CAST(l_shipdate AS DATE) FROM "
                     f"read_parquet('{s}/lineitem.parquet/*.parquet')", {})
        return {"px": {r[0] for r in px}, "fx": {r[0] for r in fx}}

    a, b = dates(prev_snap), dates(snap)
    return {
        "src_px_usd": len(b["px"] - a["px"]),
        "src_usd_fx": len(b["fx"] - a["fx"]),
        "prd_px_fx": len(b["px"] & b["fx"]) - len(a["px"] & a["fx"]),
    }


def sink_rows(sink_dir: str, table: str) -> tuple[list[str], list[tuple]]:
    return duck(f"SELECT * FROM read_parquet('{sink_dir}/{table}/*.parquet')", {})


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


REPORT_BLOCKS = [
    "<h1>PX price report</h1>",
    "<h2>PX price in USD</h2>",
    "<h2>USD/FX exchange rate</h2>",
    "<h2>PX price in FX and USD</h2>",
    "twin axes</figcaption>",
    "SMA trend",
    "<h2>Data</h2>",
    "Candlestick chart",
    "OHLC chart",
    "Line chart",
    "PX price comparison in both currencies",
]


def missing_report_blocks(html: str) -> list[str]:
    return [b for b in REPORT_BLOCKS if b not in html]
