"""Local replica of the driver's DuckDB-oracle comparison (strict form).

Compares Spark result vs DuckDB result as order-insensitive multisets of
rows with columns sorted by name — EXACT equality, including float bits
(the contract queries are engineered for bit-identical cross-engine
results; see alphavantage_etl_spark/queries.py docstring). If this passes,
any reasonable value-hash comparison passes too.
"""

from __future__ import annotations

import datetime as dt
import math
import tempfile
from decimal import Decimal

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_run(sf_dir: str, sql: str):
    # DuckDB spills to ``.tmp/`` under the working directory by default;
    # spill into a per-call directory under the system temp dir instead,
    # removed when the call returns or raises.
    with tempfile.TemporaryDirectory(prefix="duck_oracle_") as spill:
        con = duckdb.connect(config={"temp_directory": spill})
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
    return cols, rows


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def assert_matches_oracle(sdf, sf_dir: str, sql: str, name: str = "?"):
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    # The driver canonicalizes via pandas sort_values/factorize, which dies
    # on unhashable cells (bytearray, list). Fail HERE the way the driver
    # would: contract outputs must be scalars/strings (hex bytes, stringify
    # arrays). CORRECTNESS_r01's only two red rows were this bug class.
    if srows:
        # Check the first NON-NULL value per column, not just row 0: a NULL
        # in the first row would mask bytes/list cells in later rows and
        # let the driver's canonicalizer die with its opaque error.
        bad = []
        for i, col in enumerate(scols):
            v = next((r[i] for r in srows if r[i] is not None), None)
            if isinstance(v, (bytes, bytearray, list, tuple, dict)):
                bad.append(col)
        assert not bad, (
            f"{name}: driver-unhashable cell type in column(s) {bad} — "
            "hex-encode binary, stringify arrays before returning"
        )
    dcols, drows = duck_run(sf_dir, sql)
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duck={len(drows)}"
    )
    sm, dm = _multiset(scols, srows), _multiset(dcols, drows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sm, dm)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first 3: {mismatches[:3]}"
    )
