"""Incremental (watermark / anti-join) ingest — SURVEY.md sections 2.3 J2, 2.9 ST1/ST2.

The reference's incremental protocol: read the sink's max date
(av_etl.py:12-19), compute the gap, fetch, then keep only "new" rows with a
**positional** ``df.tail(gap)`` (av_etl.py:79,126,130) — correct only while
API row order matches the DB watermark, with the primary key as a crash-loud
backstop (av_etl.py:37-38). The relationally robust form is a key-based
anti-join / watermark predicate; unit tests pin the equivalence.

Scale: the anti-join's build side is ``existing.select(key)`` — for a
date-keyed sink that's one row per day (broadcastable forever). The
watermark-predicate form is even cheaper: a pushed-down scan filter that
prunes partitions at the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def high_watermark(existing: DataFrame, key: str):
    """Max key in the sink — the reference's ``get_recent_row_date``
    (av_etl.py:12-19: ``ORDER BY date DESC LIMIT 1``), expressed as an
    aggregate so it needs no global sort."""
    return existing.agg(F.max(key).alias("wm")).first()["wm"]


def new_rows(incoming: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """Rows of ``incoming`` whose key is absent from ``existing``
    (av_etl.py:79's ``tail(gap)``, made order-independent).

    ``left_anti`` on the key projection, not deduplicated: an anti-join
    keeps an incoming row iff no build-side row matches it, so repeated
    keys on that side cannot change the result, and a dedup would only
    add a shuffle stage per append. The broadcast hint
    is SIZE-GATED on the existing side's input-file bytes (the
    contamination probe — conservative: unknown sizes fall through to
    no hint): the reference's sink is a small daily table where the
    broadcast always wins, but a 100 TB sink's key set must go through
    a shuffled anti-join (AQE still upgrades genuinely small sides at
    runtime). Check: BroadcastHashJoin ... LeftAnti in the plan for the
    small case."""
    from .contamination import _should_broadcast

    keys = existing.select(key)
    if _should_broadcast(existing, 64 << 20):
        keys = F.broadcast(keys)
    return incoming.join(keys, key, "left_anti")


def merge_incremental(incoming: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """Sink-after-append contents: existing plus genuinely-new incoming rows.

    Batch analog of the reference's append step (av_etl.py:30-36) with the
    PK-violation path (av_etl.py:38) designed out: duplicates are removed
    by construction, so the append never needs to fail."""
    return existing.unionByName(new_rows(incoming, existing, key))


def aggregate_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ticks: int = 100,
) -> DataFrame:
    """Mergeable per-key aggregate STATE over a value column: (keys...,
    n, n_val, sum_q, min_q, max_q) with the value quantized to integer
    ``ticks`` units and summed in decimal(38,0) — the materialized-view
    refresh primitive. States built from disjoint slices of a table
    merge (``merge_states``) into EXACTLY the state of the union: every
    component is a commutative monoid (count/sum/min/max), and the
    tick-quantized decimal sum makes the merge bit-identical regardless
    of slice boundaries, merge order, or partitioning.

    ``n`` counts rows, ``n_val`` non-null values (both needed to
    finalize averages and null-rates without a rescan).

    Scale design (100 TB): building a state is ONE partial-aggregated
    groupBy (map-side combine); merging is a union of KEY-BOUNDED state
    tables + the same groupBy — the nightly refresh touches only the
    delta's scan, never the historical corpus. This is the batch analog
    of a streaming agg's state store, stored as an ordinary table.
    """
    q = F.round(F.col(value_col).cast("double") * ticks).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.col(value_col)).alias("n_val"),
        F.coalesce(
            F.sum(q.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("sum_q"),
        F.min(q).alias("min_q"),
        F.max(q).alias("max_q"),
    )


def merge_states(keys: list[str], *states: DataFrame) -> DataFrame:
    """Merge any number of `aggregate_state` tables into one (same
    schema): union + one key-bounded re-aggregation. Associative and
    commutative by construction."""
    if not states:
        raise ValueError("merge_states needs at least one state table")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("n_val").alias("n_val"),
        F.sum("sum_q").alias("sum_q"),
        F.min("min_q").alias("min_q"),
        F.max("max_q").alias("max_q"),
    )


def finalize_state(
    state: DataFrame, keys: list[str], ticks: int = 100
) -> DataFrame:
    """Render a state table as the user-facing aggregate: (keys..., n,
    avg, min, max) — one projection; avg NULL for all-null groups."""
    qt = F.lit(float(ticks))
    return state.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.when(
            F.col("n_val") > 0,
            F.col("sum_q").cast("double") / qt / F.col("n_val").cast("double"),
        ).alias("avg"),
        (F.col("min_q").cast("double") / qt).alias("min"),
        (F.col("max_q").cast("double") / qt).alias("max"),
    )
