"""Structured Streaming variants of the engine's incremental operators.

The reference is a scheduled batch pipeline whose incremental protocol
(watermark probe -> gap fetch -> trim -> append, av_etl.py:44-135) is the
batch shadow of streaming ingestion (SURVEY.md section 2.9 ST1). These
builders re-express it natively: ``readStream`` + event-time watermarks +
windowed/session state, with the checkpoint location replacing the max-date
probe (the sink's watermark IS the checkpoint).

Batch/stream parity: the transformations are the SAME DataFrame expressions
the batch operators use — ``window``/``session_window`` aggregations behave
identically in both modes, which is what lets the batch oracle (DuckDB)
vouch for the streaming semantics (SURVEY.md section 7.3.5).

Scale notes: state size is bounded by the watermark horizon; shuffle
partitions shard the keyed state; at 100 TB/day the same topology runs with
a real source (Kafka/files-on-object-storage) — nothing here is local-only.

The exactly-once ``foreachBatch`` streams share their plumbing, written
once: :func:`_drain` runs every one of them (checkpointed, availableNow);
:func:`_append_batch` is the replay-idempotent per-batch file append;
:func:`_admit` is the poison-batch gate of the curation quality check and
the drift and OOV monitors (pass, quarantine, or raise); and
:func:`_merge_state` sums a batch's cells into the cumulative state of
the FDR, count-min and domain-cap monitors over the versioned-state
protocol (:func:`_commit_state`), which the CDC table commits through
too. The module also holds the persisted-index layout (model parts,
index streams and loaders) and :func:`_fresh_shared`, the content-keyed
cache of shared model state and index loads.
"""

from __future__ import annotations

import copy
import math
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import inline_rows_df
from ..sources.catalog import read_path_if_exists
from ..sources.parquet import SCHEMAS


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events directory (parquet files appear ->
    rows stream in). Schema must be declared for streaming reads; ``ts``
    physical type varies by producer (TIMESTAMP(MICROS) vs TIMESTAMP(NANOS)
    surfaced as nanos-long under ``nanosAsLong``), so probe one footer via a
    batch read — a driver-side metadata-only operation — and normalize the
    same way the batch loader does (sources/parquet.py).

    An EMPTY source directory (stream started before the first producer
    batch lands — the normal cold-start order) has no footer to probe; fall
    back to the declared timestamp schema, matching the current producers
    (TESTDATA.md r3 regen writes TIMESTAMP(MICROS)).
    """
    try:
        probe = dict(spark.read.parquet(events_dir).dtypes).get("ts")
    except Exception:  # AnalysisException: unable to infer schema (empty dir)
        probe = None
    if probe == "bigint":  # TIMESTAMP(NANOS) files read as nanos-long
        raw_schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
        raw = spark.readStream.schema(raw_schema).parquet(events_dir)
        # Watermarks require TimestampType (event time must be zone-anchored);
        # the session timezone is pinned to UTC so values line up with the
        # batch loader's TIMESTAMP_NTZ view of the same files.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw_schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    return spark.readStream.schema(raw_schema).parquet(events_dir)


def windowed_counts_stream(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
    slide: str | None = None,
) -> DataFrame:
    """Streaming tumbling (or, with ``slide``, sliding/hopping) window
    aggregation with late-data handling: rows later than ``watermark``
    behind max event time are dropped and their windows finalized — the
    streaming analog of q_window_tumbling / q_window_sliding."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 days"
) -> DataFrame:
    """Streaming gap-sessionization — session_window keeps per-key merging
    state, closed once the watermark passes session end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_window")
    )


def incremental_append_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """ST1 as a stream: exactly-once new-row append with in-horizon dedup.

    ``dropDuplicatesWithinWatermark`` on the event key replaces the
    reference's tail(gap)+PK-constraint protocol (av_etl.py:79,38): state
    holds keys only inside the watermark horizon, so memory is bounded and
    duplicate re-deliveries inside the horizon are suppressed.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_join_stream(
    events: DataFrame,
    trigger_type: str = "click",
    outcome_type: str = "purchase",
    horizon: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream time-interval join: each outcome event joined to the
    same user's trigger events in the preceding ``horizon`` — the streaming
    form of the reference's cross-table derived refresh (ST2), where two
    live feeds must meet on a key within a time bound.

    Both sides carry watermarks; the interval condition bounds the join
    state Spark must hold (triggers are droppable once older than
    watermark + horizon). The same expression tree works in batch — tested
    for parity.
    """
    trig = (
        events.where(F.col("event_type") == trigger_type)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("trigger_id"),
        )
        .withWatermark("t_ts", watermark)
    )
    out = (
        events.where(F.col("event_type") == outcome_type)
        .select(
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
            F.col("event_id").alias("outcome_id"),
            F.col("value").alias("outcome_value"),
        )
        .withWatermark("o_ts", watermark)
    )
    cond = (
        (F.col("t_user") == F.col("o_user"))
        & (F.col("t_ts") <= F.col("o_ts"))
        & (F.col("o_ts") <= F.col("t_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return trig.join(out, cond, "inner").select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "outcome_id",
        "t_ts",
        "o_ts",
        "outcome_value",
    )


def running_bars_stream(
    events: DataFrame,
    value_col: str = "value",
    watermark: str = "2 days",
    grace_ms: int = 0,
) -> DataFrame:
    """LIVE daily OHLC bars via ``applyInPandasWithState`` — the custom
    stateful operator the built-in windows cannot express.

    A ``groupBy(window(...))`` aggregation emits a bar either only when the
    watermark FINALIZES it (append mode — nothing visible intra-day) or as
    an opaque latest-value (update mode — no way to flag finality or run
    custom eviction). A live trading dashboard wants BOTH: the current
    partial bar re-emitted as every micro-batch updates it, and one
    authoritative ``is_final`` row when the day can no longer change. That
    per-key (open, high, low, close, n, last_ts) evolution with explicit
    lifecycle is exactly the arbitrary-stateful-processing contract
    (A1's streaming form; reference recomputes bars from scratch per run,
    av_etl.py:92-99).

    State per (event_type, day): 6 scalars, Arrow-batched in/out — the only
    Python in the hot path touches grouped state rows, never the corpus.
    Every key sets an EVENT-TIME timeout at ``day end + watermark + grace``;
    when the watermark passes it, the operator emits the final bar and
    REMOVES the state, so state size is bounded by (keys x watermark
    horizon) regardless of stream lifetime — the same bound the built-in
    window store enjoys. Restart-safe: state lives in the checkpoint.

    Output: one row per touched key per micro-batch (partial, ``is_final``
    false) plus one final row per expired key. Ties on concurrent
    ``last_ts`` resolve to the larger value for determinism.
    """
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "event_type string, day date, open double, high double, low double, "
        "close double, n_events bigint, is_final boolean"
    )
    state_schema = (
        "open double, high double, low double, close double, "
        "n bigint, first_ts bigint, last_ts bigint"
    )
    day_ms = 86_400_000
    wm_ms = _interval_ms(watermark)

    def update_bars(key, pdfs, state):
        import pandas as pd

        etype, day = key
        if state.hasTimedOut:
            o, h, l, c, n, _ft, _lt = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "event_type": etype, "day": day,
                        "open": o, "high": h, "low": l, "close": c,
                        "n_events": n, "is_final": True,
                    }
                ]
            )
            return
        if state.exists:
            o, h, l, c, n, ft, lt = state.get
        else:
            o = h = l = c = None
            n, ft, lt = 0, 2**62, -(2**62)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts_us = pdf["ts"].astype("int64") // 1000
            v = pdf[value_col].astype("float64")
            # open follows the globally EARLIEST ts (first_ts persists in
            # state so a late row can still precede the stored open);
            # close follows the globally latest. Equal-ts ties resolve to
            # the smaller value for open, larger for close — deterministic
            # under any row order. Vectorized: no per-row Python.
            tmin, tmax = int(ts_us.min()), int(ts_us.max())
            v_open = float(v[ts_us == tmin].min())
            v_close = float(v[ts_us == tmax].max())
            if tmin < ft or (tmin == ft and (o is None or v_open < o)):
                ft, o = tmin, v_open
            if tmax > lt or (tmax == lt and (c is None or v_close > c)):
                lt, c = tmax, v_close
            hi, lo = float(v.max()), float(v.min())
            h = hi if h is None else max(h, hi)
            l = lo if l is None else min(l, lo)
            n += int(len(pdf))
        state.update((o, h, l, c, n, ft, lt))
        # finalize once the watermark passes day end (+ grace); the stamp
        # must sit strictly above the current watermark or Spark rejects it
        day_end_ms = (
            int(pd.Timestamp(day).value // 1_000_000) + day_ms + wm_ms + grace_ms
        )
        state.setTimeoutTimestamp(max(day_end_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            [
                {
                    "event_type": etype, "day": day,
                    "open": o, "high": h, "low": l, "close": c,
                    "n_events": n, "is_final": False,
                }
            ]
        )

    return (
        events.withWatermark("ts", watermark)
        .withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .applyInPandasWithState(
            update_bars,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def anomaly_stream(
    events: DataFrame,
    lookback: int = 20,
    min_history: int = 8,
    z_thresh: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Streaming twin of ``operators.anomaly.flag_anomalies`` via
    ``applyInPandasWithState``: per-key trailing window of the last
    ``lookback`` quantized values, the SAME cleared-integer z-test, rows
    flagged as they arrive instead of in a batch window pass.

    State per key is EXACTLY ``lookback`` longs (bounded by construction
    — no timeout needed for correctness; long-idle keys hold 160 bytes).
    Rows inside a micro-batch are sorted by (ts, tiebreak) before the
    walk, so feeding batches in event-time order reproduces the batch
    operator row-for-row (asserted by the parity test). The per-row
    Python loop touches only grouped micro-batch rows — the same budget
    class as ``running_bars_stream``'s state transitions.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "event_id bigint, user_id bigint, ts timestamp, value double, "
        "baseline_n bigint"
    )
    state_schema = "vals array<bigint>"
    z2 = z_thresh * z_thresh

    def update(key, pdfs, state):
        import math

        import pandas as pd

        def _round_half_up(x: float) -> int:
            # parity with the batch operator's F.round (HALF_UP), not
            # Python's banker's rounding
            return int(math.floor(x + 0.5)) if x >= 0 else int(
                math.ceil(x - 0.5)
            )

        (user,) = key
        vals = list(state.get[0]) if state.exists else []
        out = []
        # concatenate before sorting: a key whose micro-batch group spans
        # multiple Arrow chunks must be walked in GLOBAL (ts, event_id)
        # order — sorting chunks independently would break batch parity
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ).sort_values(["ts", "event_id"])
            for r in whole.itertuples():
                q = _round_half_up(r.value * scale)
                n = len(vals)
                if n >= min_history:
                    s1 = sum(vals)
                    s2 = sum(v * v for v in vals)
                    num = (n - 1) * (n * q - s1) * (n * q - s1)
                    den = z2 * n * (n * s2 - s1 * s1)
                    if num > den:
                        out.append(
                            {
                                "event_id": r.event_id,
                                "user_id": user,
                                "ts": r.ts,
                                "value": r.value,
                                "baseline_n": n,
                            }
                        )
                vals.append(q)
                if len(vals) > lookback:
                    vals.pop(0)
        state.update((vals,))
        yield pd.DataFrame(
            out,
            columns=["event_id", "user_id", "ts", "value", "baseline_n"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _interval_ms(interval: str) -> int:
    """'2 days' / '30 minutes' / '1 hour' -> milliseconds (the subset of
    interval syntax the streaming builders use)."""
    qty, unit = interval.split()
    mult = {
        "day": 86_400_000, "days": 86_400_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "minute": 60_000, "minutes": 60_000,
        "second": 1_000, "seconds": 1_000,
    }[unit]
    return int(qty) * mult


def _drain(stream_df: DataFrame, apply, checkpoint: str):
    """Run ``apply`` as the ``foreachBatch`` sink over every micro-batch
    available now, then stop; returns the finished query. Every
    checkpointed stream in this module runs through it."""
    q = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _admit(
    batch_df: DataFrame,
    batch_id: int,
    ok: bool,
    error: Exception,
    quarantine_path: str | None,
) -> bool:
    """The poison-batch gate: True when the batch passed its check and
    goes on. A failed batch is quarantined whole through
    :func:`_append_batch` (so a replay rewrites its own directory) and
    False is returned, or ``error`` is raised when no
    ``quarantine_path`` is set — never a silent drop."""
    if ok:
        return True
    if quarantine_path is None:
        raise error
    _append_batch(batch_df, quarantine_path, batch_id)
    return False


def idempotent_sink_stream(
    stream_df: DataFrame,
    sink_path: str,
    checkpoint: str,
    key: str = "event_id",
):
    """Streaming upsert: each micro-batch anti-joins the parquet sink on
    ``key`` and appends only genuinely-new rows — the complete streaming
    form of the reference's watermark->trim->append protocol (ST1), safe
    under BOTH duplicate deliveries in the stream and batch replays after
    checkpoint rollback (the file-source checkpoint alone only guards the
    latter).

    ``foreachBatch`` is the escape hatch: the batch ``new_rows`` operator
    runs unchanged on every micro-batch DataFrame. On Delta/Iceberg the
    same body becomes ``MERGE INTO`` and gains transactional atomicity;
    plain parquet append is crash-atomic only per file.
    """
    from ..operators.incremental import new_rows

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # None only before the first batch; any OTHER read failure
        # (corrupt footer, FS hiccup, permissions) must propagate and fail
        # the batch so the checkpoint retries it — swallowing it would
        # skip the anti-join and re-append the whole micro-batch,
        # silently breaking the idempotency guarantee.
        existing = read_path_if_exists(batch_df.sparkSession, sink_path)
        fresh = batch_df if existing is None else new_rows(batch_df, existing, key)
        fresh.write.mode("append").parquet(sink_path)

    return _drain(stream_df, upsert, checkpoint)


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a documents directory (new parquet files
    stream in as micro-batches) — the ingestion front of a continuously
    growing corpus."""
    return spark.readStream.schema(SCHEMAS["documents"]).parquet(docs_dir)


def curation_ingest_stream(
    stream_df: DataFrame,
    sink_path: str,
    checkpoint: str,
    benchmark: DataFrame | None = None,
    min_quality: float = 0.5,
    min_chars: int = 100,
    contamination_threshold: float = 0.5,
    signature_dir: str | None = None,
    jaccard_threshold: float = 0.5,
    scrub: bool = False,
    checks=None,
    quarantine_path: str | None = None,
    quality_reports: list | None = None,
):
    """Streaming corpus curation: every micro-batch is quality-gated,
    exact-deduplicated by content fingerprint (within the batch AND against
    everything already ingested), optionally decontaminated against a
    benchmark set and NEAR-deduplicated against the whole ingested corpus,
    then appended — the streaming form of ``plans.curation.curate``.

    The batch operators run UNCHANGED inside ``foreachBatch`` (they are
    stateless per batch; the sink itself is the cross-batch state, exactly
    like ``idempotent_sink_stream``'s watermark-by-checkpoint design). The
    anti-join key is the 32-byte sha256 fingerprint, so re-delivered OR
    re-written documents (same text, new doc_id) never land twice — a
    stronger guarantee than id-keyed dedup. ``benchmark`` is re-grammed per
    micro-batch at benchmark-suite size (thousands of docs — broadcast);
    ``localCheckpoint`` the frame if batches are frequent.

    ``signature_dir`` enables cross-batch NEAR-dup suppression via the
    persistent MinHash signature index
    (``operators.dedup.minhash_near_dups_incremental``): only the batch is
    ever shingled — the corpus side of the band join reads the persisted
    (__id, __sig) parquet, so ingest cost stays O(batch), never O(corpus).
    Resolution is first-wins (matches arrival order): a new doc near-dup
    of an already-ingested doc is dropped; within a batch the min doc_id
    of a near-dup pair survives. Dropped docs never write signatures, so
    the index holds exactly the sink's survivors and restart/re-delivery
    cannot double-write it (the fingerprint anti-join empties re-delivered
    batches before the near-dup stage runs). Pairs here are MinHash
    ESTIMATES (>= ``jaccard_threshold``); the exact-verified policy
    remains the periodic batch compaction (``plans.curation
    .compact_corpus``), which also covers pairs an estimate misses.

    Without ``signature_dir`` (default), near-dup resolution stays a
    periodic BATCH compaction over the sink — the pre-r3 behavior.

    ``checks`` (a ``plans.quality.Checks``) composes the data-quality gate
    into the stream: each micro-batch is evaluated against the SAME
    row-level expectation aggregates the batch gate and
    ``observe_quality`` compile (``plans.quality._row_aggs`` — metric
    parity is what lets one declaration serve batch, observer, and this
    gate), and the per-batch report is appended to ``quality_reports``
    (caller-provided list, driver-side). The distinction from the
    row-level ``min_quality`` filter matters: that filter drops BAD ROWS
    silently by design; a batch that FAILS AN EXPECTATION (e.g. a
    completeness collapse — the upstream producer broke) is a poison
    batch and must not be partially ingested at all. On failure the RAW
    batch (as delivered, pre-scrub) is written whole to
    ``{quarantine_path}/ingest_batch_id=N`` by :func:`_admit`, the gate
    the drift and OOV monitors share — a read of ``quarantine_path``
    shows the batch id as an ``ingest_batch_id`` column, and a replayed
    batch rewrites its own directory instead of quarantining twice — for
    replay after the producer fix, and the sink is untouched; with no
    ``quarantine_path`` the batch raises ``QualityCheckError`` instead,
    failing the stream so the checkpoint retries under operator control —
    either way, never a silent drop. Cost: one extra aggregate scan of
    the micro-batch (O(batch), same class as the scoring pass) — the
    verdict must exist BEFORE the sink append, which is exactly what the
    zero-extra-scan ``observe`` pattern cannot give.
    """
    from ..functions.text import fingerprint_sha256, with_quality_score
    from ..operators.contamination import ngram_contamination
    from ..operators.dedup import dedup_exact, minhash_near_dups_incremental

    out_cols = stream_df.columns + ["fp"]

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if checks is not None:
            from ..plans.quality import (
                QualityCheckError,
                _row_aggs,
                report_from_metrics,
            )

            row = batch_df.agg(*_row_aggs(checks)).collect()[0]
            report = report_from_metrics(row, checks)
            failures = [k for k, v in report.items() if not v["ok"]]
            if quality_reports is not None:
                quality_reports.append(
                    {"batch_id": batch_id, "ok": not failures, "report": report}
                )
            if not _admit(
                batch_df, batch_id, not failures,
                QualityCheckError(failures, report), quarantine_path,
            ):
                return
        if scrub:
            # PII redaction is per-row and stateless -> runs unchanged per
            # micro-batch, BEFORE fingerprinting (a redacted and an
            # unredacted copy of the same doc must collide). Boilerplate
            # removal stays batch-side by design: its segment document-
            # frequency is a CORPUS statistic — the streaming form is a
            # periodic compaction that recomputes the boilerplate table
            # over the sink, not a per-batch estimate that drifts.
            from ..functions.text import scrub_pii

            batch_df = batch_df.withColumn("text", scrub_pii("text"))
        scored = with_quality_score(batch_df, "text")
        gated = scored.where(
            (F.col("q") >= min_quality) & (F.length("text") >= min_chars)
        ).drop("q")
        fp = gated.withColumn("fp", fingerprint_sha256("text"))
        batch_unique = dedup_exact(fp, ["fp"], "doc_id")
        # None before the first batch; any other read failure fails the
        # batch -> checkpoint retries
        existing = read_path_if_exists(spark, sink_path)
        fresh = (
            batch_unique
            if existing is None
            else batch_unique.join(existing.select("fp"), "fp", "left_anti")
        )
        if benchmark is not None:
            bad = (
                ngram_contamination(
                    fresh, benchmark, "text", "doc_id",
                    k=8, threshold=contamination_threshold,
                )
                .select("doc_id")
                .distinct()
            )
            fresh = fresh.join(bad, "doc_id", "left_anti")
        if signature_dir is not None:
            corpus_sigs = read_path_if_exists(spark, signature_dir)
            if corpus_sigs is None:  # first batch: no index yet
                corpus_sigs = spark.createDataFrame(
                    [], "__id long, __sig array<bigint>"
                )
            pairs, new_sigs = minhash_near_dups_incremental(
                fresh, corpus_sigs, "text", "doc_id",
                jaccard_threshold=jaccard_threshold,
            )
            # first-wins: every pair touches >= 1 batch doc (the operator
            # excludes corpus x corpus); drop the batch side of a
            # corpus x new pair, and the max id of a new x new pair (pairs
            # are id_a < id_b by construction, so min id survives). Which
            # side is the corpus one is NOT positional — classify each
            # side by membership in the batch id set.
            batch_ids = fresh.select(F.col("doc_id").alias("__bid"))
            a_ids = batch_ids.select(F.col("__bid").alias("__a_new"))
            b_ids = batch_ids.select(F.col("__bid").alias("__b_new"))
            drop = (
                pairs.join(a_ids, pairs["id_a"] == a_ids["__a_new"], "left")
                .join(b_ids, pairs["id_b"] == b_ids["__b_new"], "left")
                .select(
                    F.when(
                        F.col("__a_new").isNotNull()
                        & F.col("__b_new").isNull(),
                        F.col("id_a"),  # new x corpus -> drop the new side
                    )
                    .otherwise(F.col("id_b"))  # corpus x new / new x new
                    .alias("doc_id")
                )
                .distinct()
            )
            # PIN the survivor set before the sink append: fresh's lineage
            # anti-joins against the sink, so re-evaluating it after the
            # append would see the batch's own rows and come back empty —
            # silently skipping the signature write. persist() is NOT
            # enough: the sink write refreshes-by-path every cached plan
            # that READS sink_path (fresh's anti-join does), evicting the
            # cache and re-exposing the stale lineage. localCheckpoint
            # truncates the plan to materialized blocks, which no path
            # refresh can invalidate.
            fresh = fresh.join(drop, "doc_id", "left_anti").localCheckpoint(
                eager=True
            )
            # index only the survivors: dropped docs must not shadow
            # future near-dups of the doc that BEAT them. new_sigs is the
            # operator's checkpoint, so the sink append cannot re-expose
            # its lineage (which reads sink_path via the fingerprint
            # anti-join): the semi-join stays lazy over two checkpoints.
            surv_sigs = new_sigs.join(
                fresh.select(F.col("doc_id").alias("__id")), "__id", "semi"
            )
            # pin column order: parquet appends must agree batch-to-batch.
            # Sink first, sigs second: re-delivery after a crash between
            # the two writes is emptied by the fingerprint anti-join, so
            # the index can never DOUBLE-write (it may under-contain until
            # the next batch compaction, which rebuilds from the sink —
            # the authoritative near-dup pass).
            fresh.select(*out_cols).write.mode("append").parquet(sink_path)
            surv_sigs.write.mode("append").parquet(signature_dir)
        else:
            # pin column order: parquet appends must agree batch-to-batch
            fresh.select(*out_cols).write.mode("append").parquet(sink_path)

    return _drain(stream_df, ingest, checkpoint)


def run_stream_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    """Drain a (bounded, availableNow) stream into an in-memory table for
    tests/smoke; returns the finished query. Real deployments swap this for
    a parquet/Delta/Kafka sink with a durable checkpointLocation."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class DriftError(RuntimeError):
    """A micro-batch drifted past the PSI threshold and no quarantine
    path was configured; the report dict rides on the exception."""

    def __init__(self, psi: float, report: dict):
        super().__init__(f"batch PSI {psi:.4f} exceeded threshold")
        self.psi = psi
        self.report = report


def drift_monitor_stream(
    stream_df: DataFrame,
    baseline: DataFrame,
    value_col: str,
    sink_path: str,
    checkpoint: str,
    psi_threshold: float = 0.2,
    nbins: int = 10,
    drift_reports: list | None = None,
    quarantine_path: str | None = None,
):
    """Streaming drift gate — the online twin of
    ``functions.distribution.population_stability``: every micro-batch's
    ``value_col`` distribution is scored against a STATIC baseline
    snapshot, and a batch whose PSI exceeds ``psi_threshold`` is
    quarantined WHOLE (or fails the stream when no ``quarantine_path``),
    never silently ingested — the quality-gate poison-batch policy
    applied to distribution shift: a producer whose values suddenly come
    from a different regime should stop the pipeline, not tilt the
    corpus.

    The baseline is fitted ONCE at stream build: its exact-percentile
    bin edges and Laplace-smoothed bin shares are BOUNDED model state
    (nbins numbers — the centroid/codebook class), collected driver-side
    and closed over by ``foreachBatch``. Per batch the cost is ONE
    nbins-bounded aggregation of the batch (the edges ride along as an
    array literal — pure codegen, no join); the per-bin PSI fold runs
    driver-side over <= nbins cells. Reports (batch_id, psi, ok,
    per-bin counts) append to ``drift_reports``.
    """
    import math

    if nbins < 2:
        raise ValueError(f"nbins must be >= 2, got {nbins}")
    probs = ", ".join(str(i / nbins) for i in range(1, nbins))
    edges = baseline.agg(
        F.expr(
            f"transform(percentile({value_col}, array({probs})),"
            " b -> bround(b, 6))"
        ).alias("e")
    ).first()["e"]
    # percentile() over zero non-null rows yields NULL (surfacing here as
    # None, or a list with None elements) — fail at stream BUILD with a
    # diagnosable error instead of an opaque TypeError from F.lit(None).
    if edges is None or any(e is None for e in edges):
        raise ValueError(
            f"drift_monitor_stream: baseline has no non-null values for "
            f"{value_col!r} — cannot fit bin edges"
        )
    edge_arr = F.array(*[F.lit(float(e)) for e in edges])
    v = F.col(value_col)

    def _counts(df: DataFrame) -> dict[int, int]:
        rows = (
            df.where(v.isNotNull())
            .select(
                F.size(F.filter(edge_arr, lambda b: v >= b)).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r["bin"]: r["n"] for r in rows}

    base_counts = _counts(baseline)
    n_base = sum(base_counts.values())
    p = [
        (base_counts.get(b, 0) + 1) / (n_base + nbins) for b in range(nbins)
    ]

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        cur = _counts(batch_df)
        n_curr = sum(cur.values())
        q = [(cur.get(b, 0) + 1) / (n_curr + nbins) for b in range(nbins)]
        psi = sum((q[b] - p[b]) * math.log(q[b] / p[b]) for b in range(nbins))
        ok = psi <= psi_threshold
        report = {
            "batch_id": batch_id,
            "psi": psi,
            "ok": ok,
            "n_curr": n_curr,
            "bins": {b: cur.get(b, 0) for b in range(nbins)},
        }
        if drift_reports is not None:
            drift_reports.append(report)
        if _admit(
            batch_df, batch_id, ok, DriftError(psi, report), quarantine_path
        ):
            _append_batch(batch_df, sink_path, batch_id)

    return _drain(stream_df, monitor, checkpoint)


def enrichment_stream(
    stream_df: DataFrame,
    dim: DataFrame,
    key_col: str,
    ts_col: str,
    sink_path: str,
    checkpoint: str,
):
    """Streaming point-in-time enrichment — the online feature-store
    lookup: every micro-batch joins the SCD2 dimension version valid AT
    EACH EVENT'S OWN TIMESTAMP (`operators.history.scd2_lookup` runs
    UNCHANGED inside ``foreachBatch``, the curation-stream composition
    pattern), so late-arriving events pick up the version that was true
    at their event time — not the current one — and features never leak
    forward even under out-of-order delivery.

    The dimension is a static frame here (the common shape: dims refresh
    on a slower cadence than the stream; re-create the stream on dim
    publish, or read the dim fresh inside the closure for
    micro-batch-latest semantics). Per-batch cost is the batch-sized
    side of the bucketized interval join only — the dimension side is
    version-table-sized.
    """
    from ..operators.history import scd2_lookup

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        out = scd2_lookup(batch_df, dim, key_col, ts_col)
        _append_batch(out, sink_path, batch_id)

    return _drain(stream_df, enrich, checkpoint)


class OOVError(RuntimeError):
    """A micro-batch's OOV rate exceeded the threshold and no quarantine
    path was configured; the report dict rides on the exception."""

    def __init__(self, rate: float, report: dict):
        super().__init__(f"batch OOV rate {rate:.4f} exceeded threshold")
        self.rate = rate
        self.report = report


def oov_monitor_stream(
    stream_df: DataFrame,
    reference: DataFrame,
    text_col: str,
    sink_path: str,
    checkpoint: str,
    top_k: int = 1000,
    oov_threshold: float = 0.5,
    oov_reports: list | None = None,
    quarantine_path: str | None = None,
):
    """Streaming vocabulary gate — the online twin of
    ``operators.tfidf.vocab_coverage``: every micro-batch's token stream
    is scored against the REFERENCE corpus's top-k head vocabulary, and
    a batch whose OOV occurrence rate exceeds ``oov_threshold`` is
    quarantined WHOLE (or fails the stream when no ``quarantine_path``)
    — the quality-gate poison-batch policy applied to vocabulary shift:
    a producer that starts delivering another language, base64 blobs, or
    template spam should stop the pipeline, not silently degrade the
    tokenizer fit of everything trained downstream.

    The vocabulary is fitted ONCE at stream build (top-k terms, ties
    lexicographic — BOUNDED MODEL STATE, the centroid/codebook class)
    and collected driver-side; per batch the cost is one broadcast
    semi-probe of the batch's exploded tokens against the k-row
    vocabulary frame and a 2-number aggregation. Reports (batch_id,
    n_tokens, n_oov, oov_rate, ok) append to ``oov_reports``.
    """
    from ..functions.text import tokens as _tokens

    ref_toks = reference.select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("__tok")
    )
    vocab_rows = (
        ref_toks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.col("__tok"))
        .limit(top_k)
        .collect()
    )
    if not vocab_rows:
        raise ValueError(
            f"oov_monitor_stream: reference corpus has no tokens in "
            f"{text_col!r} — cannot fit a vocabulary"
        )
    vocab_terms = [r["__tok"] for r in vocab_rows]

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vocab_df = spark.createDataFrame(
            [(t,) for t in vocab_terms], "term string"
        )
        toks = batch_df.select(
            F.explode(_tokens(F.lower(F.col(text_col)))).alias("__tok")
        )
        agg = (
            toks.join(
                F.broadcast(vocab_df),
                toks["__tok"] == F.col("term"),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("term").isNull().cast("long")).alias("oov"),
            )
            .first()
        )
        n_tokens = agg["n"] or 0
        n_oov = agg["oov"] or 0
        rate = (n_oov / n_tokens) if n_tokens else 0.0
        ok = rate <= oov_threshold
        report = {
            "batch_id": batch_id,
            "n_tokens": n_tokens,
            "n_oov": n_oov,
            "oov_rate": rate,
            "ok": ok,
        }
        if oov_reports is not None:
            oov_reports.append(report)
        if _admit(
            batch_df, batch_id, ok, OOVError(rate, report), quarantine_path
        ):
            _append_batch(batch_df, sink_path, batch_id)

    return _drain(stream_df, monitor, checkpoint)


def ewma_chart_stream(
    daily: DataFrame,
    reference_daily: DataFrame,
    span: int = 10,
    limit_sigmas: float = 3.0,
) -> DataFrame:
    """Streaming twin of ``operators.anomaly.ewma_control_chart`` —
    the small-persistent-shift monitor running live over the daily
    rollup stream (g, date, day_value).

    Split of concerns mirrors the batch op and the drift monitors:
    the CONTROL LIMITS (mean ± L·sigma·sqrt(a/(2-a))) are MODEL STATE
    fixed from ``reference_daily`` (a batch frame — e.g. the trained
    baseline period; exact decimal micro-unit moments, the same
    arithmetic as the batch op), joined broadcast-static after the
    fold so the breach comparison runs through the SAME JVM bround
    expressions as batch — bit-identical flags, no Python re-rounding.
    The EWMA recursion itself is per-key streaming state via
    ``applyInPandasWithState``: (ewma double, step long) = 16 bytes
    per key, bounded by construction, surviving restarts through the
    checkpoint. Rows inside a micro-batch sort by date before the
    fold; feed batches in event-time order (the anomaly_stream
    contract) and the output reproduces the batch chart row-for-row
    (asserted by the parity test, across a restart).
    """
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    a = 2.0 / (span + 1)
    g_type = daily.schema["g"].dataType
    out_schema = T.StructType(
        [
            T.StructField("g", g_type, True),
            T.StructField("date", T.DateType(), True),
            T.StructField("day_value", T.DoubleType(), True),
            T.StructField("ewma", T.DoubleType(), True),
            T.StructField("step", T.LongType(), True),
        ]
    )
    state_schema = "e double, step bigint"

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (g,) = key
        if state.exists:
            e, step = state.get
        else:
            e, step = None, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out = []
        if chunks:
            whole = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ).sort_values("date")
            for r in whole.itertuples():
                x = float(r.day_value)
                e = x if e is None else a * x + (1.0 - a) * e
                e = float(np.round(e, 6))
                step += 1
                out.append(
                    {
                        "g": g,
                        "date": r.date,
                        "day_value": x,
                        "ewma": e,
                        "step": step,
                    }
                )
        state.update((e, step))
        yield pd.DataFrame(
            out, columns=["g", "date", "day_value", "ewma", "step"]
        )

    smoothed = daily.groupBy("g").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    qv = F.round(F.col("day_value") * F.lit(1e6)).cast("decimal(38,0)")
    mom = (
        reference_daily.select("g", qv.alias("q"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("q").alias("__s1"),
            F.sum(F.col("q") * F.col("q")).alias("__s2"),
        )
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s1").cast("double") / F.lit(1e6) / n
    var = F.col("__s2").cast("double") / F.lit(1e12) / n - mean * mean
    width = F.bround(
        F.lit(limit_sigmas)
        * F.sqrt(var)
        * F.sqrt(F.lit(a) / F.lit(2.0 - a)),
        6,
    )
    return smoothed.join(F.broadcast(mom), "g").select(
        "g",
        "date",
        "day_value",
        "ewma",
        F.when(
            (var > 0) & (F.col("step") > span),
            F.bround(F.abs(F.col("ewma") - mean), 6) > width,
        )
        .otherwise(F.lit(False))
        .alias("is_breach"),
    )


def cusum_chart_stream(
    daily: DataFrame,
    reference_daily: DataFrame,
    slack_pct: int = 5,
    h_sigmas: float = 4.0,
) -> DataFrame:
    """Streaming twin of ``operators.anomaly.cusum_chart`` — the
    CUSUM accumulators running live over the daily rollup stream
    (g, date, day_value), with target mean / slack / decision fence
    fixed from ``reference_daily`` (model state, the ewma_chart_stream
    split) and the same running-minimum linearization as batch carried
    as per-key streaming state.

    State per key is FOUR longs: (cs_up, min_up, cs_dn, min_dn) — the
    prefix sum and running minimum of the exact scaled-integer CS
    terms ``100*n*c_i - (100 ± slack)*s1``. The terms are integers by
    construction, so the fold is pure integer addition/min — no float
    state drift across restarts; headroom |term| * days must stay
    inside int64 (fine for daily series through ~1e5 days at ~1e9
    daily cents against a ~1e3-day reference; the batch operator's
    decimal(38,0) path covers anything larger). The dollar ratios and
    the h-sigma breach fence evaluate in the PLAN after the fold,
    through the same JVM expressions as batch — row-for-row parity,
    restart-tested.
    """
    if not 0 <= slack_pct <= 100:
        raise ValueError(f"slack_pct must be in [0, 100], got {slack_pct}")
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    g_type = daily.schema["g"].dataType
    out_schema = T.StructType(
        [
            T.StructField("g", g_type, True),
            T.StructField("date", T.DateType(), True),
            T.StructField("day_value", T.DoubleType(), True),
            T.StructField("csu", T.LongType(), True),
            T.StructField("mnu", T.LongType(), True),
            T.StructField("csd", T.LongType(), True),
            T.StructField("mnd", T.LongType(), True),
        ]
    )
    state_schema = (
        "cs_up bigint, min_up bigint, cs_dn bigint, min_dn bigint"
    )

    mom = (
        reference_daily.select(
            "g",
            F.round(F.col("day_value") * 100).cast("long").alias("__c"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__c").cast("decimal(38,0)")).alias("__s1"),
            F.sum(
                F.col("__c").cast("decimal(38,0)")
                * F.col("__c").cast("decimal(38,0)")
            ).alias("__s2"),
        )
        .select(
            "g",
            F.col("__n").cast("long").alias("n"),
            F.col("__s1").cast("long").alias("s1"),
            "__s2",
        )
    )
    limits = {
        r["g"]: (r["n"], r["s1"]) for r in mom.collect()
    }  # bounded model state: |groups| rows, the drift-monitor pattern
    up_pct, dn_pct = 100 + slack_pct, 100 - slack_pct

    def update(key, pdfs, state):
        import pandas as pd

        (g,) = key
        if state.exists:
            csu, mnu, csd, mnd = state.get
        else:
            csu = mnu = csd = mnd = 0
        n, s1 = limits.get(g, (0, 0))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out = []
        if chunks and n > 0:
            whole = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ).sort_values("date")
            for r in whole.itertuples():
                c = int(round(r.day_value * 100))
                csu += 100 * n * c - up_pct * s1
                csd += dn_pct * s1 - 100 * n * c
                mnu = min(mnu, csu)
                mnd = min(mnd, csd)
                out.append(
                    {
                        "g": g,
                        "date": r.date,
                        "day_value": float(r.day_value),
                        "csu": csu,
                        "mnu": min(0, mnu),
                        "csd": csd,
                        "mnd": min(0, mnd),
                    }
                )
        state.update((csu, mnu, csd, mnd))
        yield pd.DataFrame(
            out,
            columns=["g", "date", "day_value", "csu", "mnu", "csd", "mnd"],
        )

    folded = daily.groupBy("g").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / 100.0 / n
    var = F.col("__s2").cast("double") / 10000.0 / n - mean * mean
    fence = F.bround(F.lit(h_sigmas) * F.sqrt(var), 6)
    scale = F.col("n").cast("double") * 10000.0
    cpos = (F.col("csu") - F.col("mnu")).cast("double") / scale
    cneg = (F.col("csd") - F.col("mnd")).cast("double") / scale
    return folded.join(F.broadcast(mom), "g").select(
        "g",
        "date",
        "day_value",
        cpos.alias("cusum_pos"),
        cneg.alias("cusum_neg"),
        F.when(
            var > 0,
            (F.bround(cpos, 6) > fence) | (F.bround(cneg, 6) > fence),
        )
        .otherwise(F.lit(False))
        .alias("is_breach"),
    )


def fdr_monitor_stream(
    stream_df: DataFrame,
    key_col: str,
    flag_col: str,
    state_path: str,
    checkpoint: str,
    q: float = 0.1,
    reports: list | None = None,
):
    """Streaming twin of the X115 slice scan — `two_prop_scan |>
    bh_reject` running live: every micro-batch's per-key (n, positives)
    counts MERGE into a persisted cumulative count table (the
    aggregate_state discipline: exact integer counts form a
    commutative monoid, so the merged state equals the counts over all
    rows ever seen, independent of batch boundaries or restarts), and
    the Benjamini-Hochberg rejection table re-evaluates over the
    CUMULATIVE counts — "which segments' label share is anomalous
    RIGHT NOW, false-discovery-controlled", the honest version of a
    dashboard that eyeballs dozens of segment deltas every refresh.

    Parity by construction: because the state is exact merged
    integers, the post-restart rejection table is IDENTICAL to batch
    `bh_reject(two_prop_scan(all_rows))` — asserted row-for-row by the
    restart test, like the EWMA/CUSUM twins.

    Scale: per batch, ONE map-side-combined aggregation of the batch
    plus a key-grid-bounded merge (the state table is segments, not
    rows) and the bounded BH windows; the driver-side report append is
    one collect of that same bounded grid.

    State commits use the versioned batch-id protocol
    (:func:`_merge_state`): replayed batches report from the
    already-committed state instead of double-merging, and a crash
    mid-write cannot corrupt committed counts. Read back with
    :func:`read_monitor_state`.
    """
    from ..operators.experiment import bh_reject, two_prop_from_counts

    flag = F.col(flag_col)
    key = F.col(key_col)

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        merged = _merge_state(
            batch_df.sparkSession, state_path, batch_id, ["k"],
            lambda: (
                batch_df.where(key.isNotNull() & flag.isNotNull())
                .groupBy(key.alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(flag.cast("long")).alias("pos"),
                )
            ),
        )
        rej = bh_reject(
            two_prop_from_counts(merged, "k", "n", "pos"),
            "k",
            "p_proxy",
            q=q,
        )
        if reports is not None:
            reports.append(
                {
                    "batch_id": batch_id,
                    "rejected": sorted(
                        r["k"] for r in rej.collect() if r["rejected"] == 1
                    ),
                }
            )

    return _drain(stream_df, monitor, checkpoint)


def _append_batch(df: DataFrame, base_path: str, batch_id: int) -> None:
    """Replay-idempotent foreachBatch file append: each batch writes its
    OWN ``ingest_batch_id=N`` partition directory with overwrite
    semantics, so a replayed batch (foreachBatch is at-least-once)
    rewrites the same files instead of appending duplicates, and a
    crash mid-write is cleaned up by the replay's overwrite. Readers
    see one extra ``ingest_batch_id`` partition column via standard
    partition discovery — the delivery provenance, free. A plain
    ``mode("append")`` sink cannot be made exactly-once (its files are
    not addressable by batch). A data column named ``ingest_batch_id``
    would collide with the discovered partition column, so that is
    rejected loudly."""
    if "ingest_batch_id" in df.columns:
        raise ValueError(
            "_append_batch: the frame already has an 'ingest_batch_id' "
            "column — it would collide with the sink's partition column"
        )
    df.write.mode("overwrite").parquet(
        f"{base_path}/ingest_batch_id={int(batch_id)}"
    )


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` through the session's Hadoop
    configuration — the same resolution Spark's own writers use, so the
    versioned-state protocol below works on any supported filesystem
    (local, HDFS, s3a, ...), not just the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


_COMMIT_MARKER = "_GRAFT_COMMITTED"


def _state_version_dir(state_path: str, batch_id: int) -> str:
    return f"{state_path}/v{batch_id}"


def _committed_versions(spark: SparkSession, state_path: str) -> list[int]:
    """Sorted batch ids of every version directory under ``state_path``
    that carries the protocol's OWN commit marker (written by
    :func:`_commit_state` after the parquet write returns — independent
    of whether the cluster's output committer writes ``_SUCCESS`` files,
    which S3 committers often disable). A crash mid-write leaves no
    marker, so partial versions are invisible to readers and replays."""
    fs, hpath = _hadoop_fs(spark, state_path)
    if not fs.exists(hpath):
        return []
    jvm = spark._jvm
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            marker = jvm.org.apache.hadoop.fs.Path(
                st.getPath(), _COMMIT_MARKER
            )
            if fs.exists(marker):
                out.append(int(name[1:]))
    return sorted(out)


def _latest_complete_version(
    spark: SparkSession, state_path: str
) -> int | None:
    """Largest committed batch id (:func:`_committed_versions`), or
    ``None`` before the first commit."""
    versions = _committed_versions(spark, state_path)
    return versions[-1] if versions else None


def read_monitor_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current contents of a cumulative monitor state table (the latest
    batch-complete version under ``state_path``), or ``None`` before the
    first complete commit. The public read side of the versioned-state
    protocol below."""
    b = _latest_complete_version(spark, state_path)
    if b is None:
        return None
    return spark.read.parquet(_state_version_dir(state_path, b))


def _commit_state(
    merged: DataFrame,
    state_path: str,
    batch_id: int,
    retain_all: bool = False,
) -> None:
    """Commit one batch's merged cumulative state as version
    ``v{batch_id}``. Superseded versions are pruned (the monitor
    default) unless ``retain_all=True`` — the CDC table keeps every
    version for time travel (:func:`read_cdc_table` ``as_of``) and
    defers pruning to the explicit :func:`gc_cdc_versions`.

    Exactly-once discipline for a foreachBatch state sink (the
    Structured Streaming guide's contract: foreachBatch gives
    at-least-once, the SINK must dedup on batch_id):
      * each batch writes a NEW directory named by its batch_id, so the
        previous version is never touched — a crash mid-write cannot
        corrupt or lose committed state (the partial dir has no commit
        marker and is ignored, then overwritten on replay);
      * the commit marker is this protocol's own zero-byte file,
        created AFTER the parquet write returns — correctness does not
        depend on the cluster's committer writing ``_SUCCESS``;
      * a replayed batch (crash AFTER the state commit but BEFORE the
        checkpoint commit) finds ``latest >= batch_id`` and skips the
        merge — no double count;
      * versions below the committed one are pruned after the commit.
    All fs operations go through the Hadoop FileSystem API resolved
    from the session configuration, so the protocol runs unchanged on
    local disk, HDFS, or object stores.

    Writing to a fresh path also means the merged plan may read the
    previous version lazily — no localCheckpoint needed (the
    parquet-overwrite-own-lineage rule only bites same-path rewrites).
    """
    spark = merged.sparkSession
    vdir = _state_version_dir(state_path, batch_id)
    merged.write.mode("overwrite").parquet(vdir)
    fs, _ = _hadoop_fs(spark, state_path)
    jvm = spark._jvm
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{vdir}/{_COMMIT_MARKER}"), True
    ).close()
    if retain_all:
        return
    root = jvm.org.apache.hadoop.fs.Path(state_path)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < batch_id:
            fs.delete(st.getPath(), True)


def _merge_state(
    spark: SparkSession,
    state_path: str,
    batch_id: int,
    keys: list[str],
    cells,
) -> DataFrame:
    """One batch of a cumulative count monitor: ``cells()`` (the batch's
    per-key counts, built only when needed) summed by ``keys`` into the
    latest committed version, committed as ``v{batch_id}``
    (:func:`_commit_state`), and returned re-read from the committed
    files — the pre-commit plan reads the version the commit prunes.
    Every non-key column is summed, so the state is exact integers
    whatever the batch boundaries. A replayed batch (its version, or a
    later one, already committed) builds nothing and gets the committed
    state back, never a second merge. A corrupt previous version fails
    the batch instead of silently resetting the counts."""
    last = _latest_complete_version(spark, state_path)
    if last is not None and last >= batch_id:
        return spark.read.parquet(_state_version_dir(state_path, last))
    merged = cells()
    if last is not None:
        merged = (
            spark.read.parquet(_state_version_dir(state_path, last))
            .unionByName(merged)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in merged.columns if c not in keys])
        )
    _commit_state(merged, state_path, batch_id)
    # the known schema spares the re-read its schema-inference job
    return spark.read.schema(merged.schema).parquet(
        _state_version_dir(state_path, batch_id)
    )


def cm_sketch_stream(
    stream_df: DataFrame,
    text_col: str,
    state_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 2048,
    delimiter: str = " ",
):
    """Streaming twin of the X21 count-min sketch — the mergeable
    (depth x width) counter grid maintained live: every micro-batch's
    term cells MERGE into a persisted cumulative grid by cell-wise
    sum, the textbook mergeability property of the sketch (a CM grid
    is a vector of counters, so the merged grid is EXACTLY the grid of
    all rows ever seen, independent of batch boundaries or restarts).
    Point-query the state parquet at any time with
    ``operators.sketches.cm_estimate`` — "how often has this term
    appeared across the whole stream so far" with bounded memory,
    the frequency side of the monitoring stack beside the FDR slice
    monitor (proportions) and the drift/OOV gates (distributions).

    Parity by construction (exact integer cell sums), asserted
    row-for-row against the batch sketch by the restart test. Scale:
    per batch ONE map-side-combined aggregation onto the bounded grid
    plus a grid-sized merge; the state table is <= depth*width rows
    forever.

    State commits use the versioned batch-id protocol
    (:func:`_merge_state`): replayed batches are skipped instead of
    double-merged, and a crash mid-write cannot corrupt committed
    state. Read the grid back with :func:`read_monitor_state`.
    """
    from ..operators.sketches import count_min_sketch

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _merge_state(
            batch_df.sparkSession, state_path, batch_id, ["row", "bucket"],
            lambda: count_min_sketch(
                batch_df, text_col, depth=depth, width=width,
                delimiter=delimiter,
            ),
        )

    return _drain(stream_df, merge, checkpoint)


def domain_cap_monitor_stream(
    stream_df: DataFrame,
    domain_col: str,
    tokens_col: str,
    state_path: str,
    checkpoint: str,
    doc_cap: int,
    token_budget: int,
    reports: list | None = None,
):
    """Streaming twin of the X120/X122 domain-cap governance — the
    ingest-side monitor: every micro-batch's per-domain (docs, tokens)
    counts MERGE into a persisted cumulative table (exact integer
    counts form a commutative monoid — the aggregate_state discipline,
    so the merged state equals the counts over all rows ever seen,
    independent of batch boundaries or restarts), and each batch
    reports which domains are past either cap RIGHT NOW — the signal an
    ingest gate consults to start dropping (or re-routing) a domain
    that is flooding the crawl.

    Parity by construction: the post-restart over-cap table is
    IDENTICAL to batch ``over_cap_domains(all_rows)`` — asserted
    row-for-row by the restart test, like the FDR/CM twins. NULL
    domains are counted as a class (``groupBy`` groups NULLs together),
    exactly as the batch twin does — an unattributed flood must trip
    the gate too, and filtering NULLs here would silently break the
    claimed row-for-row parity.

    Scale: per batch ONE map-side-combined aggregation of the batch
    onto the domain key plus a domain-bounded merge (the state table is
    domains, not rows); the report append is one collect of the
    bounded over-cap slice.

    State commits use the versioned batch-id protocol
    (:func:`_merge_state`): a replayed batch (crash between the state
    commit and the checkpoint commit) is detected by ``latest >=
    batch_id`` and reported from the already-committed state instead of
    double-merged, and a crash mid-write cannot corrupt committed state.
    Read the cumulative table back with :func:`read_monitor_state`.
    """
    dom = F.col(domain_col)

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        merged = _merge_state(
            batch_df.sparkSession, state_path, batch_id, ["domain"],
            lambda: batch_df.groupBy(dom.alias("domain")).agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(tokens_col).cast("long")).alias("tokens"),
            ),
        )
        if reports is not None:
            over = (
                merged.where(
                    (F.col("n_docs") > doc_cap)
                    | (F.col("tokens") > token_budget)
                )
                .orderBy("domain")
                .collect()
            )
            reports.append(
                {
                    "batch_id": batch_id,
                    "over_cap": [
                        (r["domain"], r["n_docs"], r["tokens"]) for r in over
                    ],
                }
            )

    return _drain(stream_df, monitor, checkpoint)


def _part_dir_name(p) -> str:
    """Filesystem-safe, collision-free directory name for a partition
    value: plain alphanumeric values keep a readable ``p-<value>`` form,
    anything else (path separators, spaces, unicode) becomes
    ``px-<hex(utf8)>`` — distinct prefixes, so a sanitized name can
    never collide with a literal one. NULL partitions get their own
    ``p-null`` marker (the literal string "null" hex-encodes, so no
    clash). The partition VALUE itself is stored as a regular column in
    the data files — the directory name is only a commit-protocol
    address."""
    import re

    if p is None:
        return "p-null"
    s = str(p)
    if re.fullmatch(r"[A-Za-z0-9_.\-]+", s) and s != "null":
        return f"p-{s}"
    return "px-" + s.encode("utf-8").hex()


_PRUNE_MARKER_PREFIX = "_GRAFT_PRUNED_BELOW_"
_GC_STAGING_PREFIX = "gc"


def _pruned_below(spark: SparkSession, pdir: str) -> int | None:
    """Version-GC horizon for one partition directory: the largest
    ``_GRAFT_PRUNED_BELOW_{n}`` marker, or ``None`` if the partition was
    never version-pruned. The horizon rides the marker FILENAME (no
    content I/O) and markers only ever increase — a crash between
    writing the new marker and deleting the old ones leaves the max
    correct."""
    fs, hpath = _hadoop_fs(spark, pdir)
    if not fs.exists(hpath):
        return None
    best = None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith(_PRUNE_MARKER_PREFIX):
            tail = name[len(_PRUNE_MARKER_PREFIX):]
            if tail.isdigit():
                n = int(tail)
                if best is None or n > best:
                    best = n
    return best


def _cdc_partition_dirs(spark: SparkSession, table_path: str) -> list[str]:
    fs, root = _hadoop_fs(spark, table_path)
    if not fs.exists(root):
        return []
    return [
        f"{table_path}/{st.getPath().getName()}"
        for st in fs.listStatus(root)
        if st.isDirectory()
    ]


def read_cdc_table(
    spark: SparkSession,
    table_path: str,
    as_of: int | None = None,
    with_tombstones: bool = False,
) -> DataFrame | None:
    """Contents of a :func:`cdc_apply_stream` table: the union of every
    partition directory's latest batch-complete version, with delete
    tombstones filtered out; ``None`` before the first commit. One
    multi-path parquet read — the partition value is stored as a
    REGULAR column in the files (the directory layout is a
    commit-protocol detail, not Hive partitioning, so a half-written
    version can never leak into reads).

    ``as_of=B`` time-travels: each partition contributes its largest
    committed version ``<= B`` (a partition whose EARLIEST version is
    above ``B`` did not exist at batch ``B`` and is skipped — exact
    because the table retains every version until
    :func:`gc_cdc_versions` prunes; reading below a partition's pruned
    horizon raises instead of silently conflating "pruned" with
    "created later"). Note :func:`gc_cdc_tombstones` rewrites retained
    versions in place, so time travel reflects tombstone compaction —
    the Delta VACUUM trade.

    Pass ``with_tombstones=True`` for the raw state including deleted
    keys' tombstone rows (the ``_cdc_deleted`` flag retained; the live
    view keeps ``_cdc_seq`` — the applied-sequence metadata — either
    way)."""
    dirs = []
    for pdir in _cdc_partition_dirs(spark, table_path):
        versions = _committed_versions(spark, pdir)
        if as_of is None:
            if versions:
                dirs.append(_state_version_dir(pdir, versions[-1]))
            continue
        horizon = _pruned_below(spark, pdir)
        if horizon is not None and as_of < horizon:
            raise ValueError(
                f"read_cdc_table: as_of={as_of} is below partition "
                f"{pdir!r}'s GC horizon {horizon} — that version was "
                "pruned by gc_cdc_versions and cannot be reconstructed"
            )
        eligible = [b for b in versions if b <= as_of]
        if eligible:
            dirs.append(_state_version_dir(pdir, eligible[-1]))
    if not dirs:
        return None
    raw = spark.read.parquet(*dirs)
    if with_tombstones:
        return raw
    return raw.where(~F.col("_cdc_deleted")).drop("_cdc_deleted")


def gc_cdc_versions(
    spark: SparkSession, table_path: str, keep_versions: int
) -> dict[str, int]:
    """Prune each partition's committed state versions down to the
    newest ``keep_versions`` — the time-travel retention policy for a
    :func:`cdc_apply_stream` table (the table retains every version
    until this runs; cf. Delta's ``delta.logRetentionDuration``).

    Crash-safe ordering per partition: the new horizon marker
    (``_GRAFT_PRUNED_BELOW_{n}``, n = smallest KEPT version) is created
    FIRST, then stale markers are removed, then the pruned version
    directories deleted — a crash at any point leaves the recorded
    horizon at-or-above every surviving deletion, so
    :func:`read_cdc_table` ``as_of`` can always distinguish "pruned"
    (raise) from "partition created later" (skip). Uncommitted partial
    version dirs below the horizon are swept as garbage. Returns
    ``{partition_dir: n_versions_deleted}``."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    jvm = spark._jvm
    deleted: dict[str, int] = {}
    for pdir in _cdc_partition_dirs(spark, table_path):
        versions = _committed_versions(spark, pdir)
        if not versions:
            continue
        kept = versions[-keep_versions:]
        horizon = kept[0]
        fs, hpath = _hadoop_fs(spark, pdir)
        prev = _pruned_below(spark, pdir)
        # the horizon marker means "committed versions below n were
        # DELETED" — written only when that is about to become true, so
        # a partition whose first-ever version is above some as_of
        # still reads as "created later" (skip), never a false raise
        if any(b < horizon for b in versions) and (
            prev is None or horizon > prev
        ):
            fs.create(
                jvm.org.apache.hadoop.fs.Path(
                    f"{pdir}/{_PRUNE_MARKER_PREFIX}{horizon}"
                ),
                True,
            ).close()
        n = 0
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if (
                name.startswith(_PRUNE_MARKER_PREFIX)
                and name[len(_PRUNE_MARKER_PREFIX):].isdigit()
                and int(name[len(_PRUNE_MARKER_PREFIX):]) < horizon
            ):
                fs.delete(st.getPath(), False)
            elif (
                name.startswith("v")
                and name[1:].isdigit()
                and int(name[1:]) < horizon
            ):
                fs.delete(st.getPath(), True)
                n += 1
        if n:
            deleted[pdir] = n
    return deleted


def _recover_staged_swaps(spark: SparkSession, pdir: str) -> None:
    """Complete or discard interrupted in-place version rewrites
    (``gcv{b}`` staging dirs) in one partition directory — shared by
    every rewrite utility (:func:`gc_cdc_tombstones`,
    :func:`compact_cdc_files`). A staged dir whose live version still
    exists (crash before the live delete) or whose commit marker is
    missing (crash mid-write) is discarded; a committed orphan (crash
    between delete and rename) is renamed into place."""
    jvm = spark._jvm
    fs, hpath = _hadoop_fs(spark, pdir)
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (
            name.startswith(_GC_STAGING_PREFIX + "v")
            and name[len(_GC_STAGING_PREFIX) + 1:].isdigit()
        ):
            continue
        b = int(name[len(_GC_STAGING_PREFIX) + 1:])
        staged = st.getPath()
        live = jvm.org.apache.hadoop.fs.Path(_state_version_dir(pdir, b))
        marker = jvm.org.apache.hadoop.fs.Path(staged, _COMMIT_MARKER)
        if fs.exists(live) or not fs.exists(marker):
            # crashed before the live delete (or mid-write): the
            # original version is still committed — discard staging
            fs.delete(staged, True)
        else:
            fs.rename(staged, live)


def _swap_in_staged_version(
    spark: SparkSession, pdir: str, b: int, staged_path: str
) -> None:
    """Commit a fully-written staging dir over live version ``b``:
    write the marker, delete the live dir, rename into place — the
    crash-at-any-point cases are exactly what
    :func:`_recover_staged_swaps` repairs on the next run."""
    jvm = spark._jvm
    fs, _ = _hadoop_fs(spark, pdir)
    vdir = _state_version_dir(pdir, b)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{staged_path}/{_COMMIT_MARKER}"),
        True,
    ).close()
    fs.delete(jvm.org.apache.hadoop.fs.Path(vdir), True)
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(staged_path),
        jvm.org.apache.hadoop.fs.Path(vdir),
    )


def compact_cdc_files(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    max_files: int | None = None,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction for a :func:`cdc_apply_stream` table — the
    OPTIMIZE analog completing the lakehouse trio (X135 versioned
    commits, X138 retention GC, this bin-packing rewrite). Streaming
    micro-batches leave each partition's latest version as many tiny
    part files (one per shuffle task per batch); readers then pay
    per-file open/footer cost. This rewrites each partition's LATEST
    committed version in place into ``ceil(bytes / target_file_bytes)``
    files (floor 1; ``max_files`` caps it), rows and schema untouched.

    Same staged-swap protocol and trades as :func:`gc_cdc_tombstones`:
    OFFLINE utility (run with the stream stopped), crash mid-swap
    repaired by the next run of ANY rewrite utility, concurrent readers
    during the swap window may see the previous retained version, and
    time travel reflects the rewrite (same batch id — compaction
    changes layout, never content). Only the latest version compacts:
    older retained versions are time-travel substrate on their way to
    :func:`gc_cdc_versions`, not read-path hot spots.

    Partitions already at-or-below the target file count are skipped —
    the rewrite (read + shuffle-free coalesce + write) costs one
    partition-sized job, so idempotent re-runs are cheap no-ops.
    Returns ``{partition_dir: (files_before, files_after)}`` for the
    partitions rewritten."""
    if target_file_bytes < 1:
        raise ValueError(
            f"target_file_bytes must be >= 1, got {target_file_bytes}"
        )
    if max_files is not None and max_files < 1:
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    compacted: dict[str, tuple[int, int]] = {}
    for pdir in _cdc_partition_dirs(spark, table_path):
        _recover_staged_swaps(spark, pdir)
        versions = _committed_versions(spark, pdir)
        if not versions:
            continue
        b = versions[-1]
        vdir = _state_version_dir(pdir, b)
        fs, _ = _hadoop_fs(spark, vdir)
        vpath = spark._jvm.org.apache.hadoop.fs.Path(vdir)
        data_files = [
            st
            for st in fs.listStatus(vpath)
            if st.isFile() and st.getPath().getName().startswith("part-")
        ]
        total = sum(st.getLen() for st in data_files)
        k = max(1, -(-total // target_file_bytes))
        if max_files is not None:
            k = min(k, max_files)
        if len(data_files) <= k:
            continue
        staged_path = f"{pdir}/{_GC_STAGING_PREFIX}v{b}"
        # same-path-overwrite lineage rule: the read source is the live
        # dir, the write target is the staging dir — no checkpoint
        spark.read.parquet(vdir).coalesce(int(k)).write.mode(
            "overwrite"
        ).parquet(staged_path)
        _swap_in_staged_version(spark, pdir, b, staged_path)
        n_after = sum(
            1
            for st in fs.listStatus(vpath)
            if st.isFile() and st.getPath().getName().startswith("part-")
        )
        compacted[pdir] = (len(data_files), n_after)
    return compacted


def gc_cdc_tombstones(
    spark: SparkSession, table_path: str, seq_horizon: int
) -> dict[str, int]:
    """Expire delete tombstones whose applied sequence is at-or-below
    ``seq_horizon`` from each partition's LATEST committed version —
    the ``_cdc_seq``-horizon retention policy the tombstone design
    defers to the caller. Run it once the changelog's lateness bound
    has passed the horizon: an expired tombstone's key can no longer
    receive a legitimately late pre-delete event, so dropping the row
    frees state without resurrection risk. NULL-sequence tombstones are
    KEPT (they cannot be ordered against a horizon; any dated late
    event outranks them anyway, so they are bounded, not leaking).

    OFFLINE utility — run with the stream stopped. The rewrite is a
    staged rename (write ``gcv{b}`` + commit marker, delete ``v{b}``,
    rename into place); a crash mid-swap is recovered by the NEXT run
    (each partition first completes any interrupted rename), so rerun
    after a crash before restarting the stream. Concurrent readers
    during the swap window may see the previous retained version.
    Returns ``{partition_dir: n_tombstones_expired}``."""
    expired: dict[str, int] = {}
    for pdir in _cdc_partition_dirs(spark, table_path):
        _recover_staged_swaps(spark, pdir)
        versions = _committed_versions(spark, pdir)
        if not versions:
            continue
        b = versions[-1]
        vdir = _state_version_dir(pdir, b)
        cur = spark.read.parquet(vdir)
        dead = F.col("_cdc_deleted") & F.col("_cdc_seq").isNotNull() & (
            F.col("_cdc_seq") <= F.lit(seq_horizon)
        )
        n = cur.where(dead).count()
        if n == 0:
            continue
        # same-path-overwrite lineage rule: stage reads the OLD dir, so
        # no checkpoint needed — the write target is the staging dir
        staged_path = f"{pdir}/{_GC_STAGING_PREFIX}v{b}"
        cur.where(~dead).write.mode("overwrite").parquet(staged_path)
        _swap_in_staged_version(spark, pdir, b, staged_path)
        expired[pdir] = n
    return expired


def cdc_apply_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str,
    partition_col: str,
    table_path: str,
    checkpoint: str,
    backfill_warn_partitions: int = 256,
):
    """Streaming twin of X132 — the lakehouse ``APPLY CHANGES INTO``: a
    live changelog stream (row images + I/U/D op + monotone sequence)
    continuously maintained as a keyed table on disk, with the
    guarantees the batch operator cannot give alone:

    * **partition-scoped rewrites** — each micro-batch rewrites ONLY the
      partitions its events touch (the driver loops over the batch's
      touched partition values, bounded by arrival patterns, one
      partition-sized job each); a 10^5-partition table absorbing a
      batch that touches 3 partitions does 3 partition-sized rewrites,
      the file-pruning behavior a table format's MERGE gives. Partition
      directory names are sanitized (:func:`_part_dir_name`) so string
      partition values with path separators address one directory.
    * **replay idempotency** — every partition directory is its own
      versioned state (``part/v{batch_id}`` + commit marker, the
      :func:`_commit_state` protocol): a replayed batch skips
      partitions whose latest version already covers it, so
      at-least-once foreachBatch delivery never double-applies and a
      crash between partition commits resumes exactly where it stopped
      (already-committed partitions skip, the rest apply);
    * **out-of-order protection with DELETE TOMBSTONES** — the state
      keeps every key's latest event, including deletes, as
      (``_cdc_seq``, ``_cdc_deleted``): an arriving event at-or-below
      its key's applied sequence is DROPPED even when that key is
      deleted (without the tombstone, a late pre-delete shard would
      silently resurrect the row — the regression the Delta APPLY
      CHANGES sequencing rule exists to stop). NULL-sequence events
      rank below every dated one (the batch operator's has-sequence
      flag — an explicit field, not a sentinel value, so a genuine
      MIN_LONG sequence still outranks an undated event), so an undated
      event never displaces applied state. Tombstone retention is
      enforced by :func:`gc_cdc_tombstones` (``_cdc_seq``-horizon
      expiry once the changelog's lateness bound has passed).
    * **time travel + explicit GC** — every partition keeps ALL its
      committed versions (``retain_all`` commits); read any past batch
      with :func:`read_cdc_table` ``as_of`` and prune history with
      :func:`gc_cdc_versions` (which records the pruned horizon so an
      as-of read below it raises instead of lying).

    Backfill guardrail: each micro-batch runs one partition-sized job
    per touched partition, SEQUENTIALLY — correct and crash-resumable,
    but a backfill batch touching 10^4 partitions becomes 10^4 serial
    jobs. Above ``backfill_warn_partitions`` touched values the apply
    emits a ``UserWarning`` naming the count and the remedies (raise
    ``maxFilesPerTrigger``-style source ceilings so batches stay
    partition-bounded, or coarsen ``partition_col``) so a long backfill
    is visibly progressing, not hung.

    Within a batch, net-effect reduction is the X132 ``max_by``
    discipline via the shared :func:`operators.evolution._net_changes`
    (no window, no per-key sort; duplicate (key, seq) raises in-plan).
    Read the live table back with :func:`read_cdc_table`. Parity: the
    live table equals batch ``apply_changelog`` over the full ordered
    log — asserted by the restart test.
    """
    from ..operators.evolution import _net_changes

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()
        payload_cols = [
            c for c in batch_df.columns if c not in (seq_col, op_col)
        ]
        touched = [
            r["p"]
            for r in batch_df.select(
                F.col(partition_col).alias("p")
            ).distinct().collect()
        ]
        if len(touched) > backfill_warn_partitions:
            import warnings

            warnings.warn(
                f"cdc_apply_stream: batch {batch_id} touches "
                f"{len(touched)} partitions (> {backfill_warn_partitions})"
                " — each commits as its own sequential partition-sized "
                "job; a backfill this wide will take a while (bound the "
                "source's per-trigger intake or coarsen partition_col "
                "to keep batches partition-bounded)",
                stacklevel=2,
            )
        for p in sorted(touched, key=lambda v: (v is None, str(v))):
            pdir = f"{table_path}/{_part_dir_name(p)}"
            last = _latest_complete_version(spark, pdir)
            if last is not None and last >= batch_id:
                # replayed batch: this partition already committed
                continue
            ev = batch_df.where(
                F.col(partition_col).eqNullSafe(F.lit(p))
            )
            if last is not None:
                cur = spark.read.parquet(_state_version_dir(pdir, last))
                # sequencing rule: drop events at-or-below the key's
                # applied sequence — tombstones included, so a late
                # pre-delete shard cannot resurrect a deleted key. The
                # order is (has-sequence, sequence): a NULL event
                # sequence ranks below everything applied, via an
                # explicit flag rather than a MIN_LONG sentinel, so a
                # genuine sequence of -2^63 still outranks an undated
                # applied event (the _net_changes rule)
                applied = cur.select(
                    *key_cols,
                    F.col("_cdc_seq").isNotNull().cast("int").alias(
                        "__applied_n"
                    ),
                    F.coalesce(
                        F.col("_cdc_seq").cast("long"), F.lit(0)
                    ).alias("__applied_s"),
                )
                ev_n = F.col(seq_col).isNotNull().cast("int")
                ev_s = F.coalesce(F.col(seq_col).cast("long"), F.lit(0))
                ev = (
                    ev.join(applied, on=key_cols, how="left")
                    .where(
                        F.col("__applied_n").isNull()
                        | (ev_n > F.col("__applied_n"))
                        | (
                            (ev_n == F.col("__applied_n"))
                            & (ev_s > F.col("__applied_s"))
                        )
                    )
                    .drop("__applied_n", "__applied_s")
                )
            else:
                cur = spark.createDataFrame(
                    [],
                    batch_df.select(
                        *payload_cols,
                        F.col(seq_col).cast("long").alias("_cdc_seq"),
                        F.lit(False).alias("_cdc_deleted"),
                    ).schema,
                )
            net = _net_changes(ev, key_cols, seq_col, op_col)
            net_rows = net.select(
                *key_cols,
                "__row.*",
                F.col("__seq").alias("_cdc_seq"),
                (F.col("__op") == "D").alias("_cdc_deleted"),
            ).select(*cur.columns)
            new_state = cur.join(
                net.select(*key_cols), on=key_cols, how="left_anti"
            ).unionByName(net_rows)
            _commit_state(new_state, pdir, batch_id, retain_all=True)

    return _drain(stream_df, apply, checkpoint)


def ivf_index_stream(
    stream_df: DataFrame,
    centroids: list[list[float]],
    index_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
):
    """Streaming twin of X137's persisted IVF index — continuous index
    MAINTENANCE: each embedding micro-batch is cell-assigned (the
    ann_join scoring, 1e-6-quantized ties-to-lowest-cell) and appended
    to the assignment table exactly-once via the ``ingest_batch_id=N``
    partition-dir protocol (:func:`_append_batch` — a replayed batch
    overwrites its own directory, never duplicates). The centroid model
    state is written ONCE at stream setup in the
    ``operators.similarity.save_ivf_index`` layout, so
    ``load_ivf_index(spark, index_path)`` and ``ann_join(...,
    corpus_cells=...)`` read a streamed index and a batch-built index
    identically (parity pinned by test: streamed over N batches ==
    ``build_ivf_index`` over the union).

    The minhash incremental-signature discipline applied to ANN: the
    corpus is never re-assigned — only each arriving batch pays
    assignment cost (one narrow projection), and every later query
    batch joins the stored cells. Id dedup across batches is the
    upstream contract (same as the signature index): a vec_id arriving
    twice indexes twice.

    Centroids are FROZEN at stream start (the standard IVF serving
    trade — re-clustering is an offline rebuild, not a streaming
    operation) by :func:`_freeze_models`, the guard of all four index
    streams: a restart with DIFFERENT centroids against the same
    ``index_path`` raises rather than silently mixing two quantizers,
    and an existing-but-UNREADABLE centroid file raises too (fail
    closed — a torn model write must not disable the mismatch guard).
    A path whose ``assignments/`` a saver wrote flat is refused
    (:func:`_refuse_flat_assignments`).
    """
    from ..operators.similarity import _annotate_cells

    _refuse_flat_assignments(
        stream_df.sparkSession, index_path, "ivf_index_stream"
    )
    _freeze_models(
        stream_df.sparkSession, index_path, {"centroids": centroids},
        "ivf_index_stream", "centroid model",
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        asn = _annotate_cells(batch_df, centroids, vec_col, round_to).select(
            id_col, "__cell"
        )
        _append_batch(asn, f"{index_path}/assignments", batch_id)

    return _drain(stream_df, apply, checkpoint)


def pq_index_stream(
    stream_df: DataFrame,
    cents6: list[list[int]],
    books6: list[list[list[int]]],
    index_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming twin of X157's CODED index — continuous IVF-PQ index
    maintenance: each embedding micro-batch is cell-assigned under the
    frozen exact quantizer (``assign_cells_l2q`` — the X146 integer
    metric, so streamed and batch-built assignments are bit-identical)
    AND PQ-encoded under the frozen X156 codebook
    (``pq_encode_exact``), and the ``(id, __cell, __codes)`` rows
    append exactly-once via the ``ingest_batch_id=N`` partition-dir
    protocol (:func:`_append_batch`). The corpus pays assignment +
    encode cost once, at arrival; every later query batch serves
    ``ann_join_pq`` straight from the stored BYTES — at 100 TB the
    streamed index is the only thing the serving scan ever reads.

    BOTH models are FROZEN at stream start by :func:`_freeze_models`
    and persisted beside the index in the :func:`_write_models` layout
    that ``save_pq_index`` also writes: a restart against the same
    ``index_path`` with a different quantizer OR codebook raises,
    including a stored codebook that is a strict superset of the
    wanted one; an existing-but-UNREADABLE model file also raises
    (fail closed — a torn model write must not disable the mismatch
    guard). Re-clustering / re-fitting is an offline rebuild.
    A path that ``save_pq_index`` or ``pq_index_compact`` wrote holds
    flat assignments and is refused (:func:`_refuse_flat_assignments`).
    Load with :func:`load_pq_index`.
    """
    from ..operators.similarity import (
        _validate_books6,
        assign_cells_l2q,
        pq_encode_exact,
    )

    _validate_books6(books6, "pq_index_stream")
    _refuse_flat_assignments(
        stream_df.sparkSession, index_path, "pq_index_stream"
    )
    _freeze_models(
        stream_df.sparkSession, index_path,
        {"cents6": cents6, "books6": books6},
        "pq_index_stream", "quantizer/codebook",
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        coded = assign_cells_l2q(
            batch_df, cents6, n_probe=1, vec_col=vec_col, id_col=id_col
        ).join(
            pq_encode_exact(
                batch_df, books6, vec_col=vec_col, id_col=id_col
            ),
            on=id_col,
        )
        _append_batch(coded, f"{index_path}/assignments", batch_id)

    return _drain(stream_df, apply, checkpoint)


def _files_under(spark: SparkSession, path: str):
    """Yield the Hadoop ``FileStatus`` of every file under ``path`` — a
    driver-side walk, no Spark job. ``listStatus`` per directory, not
    ``listFiles(recursive=True)``: the latter builds a
    ``LocatedFileStatus`` per file, which copies owner and permissions;
    on the local filesystem without the native Hadoop library those
    load by running ``ls -ld`` once per file (measured 45-160 ms against
    6-8 ms for an 8-file index)."""
    fs, root = _hadoop_fs(spark, path)
    dirs = [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            if st.isDirectory():
                dirs.append(st.getPath())
            else:
                yield st


def _index_fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """Sorted ``(path, length, modificationTime)`` of every file under
    ``path`` (:func:`_files_under`), or None when the path does not
    exist."""
    fs, root = _hadoop_fs(spark, path)
    if not fs.exists(root):
        return None
    return tuple(sorted(
        (st.getPath().toString(), st.getLen(), st.getModificationTime())
        for st in _files_under(spark, path)
    ))


# _fresh_shared's entries: (applicationId, *key) -> [lock, fingerprint,
# result]
_SHARED: dict[tuple, list] = {}
_SHARED_LOCK = threading.Lock()


def _fresh_shared(spark: SparkSession, key: tuple, path: str, build):
    """``build()`` reused while the files under ``path`` keep their
    fingerprint (:func:`_index_fingerprint`) — the one freshness
    contract of every shared build in the query registry (``path`` is
    its ``sf_dir``) and of every persisted-index load (``path`` is the
    index). The entry is keyed on ``(applicationId, *key)``; entries of
    other application ids, locks included, are evicted on every call
    (their frames died with the old context). The fingerprint is taken
    BEFORE ``build()`` runs, so files that change during a build only
    make the next call build again; a registry build that writes an
    index writes it under ``_ivf_scratch_path``, outside ``sf_dir``, so
    it never changes its own fingerprint. A missing ``path`` never
    hits: ``build()`` runs and raises as an uncached read does. What the
    fingerprint cannot see is an in-place rewrite that keeps a file's
    name, length and modification time.

    Concurrent callers of one key serialize on the entry's lock (one
    build, the rest read it); distinct keys build in parallel, and a
    build that calls another key's helper nests without cycles.

    A DataFrame, as the value or as an element of a tuple value, is
    returned as is (DataFrames are immutable); everything else is
    deep-copied on every return, so a caller mutating model state
    cannot reach the entry."""
    app = spark.sparkContext.applicationId
    with _SHARED_LOCK:
        for k in [k for k in _SHARED if k[0] != app]:
            del _SHARED[k]
        entry = _SHARED.setdefault((app, *key), [threading.Lock(), None, None])
    with entry[0]:
        fp = _index_fingerprint(spark, path)
        if fp is None or fp != entry[1]:
            entry[1:] = [fp, build()]
        value = entry[2]
    if isinstance(value, tuple):
        return tuple(_handout(v) for v in value)
    return _handout(value)


def _handout(value):
    return value if isinstance(value, DataFrame) else copy.deepcopy(value)


def _live_assignments(
    spark: SparkSession, index_path: str, apply_tombstones: bool
) -> DataFrame:
    """The stored ``assignments`` of an index, minus its tombstoned ids
    when ``apply_tombstones`` is set (one anti-join)."""
    raw = spark.read.parquet(f"{index_path}/assignments")
    idx = raw.select([c for c in raw.columns if c != "ingest_batch_id"])
    if apply_tombstones:
        fs, tpath = _hadoop_fs(spark, f"{index_path}/tombstones")
        if fs.exists(tpath):
            tomb = spark.read.parquet(f"{index_path}/tombstones").distinct()
            (tomb_id,) = tomb.columns
            idx = idx.join(tomb, on=tomb_id, how="left_anti")
    return idx


# The persisted model layout of every index (IVF, IVF-PQ, IVF-BQ) and of
# the k-means stream state: part directory -> its columns. Each part is
# one parquet file beside assignments/ (or states/) with rows keyed by
# 0-based ints; bqmodel repeats the training count n on every row.
_MODEL_PARTS = {
    "centroids": [("cell", "INT"), ("centroid", "ARRAY<DOUBLE>")],
    "cents6": [("cell", "INT"), ("c6", "ARRAY<BIGINT>")],
    "books6": [("subspace", "INT"), ("code", "INT"), ("c6", "ARRAY<BIGINT>")],
    "bqmodel": [("d", "INT"), ("s6", "BIGINT"), ("n", "BIGINT")],
}


def _model_rows(part: str, model) -> list[tuple]:
    """The stored rows of one model part, in ``_MODEL_PARTS`` order."""
    if part == "books6":
        return [(s, c, v) for s, b in enumerate(model) for c, v in enumerate(b)]
    if part == "bqmodel":
        sums6, n = model
        return [(d, s, n) for d, s in enumerate(sums6)]
    return list(enumerate(model))


def _model_from_rows(part: str, rows: list[tuple]):
    """Rebuild one model part from ALL its rows, never from a wanted
    shape's ranges: a stored model with extra cells, subspaces, codes or
    dimensions reads back larger and fails an equality guard. Raises
    unless the keys are exactly 0..n-1 (cells, subspace x code, d) and a
    bqmodel holds one n."""
    nk = 2 if part == "books6" else 1
    conv = {
        "ARRAY<DOUBLE>": lambda v: [float(x) for x in v],
        "ARRAY<BIGINT>": lambda v: [int(x) for x in v],
        "BIGINT": int,
    }[_MODEL_PARTS[part][nk][1]]
    vals = {tuple(int(k) for k in r[:nk]): r[nk] for r in rows}
    shape = [1 + max((k[i] for k in vals), default=-1) for i in range(nk)]
    # distinct keys, none negative, as many as the box holds: the full box
    if (not rows or len(vals) != len(rows) or math.prod(shape) != len(rows)
            or min(min(k) for k in vals) < 0):
        raise ValueError(f"corrupt {part} model: keys are not 0..n-1")
    if nk == 1:
        model = [conv(vals[(i,)]) for i in range(shape[0])]
    else:
        model = [
            [conv(vals[(s, c)]) for c in range(shape[1])]
            for s in range(shape[0])
        ]
    if part != "bqmodel":
        return model
    ns = {int(r[2]) for r in rows}
    if len(ns) != 1:
        raise ValueError(f"corrupt bqmodel: {len(ns)} training counts")
    return model, ns.pop()


def _write_models(spark: SparkSession, path: str, models: dict) -> None:
    """Write each ``{part: model}`` to ``{path}/{part}`` as one coalesced
    JVM inline table (``inline_rows_df``: a ``createDataFrame(list)``
    frame is a pickled Python RDD, whose parquet write measured ~5 s for
    an 8-row table)."""
    for part, model in models.items():
        inline_rows_df(
            spark, _model_rows(part, model), _MODEL_PARTS[part]
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/{part}")


def _read_model(spark: SparkSession, path: str, part: str):
    """The ``part`` model stored under ``path`` — one O(model) collect,
    rebuilt and checked by :func:`_model_from_rows`."""
    cols = [c for c, _ in _MODEL_PARTS[part]]
    rows = spark.read.parquet(f"{path}/{part}").select(*cols).collect()
    return _model_from_rows(part, [tuple(r) for r in rows])


def _freeze_models(
    spark: SparkSession, path: str, models: dict, who: str, what: str
) -> None:
    """The frozen-model guard of the index streams, run once at stream
    start for each ``{part: model}``: an absent part is written; a
    present one must read back equal to the wanted model, else raise
    ``DIFFERENT {what}`` (appending rows under another model silently
    corrupts the index). A present part that cannot be read raises
    ``UNREADABLE`` — FAIL CLOSED: a torn or corrupt model write must not
    disable the mismatch guard, since the stream cannot tell its own
    partial write from someone else's model. Repair is offline."""
    for part, model in models.items():
        fs, p = _hadoop_fs(spark, f"{path}/{part}")
        if not fs.exists(p):
            _write_models(spark, path, {part: model})
            continue
        want = _model_from_rows(part, _model_rows(part, model))
        try:
            got = _read_model(spark, path, part)
        except Exception as exc:
            raise ValueError(
                f"{who}: UNREADABLE model file at {path}/{part} — cannot "
                "verify the frozen-model contract; repair or clear the path"
            ) from exc
        if got != want:
            raise ValueError(
                f"{who}: {path!r} already holds a DIFFERENT {what} — "
                "mixing models silently corrupts the index; rebuild "
                "offline or point at a fresh path"
            )


def _refuse_flat_assignments(spark: SparkSession, path: str, who: str) -> None:
    """Raise unless ``{path}/assignments`` is absent or in the streamed
    layout (only ``ingest_batch_id=N/`` directories, plus the entries
    Spark's file listing skips). ``save_*_index`` and ``pq_index_compact``
    write flat part files there; once a stream appends
    ``ingest_batch_id=N/`` beside them, partition discovery drops the
    flat files and every load silently loses the saved rows. One
    driver-side ``listStatus``, no Spark job."""
    fs, p = _hadoop_fs(spark, f"{path}/assignments")
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        key, _, n = name.partition("=")
        if not (st.isDirectory() and key == "ingest_batch_id" and n.isdigit()):
            raise ValueError(
                f"{who}: {path}/assignments holds {name!r} outside "
                "ingest_batch_id=N/ — the flat layout save_*_index and "
                "pq_index_compact write; appending batches beside it hides "
                "those rows from every load. Stream into a fresh path"
            )


def load_pq_index(
    spark: SparkSession, index_path: str, apply_tombstones: bool = True
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    """Load a :func:`pq_index_stream` index: ``(coded_assignments_df,
    cents6, books6)`` — the assignments frame is exactly
    :func:`ann_join_pq`'s ``corpus_index`` contract; the model reads
    are O(model).

    ``apply_tombstones`` (X166, default ON — serving a deleted row is
    the bug, so opting OUT is the explicit act): ids appended by
    ``operators.similarity.pq_index_delete`` are subtracted with one
    anti-join; the tombstone side stays small between compactions, so
    the join broadcasts from stats and the assignments scan is still
    the only corpus-sized input. ``apply_tombstones=False`` reads the
    raw table (what :func:`pq_index_compact` itself needs, and the
    audit view of what storage physically holds).

    FRESHNESS CONTRACT: :func:`_fresh_shared`'s, over the files under
    ``index_path`` — ``assignments/``, ``tombstones/``, ``cents6/`` and
    ``books6/``. An unchanged fingerprint returns the cached frame with
    fresh copies of ``cents6``/``books6`` and runs no Spark job; any
    append, delete, compaction or overwrite changes it and reloads (the
    frame must be rebuilt: a reused DataFrame keeps its file listing).
    A removed ``index_path`` raises as an uncached load does. Every
    writer in this package writes new part files, so none rewrites a
    file in place unseen. The listing costs about 1 ms per file on a
    local filesystem (6-8 ms for the 8 files of a saved index with
    tombstones, 4-core host), where an uncached load runs 5 Spark jobs,
    6 with tombstones (a schema read and a collect per model part, a
    schema read each for the assignments and tombstones)."""
    return _fresh_shared(
        spark, (_read_pq_index, index_path, apply_tombstones), index_path,
        lambda: _read_pq_index(spark, index_path, apply_tombstones),
    )


def _read_pq_index(
    spark: SparkSession, index_path: str, apply_tombstones: bool
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    cents6 = _read_model(spark, index_path, "cents6")
    books6 = _read_model(spark, index_path, "books6")
    return _live_assignments(spark, index_path, apply_tombstones), cents6, books6


def bq_index_stream(
    stream_df: DataFrame,
    cents6: list[list[int]],
    sums6: list[int],
    n_fit: int,
    index_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming twin of X167's BIT index (X169) — continuous IVF-BQ
    index maintenance: each embedding micro-batch is cell-assigned
    under the frozen exact quantizer (``assign_cells_l2q``) AND
    sign-bit packed under the frozen :func:`~..operators.similarity.
    bq_fit` thresholds (``bq_encode`` — the exact integer
    strictly-above-mean test, so streamed and batch-built bits are
    bit-identical), and the ``(id, __cell, __bits)`` rows append
    exactly-once via the ``ingest_batch_id=N`` partition-dir protocol
    (:func:`_append_batch`). At 100 TB the streamed bit index — dim/8
    bytes per row — is the only thing the Hamming serving scan ever
    reads.

    BOTH models are FROZEN at stream start by :func:`_freeze_models`
    and persisted beside the index in the :func:`_write_models` layout
    that ``save_bq_index`` also writes (the threshold model is the
    per-dim sums AND the training count n, since the bit test scales by
    n): a restart against the same ``index_path`` with a different
    quantizer OR threshold model raises (reconstructed from ALL stored
    rows — a stored model that is a strict superset of the wanted one
    fails too); an existing-but-UNREADABLE model file also raises (fail
    closed). Re-thresholding is an offline rebuild. A path that
    ``save_bq_index`` or ``pq_index_compact`` wrote holds flat
    assignments and is refused (:func:`_refuse_flat_assignments`).
    Load with :func:`load_bq_index`; tombstone deletes + compaction
    reuse the X166 utilities unchanged (they are payload-agnostic —
    assignments + tombstones dirs, any code schema)."""
    from ..operators.similarity import assign_cells_l2q, bq_encode

    if len(sums6) < 1:
        raise ValueError("bq_index_stream: sums6 must be non-empty")
    if n_fit < 1:
        raise ValueError(f"bq_index_stream: n_fit={n_fit} < 1")
    _refuse_flat_assignments(
        stream_df.sparkSession, index_path, "bq_index_stream"
    )
    _freeze_models(
        stream_df.sparkSession, index_path,
        {"cents6": cents6, "bqmodel": (sums6, n_fit)},
        "bq_index_stream", "quantizer/threshold model",
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        coded = assign_cells_l2q(
            batch_df, cents6, n_probe=1, vec_col=vec_col, id_col=id_col
        ).join(
            bq_encode(
                batch_df, sums6, n_fit, vec_col=vec_col, id_col=id_col
            ),
            on=id_col,
        )
        _append_batch(coded, f"{index_path}/assignments", batch_id)

    return _drain(stream_df, apply, checkpoint)


def load_bq_index(
    spark: SparkSession, index_path: str, apply_tombstones: bool = True
) -> tuple[DataFrame, list[list[int]], list[int], int]:
    """Load a :func:`bq_index_stream` index: ``(bit_assignments_df,
    cents6, sums6, n_fit)`` — the assignments frame is exactly
    :func:`~..operators.similarity.ann_join_bq`'s ``corpus_index``
    contract (queries encode under the returned ``(sums6, n_fit)``);
    the model reads are O(model). ``apply_tombstones``: the X166
    semantics verbatim (ids appended by ``pq_index_delete`` subtract
    with one stats-broadcast anti-join; the utilities never look at
    the code payload, so the bit tier reuses them unchanged).

    FRESHNESS CONTRACT: :func:`_fresh_shared`'s, as for
    :func:`load_pq_index`. The fingerprint covers ``assignments/``,
    ``tombstones/``, ``cents6/`` and ``bqmodel/``; an unchanged one
    returns the cached frame with fresh copies of ``cents6``/``sums6``
    and runs no Spark job."""
    return _fresh_shared(
        spark, (_read_bq_index, index_path, apply_tombstones), index_path,
        lambda: _read_bq_index(spark, index_path, apply_tombstones),
    )


def _read_bq_index(
    spark: SparkSession, index_path: str, apply_tombstones: bool
) -> tuple[DataFrame, list[list[int]], list[int], int]:
    cents6 = _read_model(spark, index_path, "cents6")
    sums6, n_fit = _read_model(spark, index_path, "bqmodel")
    idx = _live_assignments(spark, index_path, apply_tombstones)
    return idx, cents6, sums6, n_fit


def kmeans_state_stream(
    stream_df: DataFrame,
    cents6: list[list[int]],
    state_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming twin of X149's mini-batch incremental refit —
    continuous quantizer-statistics MAINTENANCE: each embedding
    micro-batch computes its per-cell exact integer sufficient
    statistics (``operators.similarity.kmeans_state`` under the FROZEN
    ``cents6``, the X142 rule) and appends that O(n_cells) state row
    set exactly-once via the ``ingest_batch_id=N`` partition-dir
    protocol (:func:`_append_batch` — a replayed batch overwrites its
    own directory). :func:`load_kmeans_state` merges all landed batch
    states (model rows only — the corpus is scanned exactly once, at
    arrival) so ``kmeans_refit`` over the streamed state equals the
    full-union recompute bit-for-bit (exact integers make the merge
    associative; parity pinned by test).

    The quantizer is FROZEN at stream start by :func:`_freeze_models`,
    in the index layout's centroid part: a restart against the same
    ``state_path`` with DIFFERENT centroids raises rather than silently
    merging statistics computed under two metrics, and an
    existing-but-UNREADABLE centroid file raises too (fail closed).
    Re-clustering is an
    offline decision — X47's PSI drift monitor gates WHEN, the merged
    state makes the refit itself a collect-and-divide."""
    _freeze_models(
        stream_df.sparkSession, state_path, {"cents6": cents6},
        "kmeans_state_stream", "quantizer",
    )

    from ..operators.similarity import kmeans_state

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        st = kmeans_state(batch_df, cents6, vec_col=vec_col, id_col=id_col)
        _append_batch(st, f"{state_path}/states", batch_id)

    return _drain(stream_df, apply, checkpoint)


def load_kmeans_state(
    spark: SparkSession, state_path: str
) -> tuple[DataFrame, list[list[int]]]:
    """Load a :func:`kmeans_state_stream` state: ``(merged_state_df,
    cents6)`` — batch states merged per cell (model rows only), ready
    for ``operators.similarity.kmeans_refit``."""
    from ..operators.similarity import merge_kmeans_states

    cents6 = _read_model(spark, state_path, "cents6")
    states = spark.read.parquet(f"{state_path}/states").select(
        "cell", "n", "sums"
    )
    return merge_kmeans_states(states), cents6
