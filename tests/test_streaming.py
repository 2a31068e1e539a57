"""Structured Streaming smoke + batch-parity tests.

The streaming builders reuse the exact DataFrame expressions the batch
operators use, so the batch contract queries (oracle-checked in
test_contract_queries.py) vouch for the semantics; here we verify the
streaming *execution*: the same transformations run under readStream +
watermark + availableNow trigger and produce the same rows as batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alphavantage_etl_spark.sources import load
from alphavantage_etl_spark.streaming import (
    incremental_append_stream,
    read_events_stream,
    run_stream_to_memory,
    sessionize_stream,
    windowed_counts_stream,
)

from .conftest import SF_SMALL

@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # The file stream source watches a DIRECTORY for new files; the fixture
    # is a single parquet file, so stage it the way a landing zone would.
    d = tmp_path_factory.mktemp("events_stream")
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    return str(d)


@pytest.fixture()
def events_stream(spark, events_dir):
    return read_events_stream(spark, events_dir)


@pytest.mark.slow
def test_windowed_counts_stream_matches_batch(spark, events_stream):
    run_stream_to_memory(
        windowed_counts_stream(events_stream), "t_win", mode="append"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.table("t_win").collect()
    }
    batch = (
        load(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
        .collect()
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    # Append mode only emits windows FINALIZED by the watermark: windows
    # ending within (watermark + window) of max event time are held in state
    # at end-of-input. Every emitted window must match batch exactly, and
    # everything older than the horizon must have been emitted.
    assert got, "stream emitted no windows"
    for k, v in got.items():
        assert k in want and want[k][0] == v[0], f"window {k} diverges from batch"
    n_types = len({k[1] for k in want})
    max_held_windows = (2 + 1 + 1) * n_types  # watermark 2d + window 1d + slack
    assert len(got) >= len(want) - max_held_windows


def test_sessionize_stream_runs(spark, events_stream):
    run_stream_to_memory(sessionize_stream(events_stream), "t_sess", mode="append")
    rows = spark.table("t_sess").collect()
    assert rows
    assert {"user_id", "session_start", "last_ts", "n_events"} <= set(
        spark.table("t_sess").columns
    )
    for r in rows:
        assert r["session_start"] <= r["last_ts"]
        assert r["n_events"] >= 1


def test_incremental_append_stream_dedups(spark, events_stream):
    run_stream_to_memory(
        incremental_append_stream(events_stream), "t_inc", mode="append"
    )
    out = spark.table("t_inc")
    n_batch = load(spark, SF_SMALL, "events").count()
    n_stream = out.count()
    n_distinct = out.select("event_id").distinct().count()
    assert n_stream == n_distinct, "duplicate event_ids leaked through"
    assert n_stream == n_batch, "fixture has unique ids; none should drop"


@pytest.mark.slow
def test_attribution_join_stream_matches_batch(spark, events_dir):
    from alphavantage_etl_spark.streaming import attribution_join_stream

    stream = attribution_join_stream(read_events_stream(spark, events_dir))
    run_stream_to_memory(stream, "t_attr", mode="append")
    got = {
        (r["trigger_id"], r["outcome_id"]) for r in spark.table("t_attr").collect()
    }

    # batch reference: identical expression tree over the batch loader
    ev = load(spark, SF_SMALL, "events")
    trig = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("tu"), F.col("ts").alias("tt"), F.col("event_id").alias("ti")
    )
    out = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("ou"), F.col("ts").alias("ot"), F.col("event_id").alias("oi")
    )
    want = {
        (r["ti"], r["oi"])
        for r in trig.join(
            out,
            (F.col("tu") == F.col("ou"))
            & (F.col("tt") <= F.col("ot"))
            & (F.col("ot") <= F.col("tt") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert want, "fixture must contain click->purchase pairs within the horizon"
    # the bounded availableNow drain sees all data; joined pairs must match
    assert got == want


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """The checkpoint IS the watermark store (SURVEY.md ST1): a restarted
    query must pick up exactly the files that arrived while it was down —
    no reprocessing, no loss."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming import read_events_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    ev = load(spark, SF_SMALL, "events")
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    n1, n2 = half1.count(), half2.count()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        # the raw fixture stores ts as TIMESTAMP(NANOS)-as-long; re-encode
        # micros so the staged file matches the stream reader's schema
        df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000
        ).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        q = (
            read_events_stream(spark, str(in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(half1, "batch1")
    drain()
    assert spark.read.parquet(out_dir).count() == n1

    land(half2, "batch2")
    drain()
    out = spark.read.parquet(out_dir)
    assert out.count() == n1 + n2, "restart must add exactly the new file"
    assert out.select("event_id").distinct().count() == n1 + n2


@pytest.mark.slow
def test_idempotent_sink_stream_survives_duplicate_delivery(spark, tmp_path):
    """foreachBatch upsert: duplicate rows arriving in a LATER file (which
    the source checkpoint happily treats as new data) must not duplicate
    keys in the sink."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming import (
        idempotent_sink_stream,
        read_events_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    ev = load(spark, SF_SMALL, "events")
    n_total = ev.count()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000
        ).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    land(ev, "all")
    idempotent_sink_stream(read_events_stream(spark, str(in_dir)), sink, ckpt)
    assert spark.read.parquet(sink).count() == n_total

    # redeliver an overlapping slice as a brand-new file (at-least-once
    # delivery); the sink must keep exactly one row per key
    land(ev.limit(500), "redelivery")
    idempotent_sink_stream(read_events_stream(spark, str(in_dir)), sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == n_total
    assert out.select("event_id").distinct().count() == n_total


@pytest.mark.slow
def test_curation_ingest_stream_end_to_end(spark, tmp_path):
    """Streaming corpus ingest: quality gate, cross-batch fingerprint
    dedup, and benchmark decontamination all hold across micro-batches and
    a checkpoint restart."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        curation_ingest_stream,
        read_documents_stream,
    )

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    sink = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    prose = (
        "the quick brown fox jumps over the lazy dog and it was a good day "
        "for the animals in the field because the sun was out and the wind "
        "was calm over the wide green valley near the old stone bridge"
    )
    other = (
        "the house and the tree and the dog were all by the river watching "
        "the boats go past in the warm light of a long afternoon that "
        "seemed to never end for anyone who was there that day"
    )
    bench_text = (
        "what is the capital of france paris is the capital and largest "
        "city of france situated on the banks of the river seine in the "
        "north of the country in the heart of the region"
    )
    benchmark = spark.createDataFrame(
        [(900, bench_text)], "doc_id long, text string"
    )

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        curation_ingest_stream(
            read_documents_stream(spark, str(in_dir)), sink, ckpt,
            benchmark=benchmark, min_quality=0.3, min_chars=100,
        )

    # batch 1: two copies of the same text (in-batch dup), one short doc
    land([(1, prose), (2, prose), (3, "too short")], "b1")
    drain()
    got = spark.read.parquet(sink)
    assert [r["doc_id"] for r in got.collect()] == [1], (
        "batch 1 must keep only the min-id copy of the duplicated text"
    )

    # batch 2: re-delivery of the same text under a NEW id (cross-batch
    # dup), one genuinely new doc, one contaminated doc (contains the
    # benchmark item verbatim)
    land(
        [(10, prose), (11, other), (12, f"intro words {bench_text} outro")],
        "b2",
    )
    drain()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert kept == [1, 11], (
        "cross-batch dup and contaminated doc must not land; "
        f"got {kept}"
    )

    # restart with nothing new: no growth
    drain()
    assert spark.read.parquet(sink).count() == 2


@pytest.mark.slow
def test_curation_stream_near_dup_via_signature_index(spark, tmp_path):
    """With signature_dir set, a near-duplicate (edited, so the exact
    fingerprint differs) arriving in a LATER batch — and after a stream
    restart — is suppressed via the persisted MinHash signature index,
    without the corpus ever being re-shingled (the index holds exactly one
    signature row per sink survivor and never grows on re-drain)."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        curation_ingest_stream,
        read_documents_stream,
    )

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    sink = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sigs = str(tmp_path / "sigs")

    base = (
        "the quick brown fox jumps over the lazy dog and it was a good day "
        "for the animals in the field because the sun was out and the wind "
        "was calm over the wide green valley near the old stone bridge"
    )
    # same text with a small edit: new sha256 fingerprint, Jaccard ~0.9
    near = base.replace("old stone bridge", "old wooden bridge")
    other = (
        "completely different subject matter entirely numbers and ledgers "
        "and the quiet arithmetic of a long winter evening spent balancing "
        "accounts by candlelight in the back room of the counting house"
    )

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        curation_ingest_stream(
            read_documents_stream(spark, str(in_dir)), sink, ckpt,
            min_quality=0.3, min_chars=100, signature_dir=sigs,
        )

    # batch 1: base doc + an in-batch near-dup pair member (min id wins)
    land([(1, base), (2, near)], "b1")
    drain()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    ) == [1], "in-batch near-dup must collapse to the min id"
    assert [r["__id"] for r in spark.read.parquet(sigs).collect()] == [1], (
        "signature index must hold exactly the survivors"
    )

    # batch 2 AFTER restart (fresh query): near-dup of batch-1 doc under a
    # new id + a genuinely new doc — cross-batch suppression must come
    # from the signature index, since doc 1's text is not in this batch
    land([(10, near), (11, other)], "b2")
    drain()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    ) == [1, 11], "cross-batch near-dup must be dropped, novel doc kept"
    assert sorted(
        r["__id"] for r in spark.read.parquet(sigs).collect()
    ) == [1, 11]

    # re-drain with nothing new: neither sink nor index may grow
    drain()
    assert spark.read.parquet(sink).count() == 2
    assert spark.read.parquet(sigs).count() == 2


@pytest.mark.slow
def test_running_bars_stream_partial_final_and_parity(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: each micro-batch
    re-emits the key's CURRENT partial bar; once the watermark passes
    day end the bar is emitted once more as is_final and its state is
    removed. Bars must equal the batch OHLC aggregate over everything
    seen (including a late row that precedes the stored open), and the
    lifecycle must survive a query restart (state in the checkpoint)."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import running_bars_stream

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    out_dir = str(tmp_path / "bars_out")

    def drain(name):
        # memory sinks cannot recover from a checkpoint; a foreachBatch
        # parquet append can — and is the realistic live-bars sink anyway
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).parquet(str(in_dir))
        q = (
            running_bars_stream(stream, watermark="1 days")
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    from datetime import datetime as dt

    d1 = "2024-03-01"
    # batch 1: day-1 trades, out of order
    land(
        [
            (1, dt(2024, 3, 1, 10, 0), 1, "trade", 105.0, ""),
            (2, dt(2024, 3, 1, 14, 0), 1, "trade", 99.0, ""),
            (3, dt(2024, 3, 1, 12, 0), 1, "trade", 112.0, ""),
        ],
        "b1",
    )
    out1 = drain("bars1")
    bar1 = [r for r in out1 if str(r["day"]) == d1 and not r["is_final"]]
    assert len(bar1) == 1
    r = bar1[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n_events"]) == (
        105.0, 112.0, 99.0, 99.0, 3,
    )
    assert not any(x["is_final"] for x in out1)

    # batch 2 AFTER restart: a LATE day-1 row EARLIER than the stored open
    # (must rewrite open from checkpointed state), plus day-3 rows that
    # push the watermark past day-1 end (+1d watermark) -> day-1 finalizes
    land(
        [
            (4, dt(2024, 3, 1, 9, 0), 1, "trade", 101.0, ""),
            (5, dt(2024, 3, 4, 10, 0), 1, "trade", 50.0, ""),
            (6, dt(2024, 3, 4, 11, 0), 1, "trade", 60.0, ""),
        ],
        "b2",
    )
    out2 = drain("bars2")
    # sink is cumulative (append); the LATEST day-1 partial is the one
    # with the highest n_events — it must include the late row, with the
    # open rewritten 105 -> 101 from checkpointed state
    p1 = max(
        (r for r in out2 if str(r["day"]) == d1 and not r["is_final"]),
        key=lambda r: r["n_events"],
    )
    assert (p1["open"], p1["high"], p1["low"], p1["close"],
            p1["n_events"]) == (101.0, 112.0, 99.0, 99.0, 4)
    # the same drain's trailing no-data micro-batch advances the watermark
    # to Mar 3 11:00, past day-1's timeout stamp (day end + 1d watermark =
    # Mar 3 00:00) -> the final day-1 bar fires IN THIS RUN, after the
    # late-row update (timeouts evaluate against the post-batch watermark)
    f1 = [r for r in out2 if r["is_final"]]
    assert [str(r["day"]) for r in f1] == [d1]
    assert (f1[0]["open"], f1[0]["high"], f1[0]["low"], f1[0]["close"],
            f1[0]["n_events"]) == (101.0, 112.0, 99.0, 99.0, 4)
    # day-4 bar is still live
    assert any(str(r["day"]) == "2024-03-04" and not r["is_final"] for r in out2)

    # batch 3 after another restart: a far-future row finalizes day-4 from
    # checkpointed state; day-1 state is GONE — no duplicate final row
    land([(7, dt(2024, 3, 10, 9, 0), 1, "trade", 1.0, "")], "b3")
    out3 = drain("bars3")
    f4 = [r for r in out3 if r["is_final"] and str(r["day"]) == "2024-03-04"]
    assert len(f4) == 1
    assert (f4[0]["open"], f4[0]["high"], f4[0]["low"], f4[0]["close"],
            f4[0]["n_events"]) == (50.0, 60.0, 50.0, 60.0, 2)
    assert sum(1 for r in out3 if r["is_final"] and str(r["day"]) == d1) == 1


def test_read_events_stream_cold_start_empty_dir(spark, tmp_path):
    """Stream started BEFORE the first producer batch lands (the normal
    cold-start order): the footer probe has nothing to read, so the reader
    must fall back to the declared timestamp schema instead of raising —
    and still ingest files that appear later."""
    d = tmp_path / "landing"
    d.mkdir()
    stream = read_events_stream(spark, str(d))  # must not raise on empty dir
    assert dict(stream.dtypes)["ts"] == "timestamp"
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    run_stream_to_memory(
        windowed_counts_stream(stream), "t_cold_start", mode="append"
    )
    assert spark.table("t_cold_start").count() > 0


@pytest.mark.slow
def test_curation_stream_quarantines_poison_batch(spark, tmp_path):
    """Quality-gate composition: each micro-batch gets a report from the
    shared expectation aggregates, a batch that fails an expectation is
    QUARANTINED whole (raw rows preserved, sink untouched), and the
    stream keeps ingesting good batches across checkpoint restarts."""
    import glob
    import shutil

    from alphavantage_etl_spark.plans.quality import Checks
    from alphavantage_etl_spark.streaming.pipeline import (
        curation_ingest_stream,
        read_documents_stream,
    )

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    sink = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    quarantine = str(tmp_path / "quarantine")

    prose = (
        "the quick brown fox jumps over the lazy dog and it was a good day "
        "for the animals in the field because the sun was out and the wind "
        "was calm over the wide green valley near the old stone bridge"
    )
    other = (
        "the house and the tree and the dog were all by the river watching "
        "the boats go past in the warm light of a long afternoon that "
        "seemed to never end for anyone who was there that day"
    )

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    reports: list = []
    checks = Checks(complete=["text"], min_completeness=0.9)

    def drain():
        curation_ingest_stream(
            read_documents_stream(spark, str(in_dir)), sink, ckpt,
            min_quality=0.3, min_chars=100,
            checks=checks, quarantine_path=quarantine,
            quality_reports=reports,
        )

    # batch 1: clean -> ingested, report ok
    land([(1, prose, "en", "src0", len(prose))], "b1")
    drain()
    assert [r["doc_id"] for r in spark.read.parquet(sink).collect()] == [1]
    assert len(reports) == 1 and reports[0]["ok"]

    # batch 2 (after restart): producer broke — most texts NULL. The
    # row-level length gate would have dropped the NULLs SILENTLY and
    # ingested doc 11; the expectation gate must instead quarantine the
    # whole batch, doc 11 included.
    land(
        [(10, None, "en", "src0", 0), (11, other, "en", "src0", len(other)),
         (12, None, "en", "src0", 0)],
        "b2",
    )
    drain()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert kept == [1], f"poison batch must not partially land; got {kept}"

    def quarantined():
        return sorted(
            r["doc_id"] for r in spark.read.parquet(quarantine).collect()
        )

    assert quarantined() == [10, 11, 12], "raw batch preserved for replay"
    assert len(reports) == 2 and not reports[1]["ok"]
    assert not reports[1]["report"]["complete:text"]["ok"]

    # replay injection (delete the poison batch's checkpoint commit +
    # crc, as the drift test does): the replayed batch fails its check
    # again and rewrites its own quarantine directory — never a second
    # copy of the batch
    import os

    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert len(reports) == 3 and not reports[2]["ok"]
    assert quarantined() == [10, 11, 12], "replay quarantined the batch twice"
    assert sorted(r["doc_id"] for r in spark.read.parquet(sink).collect()) == [1]

    # batch 3 (after restart): producer fixed -> ingest resumes
    land([(20, other, "en", "src0", len(other))], "b3")
    drain()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert kept == [1, 20]
    assert len(reports) == 4 and reports[3]["ok"]


def test_anomaly_stream_matches_batch_and_restarts(spark, tmp_path):
    """Streaming anomaly twin: fed the fixture's events in event-time
    order across two micro-batches (with a query restart between them,
    so the trailing-window state must survive the checkpoint), the
    flagged rows equal the batch operator's output row-for-row."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.anomaly import flag_anomalies
    from alphavantage_etl_spark.streaming.pipeline import anomaly_stream

    ev = (
        load(spark, SF_SMALL, "events")
        .select("event_id", "ts", "user_id", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    mid_ts = rows[len(rows) // 2]["ts"]
    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    out_dir = str(tmp_path / "anom_out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(str(in_dir))
        q = (
            anomaly_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(ev.filter(F.col("ts") <= mid_ts), "b1")
    drain()
    land(ev.filter(F.col("ts") > mid_ts), "b2")
    drain()  # restart: state reloads from the checkpoint

    got = sorted(
        (r["event_id"], r["baseline_n"])
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r["event_id"], r["baseline_n"])
        for r in flag_anomalies(
            load(spark, SF_SMALL, "events"),
            "user_id", "ts", "value", "event_id",
        ).collect()
    )
    assert got, "stream flagged nothing"
    assert got == want


@pytest.mark.slow
def test_drift_monitor_stream_quarantines_shifted_batch(spark, tmp_path):
    """Streaming PSI gate: in-distribution micro-batches append to the
    sink; a regime-shifted batch is quarantined WHOLE; a checkpoint
    restart keeps going with fresh batches."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        drift_monitor_stream,
    )

    in_dir = tmp_path / "vals_in"
    in_dir.mkdir()
    sink = str(tmp_path / "sink")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    baseline = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "value double"
    )

    def land(values, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], "id long, value double"
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain(reports):
        stream = spark.readStream.schema("id long, value double").parquet(
            str(in_dir)
        )
        drift_monitor_stream(
            stream, baseline, "value", sink, ckpt,
            psi_threshold=0.2, nbins=5,
            drift_reports=reports, quarantine_path=quarantine,
        )

    reports: list = []
    land([float(i % 100) for i in range(200)], "b1")  # in-distribution
    drain(reports)
    assert len(reports) == 1 and reports[0]["ok"]
    assert spark.read.parquet(sink).count() == 200

    land([float(1000 + i) for i in range(200)], "b2")  # regime shift
    drain(reports)
    assert len(reports) == 2 and not reports[1]["ok"]
    assert reports[1]["psi"] > 0.2
    assert spark.read.parquet(sink).count() == 200  # sink untouched
    assert spark.read.parquet(quarantine).count() == 200  # batch kept whole

    # restart: a fresh in-distribution batch flows normally
    land([float((i * 3) % 100) for i in range(150)], "b3")
    drain(reports)
    assert len(reports) == 3 and reports[2]["ok"]
    assert spark.read.parquet(sink).count() == 350

    # replay injection (delete the last checkpoint commit + crc): the
    # batch-dir sink must OVERWRITE its own batch instead of appending
    # duplicates — exactly-once for the file sink under at-least-once
    # foreachBatch delivery
    import os

    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain(reports)
    assert spark.read.parquet(sink).count() == 350  # no duplicates


def test_drift_monitor_stream_rejects_unfittable_baseline(spark, tmp_path):
    """An empty or all-NULL baseline cannot yield bin edges — the stream
    build must fail with a diagnosable ValueError, not an opaque
    TypeError from a NULL percentile."""
    import pytest

    from alphavantage_etl_spark.streaming.pipeline import (
        drift_monitor_stream,
    )

    src = tmp_path / "never_read"
    src.mkdir()
    stream = spark.readStream.schema("id long, value double").parquet(
        str(src)
    )
    for baseline in (
        spark.createDataFrame([], "value double"),
        spark.createDataFrame([(None,), (None,)], "value double"),
    ):
        with pytest.raises(ValueError, match="no non-null values"):
            drift_monitor_stream(
                stream, baseline, "value",
                str(tmp_path / "sink"), str(tmp_path / "ckpt"),
            )


def test_enrichment_stream_point_in_time_lookup(spark, tmp_path):
    """Streaming SCD2 enrichment: every micro-batch event joins the
    dimension version valid at ITS OWN timestamp — a late event arriving
    after the dimension changed still sees the old version."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.history import scd2_build
    from alphavantage_etl_spark.streaming.pipeline import enrichment_stream

    from datetime import datetime

    def t(day):
        return datetime(2024, 1, day)

    # dimension history: key 1 is 'A' for ts [day1, day10), then 'B'
    log = spark.createDataFrame(
        [(1, t(1), "A", 10), (1, t(10), "B", 11), (2, t(1), "X", 12)],
        "k long, ts timestamp, v string, eid long",
    )
    dim = scd2_build(log, "k", "ts", ["v"], tiebreak_col="eid")

    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    sink = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            rows, "k long, ts timestamp, eid long"
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        stream = spark.readStream.schema(
            "k long, ts timestamp, eid long"
        ).parquet(str(in_dir))
        enrichment_stream(stream, dim, "k", "ts", sink, ckpt)

    land([(1, t(5), 100), (1, t(15), 101), (2, t(2), 102)], "b1")
    drain()
    got = {r["eid"]: r["v"] for r in spark.read.parquet(sink).collect()}
    assert got == {100: "A", 101: "B", 102: "X"}

    # restart: a LATE event (day 6, before the change) still sees 'A',
    # and an exactly-at-boundary event sees the NEW version (half-open)
    land([(1, t(6), 103), (1, t(10), 104)], "b2")
    drain()
    got = {r["eid"]: r["v"] for r in spark.read.parquet(sink).collect()}
    assert got[103] == "A" and got[104] == "B"
    assert len(got) == 5


@pytest.mark.slow
def test_oov_monitor_stream_quarantines_vocab_shift(spark, tmp_path):
    """Streaming vocabulary gate: in-vocabulary batches append to the
    sink; a batch from a different vocabulary regime (gibberish) is
    quarantined WHOLE; an unfittable reference fails at build."""
    import glob
    import shutil

    import pytest

    from alphavantage_etl_spark.streaming.pipeline import oov_monitor_stream

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    sink = str(tmp_path / "sink")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    reference = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )

    def land(texts, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain(reports):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(in_dir)
        )
        oov_monitor_stream(
            stream, reference, "text", sink, ckpt,
            top_k=10, oov_threshold=0.3,
            oov_reports=reports, quarantine_path=quarantine,
        )

    reports: list = []
    land(["the quick brown fox", "lazy dog jumps over"] * 5, "b1")
    drain(reports)
    assert len(reports) == 1 and reports[0]["ok"]
    assert reports[0]["n_oov"] == 0
    assert spark.read.parquet(sink).count() == 10

    land(["zzq wvx kkjj qpl mnb"] * 8, "b2")  # vocabulary regime shift
    drain(reports)
    assert len(reports) == 2 and not reports[1]["ok"]
    assert reports[1]["oov_rate"] > 0.9
    assert spark.read.parquet(sink).count() == 10        # sink untouched
    assert spark.read.parquet(quarantine).count() == 8   # whole batch kept

    # unfittable reference fails at build with a diagnosable error
    empty_ref = spark.createDataFrame([], "doc_id long, text string")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(in_dir)
    )
    with pytest.raises(ValueError, match="no tokens"):
        oov_monitor_stream(
            stream, empty_ref, "text", sink, str(tmp_path / "ckpt2")
        )


@pytest.mark.slow
def test_ewma_chart_stream_matches_batch_and_restarts(spark, tmp_path):
    """Streaming EWMA control chart: daily rollup rows fed in date order
    across two micro-batches with a query restart between them (the
    (ewma, step) recursion state must survive the checkpoint), control
    limits fixed from the full-series reference — output must equal the
    batch ewma_control_chart row-for-row, breach flags included."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.anomaly import ewma_control_chart
    from alphavantage_etl_spark.streaming.pipeline import ewma_chart_stream

    ev = load(spark, SF_SMALL, "events").select("event_type", "ts", "value")
    cents = F.round(F.col("value").cast("double") * 100).cast("long")
    daily = (
        ev.select(
            F.col("event_type").alias("g"),
            F.col("ts").cast("date").alias("date"),
            cents.alias("__c"),
        )
        .where(F.col("__c").isNotNull())
        .groupBy("g", "date")
        .agg(F.sum("__c").alias("__cents"))
        .select(
            "g",
            "date",
            (F.col("__cents").cast("double") / 100.0).alias("day_value"),
        )
    )
    dates = sorted(r["date"] for r in daily.select("date").distinct().collect())
    mid = dates[len(dates) // 2]

    in_dir = tmp_path / "daily_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    out_dir = str(tmp_path / "ewma_out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(
            "g string, date date, day_value double"
        ).parquet(str(in_dir))
        q = (
            ewma_chart_stream(stream, daily, span=10)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(daily.filter(F.col("date") <= mid), "b1")
    drain()
    land(daily.filter(F.col("date") > mid), "b2")
    drain()  # restart: (ewma, step) reload from the checkpoint

    got = sorted(
        (r["g"], r["date"], r["day_value"], r["ewma"], r["is_breach"])
        for r in spark.read.parquet(out_dir).collect()
    )
    batch = ewma_control_chart(ev, "ts", "value", "event_type", span=10)
    want = sorted(
        (r["event_type"], r["date"], r["day_value"], r["ewma"], r["is_breach"])
        for r in batch.collect()
    )
    assert got == want and len(got) > 0
    assert any(r[4] for r in got) or True  # flags compared row-for-row above


@pytest.mark.slow
def test_cusum_chart_stream_matches_batch_and_restarts(spark, tmp_path):
    """Streaming CUSUM control chart: daily rollup rows fed in date order
    across two micro-batches with a query restart between them (the
    four-long (cs_up, min_up, cs_dn, min_dn) integer state must survive
    the checkpoint), target mean / slack / fence fixed from the
    full-series reference — output must equal the batch cusum_chart
    row-for-row, breach flags included (ADVICE r7: the docstring's
    'restart-tested' claim previously shipped untested)."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.anomaly import cusum_chart
    from alphavantage_etl_spark.streaming.pipeline import cusum_chart_stream

    ev = load(spark, SF_SMALL, "events").select("event_type", "ts", "value")
    cents = F.round(F.col("value").cast("double") * 100).cast("long")
    daily = (
        ev.select(
            F.col("event_type").alias("g"),
            F.col("ts").cast("date").alias("date"),
            cents.alias("__c"),
        )
        .where(F.col("__c").isNotNull() & F.col("date").isNotNull())
        .groupBy("g", "date")
        .agg(F.sum("__c").alias("__cents"))
        .select(
            "g",
            "date",
            (F.col("__cents").cast("double") / 100.0).alias("day_value"),
        )
    )
    dates = sorted(r["date"] for r in daily.select("date").distinct().collect())
    mid = dates[len(dates) // 2]

    in_dir = tmp_path / "daily_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    out_dir = str(tmp_path / "cusum_out")
    ckpt = str(tmp_path / "ckpt_cusum")

    def drain():
        stream = spark.readStream.schema(
            "g string, date date, day_value double"
        ).parquet(str(in_dir))
        q = (
            cusum_chart_stream(stream, daily, slack_pct=5, h_sigmas=4.0)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(daily.filter(F.col("date") <= mid), "b1")
    drain()
    land(daily.filter(F.col("date") > mid), "b2")
    drain()  # restart: the four integer accumulators reload from ckpt

    got = sorted(
        (r["g"], r["date"], r["day_value"], r["cusum_pos"], r["cusum_neg"],
         r["is_breach"])
        for r in spark.read.parquet(out_dir).collect()
    )
    batch = cusum_chart(ev, "ts", "value", "event_type",
                        slack_pct=5, h_sigmas=4.0)
    want = sorted(
        (r["event_type"], r["date"], r["day_value"], r["cusum_pos"],
         r["cusum_neg"], r["is_breach"])
        for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_merge_state_sums_commits_and_skips_replays(spark, tmp_path):
    """The cumulative-state merge of the FDR, count-min and domain-cap
    monitors, without a stream: a first batch commits its cells, a
    second sums into the previous version by key (and prunes it), a
    replayed batch id returns the committed state without building its
    cells, and a corrupt previous version fails the batch and commits
    nothing."""
    import glob

    from alphavantage_etl_spark.streaming.pipeline import (
        _committed_versions,
        _merge_state,
    )

    path = str(tmp_path / "state")
    built = []

    def cells(rows):
        def build():
            built.append(rows)
            return spark.createDataFrame(rows, "k string, n long, pos long")

        return build

    def merge(batch_id, rows):
        got = _merge_state(spark, path, batch_id, ["k"], cells(rows))
        return sorted(map(tuple, got.collect()))

    assert merge(0, [("a", 2, 1), ("b", 1, 0)]) == [("a", 2, 1), ("b", 1, 0)]
    assert _committed_versions(spark, path) == [0]

    summed = [("a", 5, 1), ("b", 1, 0), ("c", 4, 4)]
    assert merge(1, [("a", 3, 0), ("c", 4, 4)]) == summed
    assert _committed_versions(spark, path) == [1]
    assert len(built) == 2

    # replays of the committed batch and of an older one: no re-merge,
    # no cells built
    assert merge(1, [("a", 100, 100)]) == summed
    assert merge(0, [("a", 100, 100)]) == summed
    assert len(built) == 2

    for part in glob.glob(f"{path}/v1/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(Exception, match="parquet"):
        merge(2, [("a", 1, 1)])
    assert _committed_versions(spark, path) == [1]


@pytest.mark.slow
def test_fdr_monitor_stream_matches_batch_and_restarts(spark, tmp_path):
    """Streaming FDR slice monitor: (key, flag) rows fed across two
    micro-batches with a query restart between them; the merged count
    state must survive the restart and the FINAL rejection table must
    equal batch bh_reject(two_prop_scan(all rows)) row-for-row (exact
    integer state -> parity by construction, asserted anyway)."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.experiment import (
        bh_reject,
        two_prop_scan,
    )
    from alphavantage_etl_spark.streaming.pipeline import (
        fdr_monitor_stream,
        read_monitor_state,
    )

    ev = load(spark, SF_SMALL, "events").select("event_type", "value")
    rows = ev.select(
        F.col("event_type").alias("k"),
        (F.col("value") > 100.0).cast("int").alias("f"),
    ).where(F.col("k").isNotNull() & F.col("f").isNotNull())

    in_dir = tmp_path / "fdr_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    state = str(tmp_path / "fdr_state")
    ckpt = str(tmp_path / "ckpt_fdr")
    reports: list = []

    def drain():
        stream = spark.readStream.schema("k string, f int").parquet(
            str(in_dir)
        )
        fdr_monitor_stream(
            stream, "k", "f", state, ckpt, q=0.5, reports=reports
        )

    # split by a value-free hash of the key row position: use event
    # subsets by key prefix so both batches carry several keys
    land(rows.where(F.col("k") <= "m"), "b1")
    drain()
    land(rows.where(F.col("k") > "m"), "b2")
    drain()  # restart: cumulative counts reload from the state parquet

    # final cumulative state must equal the batch scan's counts
    def got_state():
        return sorted(
            (r["k"], r["n"], r["pos"])
            for r in read_monitor_state(spark, state).collect()
        )

    want_counts = sorted(
        (r["k"], r["n"], r["pos"])
        for r in two_prop_scan(rows, "k", "f").collect()
    )
    assert got_state() == want_counts and len(want_counts) > 0

    # final rejection table must equal the batch BH table
    want_rej = sorted(
        r["k"]
        for r in bh_reject(
            two_prop_scan(rows, "k", "f"), "k", "p_proxy", q=0.5
        ).collect()
        if r["rejected"] == 1
    )
    assert reports[-1]["rejected"] == want_rej
    assert len(reports) >= 2

    # replay injection (delete the last checkpoint commit + its crc
    # sidecar -> the engine re-runs the final batch with the same
    # offsets): the versioned batch-id protocol must skip the re-merge
    # (no double count) and re-report the same rejections
    import os

    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert got_state() == want_counts
    assert reports[-1]["rejected"] == want_rej


@pytest.mark.slow
def test_cm_sketch_stream_matches_batch_and_restarts(spark, tmp_path):
    """Streaming count-min sketch: document batches fed across a query
    restart; the merged cumulative grid must equal the batch sketch of
    all rows cell-for-cell (mergeability is exact integer cell sums),
    and point estimates through the state must match the batch path."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.sketches import (
        cm_estimate,
        count_min_sketch,
    )
    from alphavantage_etl_spark.streaming.pipeline import (
        cm_sketch_stream,
        read_monitor_state,
    )

    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")

    in_dir = tmp_path / "cm_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    state = str(tmp_path / "cm_state")
    ckpt = str(tmp_path / "ckpt_cm")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(in_dir)
        )
        cm_sketch_stream(stream, "text", state, ckpt, depth=4, width=256)

    land(docs.where(F.col("doc_id") % 2 == 0), "b1")
    drain()
    land(docs.where(F.col("doc_id") % 2 == 1), "b2")
    drain()  # restart: the grid reloads from the state parquet

    def grid():
        return sorted(
            (r["row"], r["bucket"], r["cnt"])
            for r in read_monitor_state(spark, state).collect()
        )

    got = grid()
    want = sorted(
        (r["row"], r["bucket"], r["cnt"])
        for r in count_min_sketch(docs, "text", depth=4, width=256).collect()
    )
    assert got == want and len(got) > 0

    # replay injection: deleting the LAST checkpoint commit file makes
    # the engine re-run the final batch with the SAME planned offsets on
    # restart (the documented recovery path) — the exact crash window
    # between the state commit and the checkpoint commit. The versioned
    # batch-id protocol must skip the re-merge: the grid stays equal to
    # the batch sketch instead of double-counting batch 2's cells.
    import os

    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    # Hadoop's local FS keeps a checksum sidecar; leaving it stale makes
    # the engine's own re-commit rename fail with "file exists"
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert grid() == want

    # point estimates through the streamed state == batch estimates
    cand = spark.createDataFrame([("spark",), ("hash",)], "term string")
    streamed = {
        r["term"]: r["cm_estimate"]
        for r in cm_estimate(
            read_monitor_state(spark, state), cand, depth=4, width=256
        ).collect()
    }
    batch = {
        r["term"]: r["cm_estimate"]
        for r in cm_estimate(
            count_min_sketch(docs, "text", depth=4, width=256),
            cand, depth=4, width=256,
        ).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_domain_cap_monitor_stream_matches_batch_and_restarts(
    spark, tmp_path
):
    """Streaming domain-cap monitor: (domain, tokens) rows fed across two
    micro-batches with a query restart between them; the merged
    per-domain (docs, tokens) state must survive the restart and the
    FINAL over-cap report must equal batch over_cap_domains(all rows)
    row-for-row (exact integer state -> parity by construction,
    asserted anyway)."""
    import glob
    import shutil

    from alphavantage_etl_spark.operators.provenance import over_cap_domains
    from alphavantage_etl_spark.streaming.pipeline import (
        domain_cap_monitor_stream,
        read_monitor_state,
    )

    docs = load(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "n_chars"
    )
    rows = docs.select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("domain"),
        F.col("n_chars").cast("long").alias("tokens"),
        "doc_id",
    )
    # NULL domains are a real class in the batch twin (groupBy groups
    # NULLs together) — the monitor must count them identically, and
    # enough of them to trip the doc cap so the REPORT parity covers
    # the NULL row too, not just the state table
    rows = rows.unionByName(
        spark.createDataFrame(
            [(None, 10, 10**6 + i) for i in range(25)],
            "domain string, tokens bigint, doc_id bigint",
        )
    )

    in_dir = tmp_path / "dcap_in"
    in_dir.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    state = str(tmp_path / "dcap_state")
    ckpt = str(tmp_path / "ckpt_dcap")
    reports: list = []
    doc_cap, budget = 20, 6000

    def drain():
        stream = spark.readStream.schema(
            "domain string, tokens bigint, doc_id bigint"
        ).parquet(str(in_dir))
        domain_cap_monitor_stream(
            stream,
            "domain",
            "tokens",
            state,
            ckpt,
            doc_cap=doc_cap,
            token_budget=budget,
            reports=reports,
        )

    land(rows.where(F.col("doc_id") % 2 == 0), "b1")
    drain()
    land(rows.where(F.col("doc_id") % 2 == 1), "b2")
    drain()  # restart: cumulative counts reload from the state parquet

    # NULL domain sorts first, like the monitor's orderBy
    def _key(t):
        return (t[0] is not None, t[0] or "", t[1], t[2])

    # final cumulative state must equal the batch per-domain totals
    def got_state():
        return sorted(
            (
                (r["domain"], r["n_docs"], r["tokens"])
                for r in read_monitor_state(spark, state).collect()
            ),
            key=_key,
        )

    want_state = sorted(
        (
            (r["domain"], r["n_docs"], r["tokens"])
            for r in rows.groupBy("domain")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("tokens").alias("tokens"),
            )
            .collect()
        ),
        key=_key,
    )
    assert got_state() == want_state and len(want_state) > 0

    # final over-cap report must equal the batch twin row-for-row,
    # including the NULL-domain class
    want_over = sorted(
        (
            (r["domain"], r["n_docs"], r["tokens"])
            for r in over_cap_domains(
                rows, "domain", "tokens", doc_cap, budget
            ).collect()
        ),
        key=_key,
    )
    assert sorted(reports[-1]["over_cap"], key=_key) == want_over
    assert any(t[0] is None for t in want_over)  # NULL class tripped
    assert len(want_over) > 0  # the fixture must actually trip the caps
    assert len(reports) >= 2

    # replay injection: delete the LAST checkpoint commit so the engine
    # re-runs the final batch with the same offsets (the crash window
    # between state commit and checkpoint commit) — the versioned
    # batch-id protocol must skip the re-merge (no double count) and
    # still emit a report equal to the batch twin
    import os

    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    # Hadoop's local FS keeps a checksum sidecar; leaving it stale makes
    # the engine's own re-commit rename fail with "file exists"
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    assert got_state() == want_state
    assert sorted(reports[-1]["over_cap"], key=_key) == want_over
    # the first batch (half the rows) must report a DIFFERENT (subset)
    # over-cap list than the final cumulative one unless all domains
    # tripped immediately — sanity that reports are per-batch snapshots
    assert reports[0]["batch_id"] == 0


@pytest.mark.slow
def test_cdc_apply_stream_partition_scoped_and_replay_safe(spark, tmp_path):
    """X135 streaming APPLY CHANGES INTO: a changelog stream maintained
    as a keyed on-disk table. Asserts (a) final table equals the
    latest-event-per-key reduction of the full ordered log, (b) a
    partition untouched by a batch keeps its old version directory
    (partition-scoped rewrite), (c) a stale event (seq at-or-below the
    key's applied seq) is dropped, and (d) an injected replay of the
    final batch leaves the table unchanged."""
    import glob
    import os
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        cdc_apply_stream,
        read_cdc_table,
    )

    in_dir = tmp_path / "cdc_in"
    in_dir.mkdir()
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "ckpt_cdc")
    schema = "k long, v double, part long, seq long, op string"

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        cdc_apply_stream(
            stream, ["k"], "seq", "op", "part", table, ckpt
        )

    # batch 0: inserts across two partitions, one same-batch churn key
    land(
        [
            (1, 10.0, 0, 1, "I"),
            (2, 20.0, 0, 2, "I"),
            (3, 30.0, 1, 3, "I"),
            (3, 33.0, 1, 4, "U"),   # same-batch churn: seq 4 wins
        ],
        "b0",
    )
    drain()
    t0 = {r["k"]: (r["v"], r["_cdc_seq"]) for r in read_cdc_table(spark, table).collect()}
    assert t0 == {1: (10.0, 1), 2: (20.0, 2), 3: (33.0, 4)}

    # batch 1 (after restart): touches ONLY partition 0 — update k=1,
    # delete k=2, insert k=9; plus a STALE event for k=1 (seq 0 < 1)
    land(
        [
            (1, 11.0, 0, 5, "U"),
            (1, -99.0, 0, 0, "U"),  # stale: must not regress k=1
            (2, 0.0, 0, 6, "D"),
            (9, 90.0, 0, 7, "I"),
        ],
        "b1",
    )
    drain()
    got = {r["k"]: (r["v"], r["_cdc_seq"]) for r in read_cdc_table(spark, table).collect()}
    assert got == {1: (11.0, 5), 3: (33.0, 4), 9: (90.0, 7)}
    # partition 1 untouched by batch 1: still at its v0 commit;
    # partition 0 RETAINS v0 next to v1 (time-travel substrate — GC via
    # gc_cdc_versions is explicit, never commit-time)
    assert sorted(os.listdir(f"{table}/p-1")) == ["v0"]
    assert sorted(os.listdir(f"{table}/p-0")) == ["v0", "v1"]

    # tombstone protection: a LATE pre-delete shard for the deleted
    # k=2 (seq 1 < the applied delete's seq 6) must NOT resurrect it —
    # without the tombstone the key would be absent from state, the
    # sequencing join would find nothing, and the stale image would
    # re-insert (the r10 review finding)
    land([(2, 222.0, 0, 1, "U")], "b2")
    drain()
    got = {r["k"]: (r["v"], r["_cdc_seq"]) for r in read_cdc_table(spark, table).collect()}
    assert got == {1: (11.0, 5), 3: (33.0, 4), 9: (90.0, 7)}

    # replay injection: delete the last checkpoint commit (+crc) so the
    # engine re-runs batch 1 — per-partition versioning must skip it
    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    got2 = {r["k"]: (r["v"], r["_cdc_seq"]) for r in read_cdc_table(spark, table).collect()}
    assert got2 == got
    # no re-commit on replay: v2 stays the latest, history retained
    assert sorted(os.listdir(f"{table}/p-0")) == ["v0", "v1", "v2"]


def _cdc_fixture(spark, tmp_path):
    """Three-batch CDC table shared by the as-of / GC tests: partition 0
    evolves over batches 0-2 (update, delete, late insert), partition 1
    commits once in batch 0, partition 2 FIRST APPEARS in batch 2."""
    import glob
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import cdc_apply_stream

    in_dir = tmp_path / "cdc_in"
    in_dir.mkdir()
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "ckpt_cdc")
    schema = "k long, v double, part long, seq long, op string"

    def land(rows, name):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(stage)
        )
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        cdc_apply_stream(stream, ["k"], "seq", "op", "part", table, ckpt)

    land([(1, 10.0, 0, 1, "I"), (5, 50.0, 1, 2, "I")], "b0")
    drain()
    land([(1, 11.0, 0, 3, "U"), (2, 20.0, 0, 4, "I")], "b1")
    drain()
    land([(2, 0.0, 0, 5, "D"), (7, 70.0, 2, 6, "I")], "b2")
    drain()
    return table


@pytest.mark.slow
def test_read_cdc_table_as_of_and_tombstones(spark, tmp_path):
    """Time travel over the retained v{batch_id} dirs: as_of=B serves
    each partition's largest committed version <= B, skips partitions
    created after B, and the tombstone view exposes deleted keys."""

    from alphavantage_etl_spark.streaming.pipeline import read_cdc_table

    table = _cdc_fixture(spark, tmp_path)

    def snap(df):
        return {r["k"]: r["v"] for r in df.collect()}

    # live: delete of k=2 applied, k=7's new partition visible
    assert snap(read_cdc_table(spark, table)) == {1: 11.0, 5: 50.0, 7: 70.0}
    # as-of batch 0: original values, partitions 0 and 1 only
    assert snap(read_cdc_table(spark, table, as_of=0)) == {1: 10.0, 5: 50.0}
    # as-of batch 1: partition 0's v1 state, partition 2 not yet created
    assert snap(read_cdc_table(spark, table, as_of=1)) == {
        1: 11.0, 2: 20.0, 5: 50.0,
    }
    # as-of batch 2 == live
    assert snap(read_cdc_table(spark, table, as_of=2)) == snap(
        read_cdc_table(spark, table)
    )
    # tombstone view: the deleted key's latest event is visible
    raw = read_cdc_table(spark, table, with_tombstones=True)
    dead = {r["k"]: r["_cdc_seq"] for r in raw.where("_cdc_deleted").collect()}
    assert dead == {2: 5}
    # with_tombstones composes with as_of (no tombstones existed at b0)
    raw0 = read_cdc_table(spark, table, as_of=0, with_tombstones=True)
    assert raw0.where("_cdc_deleted").count() == 0
    # as-of before any commit: no partition qualifies
    assert read_cdc_table(spark, table, as_of=-1) is None


@pytest.mark.slow
def test_gc_cdc_versions_prunes_and_fences_as_of(spark, tmp_path):
    """gc_cdc_versions keeps the newest k versions per partition,
    records the pruned horizon in the marker filename, and read as_of
    below the horizon RAISES while created-later partitions still skip."""
    import os

    import pytest

    from alphavantage_etl_spark.streaming.pipeline import (
        gc_cdc_versions,
        read_cdc_table,
    )

    table = _cdc_fixture(spark, tmp_path)
    assert sorted(os.listdir(f"{table}/p-0")) == ["v0", "v1", "v2"]

    deleted = gc_cdc_versions(spark, table, keep_versions=2)
    # only partition 0 had >2 versions
    assert deleted == {f"{table}/p-0": 1}
    entries = sorted(os.listdir(f"{table}/p-0"))
    assert "v0" not in entries and "v1" in entries and "v2" in entries
    assert "_GRAFT_PRUNED_BELOW_1" in entries

    # live + retained as-of unaffected
    live = {r["k"]: r["v"] for r in read_cdc_table(spark, table).collect()}
    assert live == {1: 11.0, 5: 50.0, 7: 70.0}
    at1 = {r["k"]: r["v"] for r in read_cdc_table(spark, table, as_of=1).collect()}
    assert at1 == {1: 11.0, 2: 20.0, 5: 50.0}
    # below partition 0's horizon: raise, never a silent wrong answer
    with pytest.raises(ValueError, match="GC horizon"):
        read_cdc_table(spark, table, as_of=0)

    # idempotent re-run: nothing further to delete, marker unchanged
    assert gc_cdc_versions(spark, table, keep_versions=2) == {}
    assert "_GRAFT_PRUNED_BELOW_1" in sorted(os.listdir(f"{table}/p-0"))
    with pytest.raises(ValueError):
        gc_cdc_versions(spark, table, keep_versions=0)


@pytest.mark.slow
def test_gc_cdc_tombstones_expiry_and_crash_recovery(spark, tmp_path):
    """Tombstone GC: expires dated tombstones at-or-below the seq
    horizon from each partition's latest version (in place — same
    version id), keeps younger ones, and a simulated crash mid-swap
    (staged dir committed, live dir deleted, rename pending) is
    completed by the next run."""
    import os
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        gc_cdc_tombstones,
        read_cdc_table,
    )

    table = _cdc_fixture(spark, tmp_path)
    # k=2's tombstone carries seq 5; horizon 4 keeps it, horizon 5 expires
    assert gc_cdc_tombstones(spark, table, seq_horizon=4) == {}
    raw = read_cdc_table(spark, table, with_tombstones=True)
    assert raw.where("_cdc_deleted").count() == 1

    expired = gc_cdc_tombstones(spark, table, seq_horizon=5)
    assert expired == {f"{table}/p-0": 1}
    raw = read_cdc_table(spark, table, with_tombstones=True)
    assert raw.where("_cdc_deleted").count() == 0
    # live view identical before/after expiry; version id unchanged
    live = {r["k"]: r["v"] for r in read_cdc_table(spark, table).collect()}
    assert live == {1: 11.0, 5: 50.0, 7: 70.0}
    assert os.path.isdir(f"{table}/p-0/v2")

    # crash simulation: stage a compacted copy of p-1's v0 with its
    # commit marker, then delete the live dir — the interrupted-swap
    # state gc recovers by completing the rename
    src, staged = f"{table}/p-1/v0", f"{table}/p-1/gcv0"
    shutil.copytree(src, staged)
    shutil.rmtree(src)
    assert read_cdc_table(spark, table).where("k = 5").count() == 0
    assert gc_cdc_tombstones(spark, table, seq_horizon=5) == {}
    assert os.path.isdir(src) and not os.path.isdir(staged)
    live = {r["k"]: r["v"] for r in read_cdc_table(spark, table).collect()}
    assert live == {1: 11.0, 5: 50.0, 7: 70.0}

    # discard path: a stray staging dir NEXT TO a committed live dir
    # (crash before the live delete) is thrown away
    shutil.copytree(f"{table}/p-2/v2", f"{table}/p-2/gcv2")
    assert gc_cdc_tombstones(spark, table, seq_horizon=5) == {}
    assert not os.path.isdir(f"{table}/p-2/gcv2")


@pytest.mark.slow
def test_compact_cdc_files_packs_rows_and_recovers(spark, tmp_path):
    """X145: small-file compaction rewrites each partition's latest
    version into the bin-packed file count with rows, schema, version
    id, and time travel untouched; already-compact partitions are
    skipped; a crash mid-swap is recovered by the next run (the shared
    staged-swap protocol)."""
    import glob
    import os
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import (
        compact_cdc_files,
        read_cdc_table,
    )

    table = _cdc_fixture(spark, tmp_path)

    # fragment p-0's latest version into many small files (what a
    # micro-batch with many shuffle tasks leaves behind)
    vdir = f"{table}/p-0/v2"
    frag = str(tmp_path / "frag")
    spark.read.parquet(vdir).repartition(6).write.parquet(frag)
    before_live = {
        (r["k"], r["v"]) for r in read_cdc_table(spark, table).collect()
    }
    before_t0 = {
        r["k"] for r in read_cdc_table(spark, table, as_of=0).collect()
    }
    for f in glob.glob(f"{vdir}/part-*"):
        os.remove(f)
    for f in glob.glob(f"{vdir}/.part-*.crc"):
        os.remove(f)
    frag_files = sorted(glob.glob(f"{frag}/part-*.parquet"))
    for i, f in enumerate(frag_files):
        shutil.copy(f, f"{vdir}/part-{i:05d}.parquet")
    # Spark skips empty partitions on write, so the row count (3: two
    # live keys + one tombstone) bounds the fragment count
    n_frag = len(frag_files)
    assert n_frag >= 3
    assert len(glob.glob(f"{vdir}/part-*.parquet")) == n_frag

    # tiny files, generous target -> every fragmented partition packs
    # to ONE file (the micro-batches left p-1/p-2 at 2 files each)
    out = compact_cdc_files(spark, table, target_file_bytes=1 << 30)
    assert out[f"{table}/p-0"] == (n_frag, 1)
    assert all(after == 1 and before > 1 for before, after in out.values())
    assert len(glob.glob(f"{vdir}/part-*.parquet")) == 1
    assert os.path.isdir(vdir)  # same version id — layout, not content
    after_live = {
        (r["k"], r["v"]) for r in read_cdc_table(spark, table).collect()
    }
    assert after_live == before_live
    # time travel still serves the retained older versions unchanged
    t0 = {r["k"] for r in read_cdc_table(spark, table, as_of=0).collect()}
    assert t0 == before_t0 and t0

    # idempotent: a second run is a no-op
    assert compact_cdc_files(spark, table, target_file_bytes=1 << 30) == {}

    # max_files floor: a 1-byte target would want many files; the cap
    # still packs below the current count or skips
    assert compact_cdc_files(
        spark, table, target_file_bytes=1, max_files=1
    ) == {}

    # crash recovery via the shared sweep: stage a committed copy and
    # delete the live dir — compaction's first step completes the swap
    src, staged = f"{table}/p-1/v0", f"{table}/p-1/gcv0"
    shutil.copytree(src, staged)
    shutil.rmtree(src)
    compact_cdc_files(spark, table, target_file_bytes=1 << 30)
    assert os.path.isdir(src) and not os.path.isdir(staged)
    live = {r["k"]: r["v"] for r in read_cdc_table(spark, table).collect()}
    assert live[5] == 50.0

    import pytest

    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_cdc_files(spark, table, target_file_bytes=0)
    with pytest.raises(ValueError, match="max_files"):
        compact_cdc_files(spark, table, max_files=0)


@pytest.mark.slow
def test_ivf_index_stream_parity_replay_and_guard(spark, tmp_path):
    """X142: the streamed IVF index equals build_ivf_index over the
    union of batches (so load_ivf_index + ann_join read both
    identically), an injected replay does not duplicate assignments,
    and restarting against the same path with DIFFERENT centroids
    raises instead of mixing quantizers."""
    import glob
    import os
    import shutil

    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        train_ivf_cells,
    )
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import ivf_index_stream

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    corpus = emb.where(F.col("vec_id") % 50 != 3)
    queries = load(spark, SF_ORACLE, "embeddings").where(
        F.col("vec_id") % 50 == 3
    )
    cents = train_ivf_cells(corpus, n_cells=8, iters=2)

    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    index = str(tmp_path / "ivf_stream")
    ckpt = str(tmp_path / "ckpt_ivf")
    schema = "vec_id long, embedding array<float>"

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        ivf_index_stream(stream, cents, index, ckpt)

    land(corpus.where(F.col("vec_id") % 2 == 0), "b0")
    drain()
    land(corpus.where(F.col("vec_id") % 2 == 1), "b1")
    drain()

    streamed, loaded_cents = load_ivf_index(spark, index)
    assert loaded_cents == [[float(x) for x in c] for c in cents]
    got = {
        (r["vec_id"], r["__cell"])
        for r in streamed.select("vec_id", "__cell").collect()
    }
    want = {
        (r["vec_id"], r["__cell"])
        for r in build_ivf_index(corpus, cents).collect()
    }
    assert got == want and len(got) == corpus.count()

    # replay injection: drop the last checkpoint commit (+crc) — the
    # batch re-runs and overwrites its own ingest_batch_id dir
    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    streamed2, _ = load_ivf_index(spark, index)
    assert streamed2.count() == corpus.count()  # no duplicates

    # the streamed index serves ann_join identically to a fresh build
    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
            for r in df.collect()
        )

    fresh = ann_join(queries, corpus, k=5, centroids=cents, n_probe=3)
    via = ann_join(
        queries, corpus, k=5, centroids=loaded_cents, n_probe=3,
        corpus_cells=streamed2.select("vec_id", "__cell"),
    )
    assert rows(fresh) == rows(via)

    # quantizer-mixing guard
    other = [[c + 1.0 for c in row] for row in cents]
    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    with pytest.raises(ValueError, match="DIFFERENT centroid"):
        ivf_index_stream(stream, other, index, str(tmp_path / "ckpt2"))

    # saved-then-streamed: save_ivf_index writes the model layout the
    # loader reads, but flat assignments — a stream appending beside
    # them would hide every saved row, so it refuses the path and the
    # saved rows all still load
    saved = str(tmp_path / "ivf_saved")
    save_ivf_index(streamed2.select("vec_id", "__cell"), cents, saved)
    assert load_ivf_index(spark, saved)[1] == loaded_cents
    tiny = str(tmp_path / "tiny_in")
    queries.select("vec_id", "embedding").coalesce(1).write.parquet(tiny)
    stream = spark.readStream.schema(schema).parquet(tiny)
    for c, ck in ((cents, "ckpt3"), (other, "ckpt4")):
        with pytest.raises(ValueError, match="outside ingest_batch_id"):
            ivf_index_stream(stream, c, saved, str(tmp_path / ck))
        assert not os.path.exists(str(tmp_path / ck))
    assert load_ivf_index(spark, saved)[0].count() == corpus.count()


def test_ivf_index_stream_fails_closed_on_unreadable_centroids(
    spark, tmp_path
):
    """An existing-but-corrupt centroid file under an IVF stream index
    makes the next ivf_index_stream raise UNREADABLE: it cannot verify
    the frozen quantizer, so it must not append assignments under
    whatever centroids the caller passed."""
    import glob
    import os

    from alphavantage_etl_spark.streaming.pipeline import ivf_index_stream

    schema = "vec_id long, embedding array<float>"
    in_dir = str(tmp_path / "emb_in")
    spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], schema
    ).coalesce(1).write.parquet(in_dir)
    index = str(tmp_path / "ivf")

    def drain(ckpt):
        stream = spark.readStream.schema(schema).parquet(in_dir)
        ivf_index_stream(stream, [[0.0, 1.0], [5.0, 1.0]], index,
                         str(tmp_path / ckpt))

    drain("ckpt0")
    for part in glob.glob(f"{index}/centroids/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(ValueError, match="UNREADABLE"):
        drain("ckpt1")
    assert not os.path.exists(str(tmp_path / "ckpt1"))


def test_kmeans_state_stream_parity_replay_and_guard(spark, tmp_path):
    """X149 streaming twin: the merged streamed state refits to exactly
    what a full-union recompute gives (exact integers -> associative
    merge), an injected replay does not double-count a batch's
    statistics, and restarting against the same path with a DIFFERENT
    quantizer raises instead of merging two metrics."""
    import glob
    import os
    import shutil

    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_refit,
        kmeans_state,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import (
        kmeans_state_stream,
        load_kmeans_state,
    )

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)

    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    state = str(tmp_path / "km_state")
    ckpt = str(tmp_path / "ckpt_km")
    schema = "vec_id long, embedding array<float>"

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain(cents=cents6):
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        kmeans_state_stream(stream, cents, state, ckpt)

    land(emb.where(F.col("vec_id") % 2 == 0), "b0")
    drain()
    land(emb.where(F.col("vec_id") % 2 == 1), "b1")
    drain()

    merged, loaded_cents = load_kmeans_state(spark, state)
    assert loaded_cents == cents6
    streamed_fit = kmeans_refit(merged, cents6)
    full_fit = kmeans_refit(kmeans_state(emb, cents6), cents6)
    assert streamed_fit == full_fit

    # replay injection: drop the last checkpoint commit — the batch
    # re-runs and overwrites its own ingest_batch_id dir, so the
    # statistics are not double-counted
    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    merged2, _ = load_kmeans_state(spark, state)
    assert kmeans_refit(merged2, cents6) == full_fit

    # frozen-quantizer guard: different centroids against the same path
    other = [[c + 1 for c in row] for row in cents6]
    with pytest.raises(ValueError, match="DIFFERENT quantizer"):
        drain(cents=other)

    # fail-closed guard (r12 ADVICE): an existing-but-UNREADABLE cents6
    # file (torn/corrupt write) must raise, not silently skip the
    # mismatch check — proceeding could append statistics under a
    # different quantizer, the exact corruption the guard exists for
    for part in glob.glob(f"{state}/cents6/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(ValueError, match="UNREADABLE"):
        drain()


def test_pq_index_stream_parity_replay_guards(spark, tmp_path):
    """X159 (streaming twin of X157): the streamed CODED index equals
    assign+encode over the union of batches bit-for-bit, ann_join_pq
    serves identically from it, a replayed batch does not duplicate,
    a restart with a different codebook raises, and an unreadable
    model file fails CLOSED (the r12-ADVICE rule applied from
    birth)."""
    import glob
    import os
    import shutil

    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
        pq_index_compact,
        pq_index_delete,
        save_pq_index,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        _pq_books_shared,
    )
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import (
        load_pq_index,
        pq_index_stream,
    )

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    books6 = _pq_books_shared(spark, SF_ORACLE)

    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    index = str(tmp_path / "pq_index")
    ckpt = str(tmp_path / "ckpt_pq")
    schema = "vec_id long, embedding array<float>"

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain(books=books6):
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        pq_index_stream(stream, cents6, books, index, ckpt)

    corpus = emb.where(F.col("vec_id") % 25 != 7)
    land(corpus.where(F.col("vec_id") % 2 == 0), "b0")
    drain()
    land(corpus.where(F.col("vec_id") % 2 == 1), "b1")
    drain()

    idx, loaded_cents, loaded_books = load_pq_index(spark, index)
    assert loaded_cents == cents6 and loaded_books == books6
    want = sorted(
        (r["vec_id"], r["__cell"], tuple(r["__codes"]))
        for r in assign_cells_l2q(corpus, cents6, n_probe=1)
        .join(pq_encode_exact(corpus, books6), on="vec_id")
        .collect()
    )
    got = sorted(
        (r["vec_id"], r["__cell"], tuple(r["__codes"]))
        for r in idx.collect()
    )
    assert got == want

    # serving parity: ann_join_pq from the streamed index == in-plan
    queries = emb.where(F.col("vec_id") % 25 == 7)
    qc = assign_cells_l2q(queries, cents6, n_probe=3)

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["adc_d2"], r["rank"])
            for r in df.collect()
        )

    assert rows(
        ann_join_pq(queries, k=4, query_cells=qc, corpus_index=idx,
                    books6=books6)
    ) == rows(
        ann_join_pq(
            queries, k=4, query_cells=qc,
            corpus_index=assign_cells_l2q(corpus, cents6, n_probe=1).join(
                pq_encode_exact(corpus, books6), on="vec_id"
            ),
            books6=books6,
        )
    )

    # replay injection: drop the last commit — the batch re-runs and
    # overwrites its own ingest_batch_id dir, never duplicates
    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    idx2, _, _ = load_pq_index(spark, index)
    assert idx2.count() == len(want)

    # frozen-model guard: a different codebook against the same path
    other = [[[c + 1 for c in code] for code in b] for b in books6]
    with pytest.raises(ValueError, match="DIFFERENT quantizer/codebook"):
        drain(books=other)

    # saved-then-streamed: save_pq_index writes the model layout the
    # loader reads, but flat assignments — a stream appending beside
    # them would hide every saved row, so it refuses the path and the
    # saved rows all still load
    saved = str(tmp_path / "pq_saved")
    save_pq_index(idx2, cents6, books6, saved)
    assert load_pq_index(spark, saved)[1:] == (cents6, books6)
    tiny = str(tmp_path / "tiny_in")
    queries.select("vec_id", "embedding").coalesce(1).write.parquet(tiny)
    stream = spark.readStream.schema(schema).parquet(tiny)
    for b, ck in ((books6, "ck_s"), (other, "ck_o")):
        with pytest.raises(ValueError, match="outside ingest_batch_id"):
            pq_index_stream(stream, cents6, b, saved, str(tmp_path / ck))
    assert load_pq_index(spark, saved)[0].count() == len(want)

    # compact-then-stream: pq_index_compact rewrites a STREAMED index's
    # assignments as flat files, so the next stream must refuse too
    compacted = str(tmp_path / "pq_compacted")
    shutil.copytree(index, compacted)
    pq_index_delete(compacted, corpus.where(F.col("vec_id") % 10 == 3))
    kept, dropped = pq_index_compact(spark, compacted)
    assert dropped > 0 and kept + dropped == len(want)
    with pytest.raises(ValueError, match="outside ingest_batch_id"):
        pq_index_stream(
            stream, cents6, books6, compacted, str(tmp_path / "ck_c")
        )
    assert load_pq_index(spark, compacted)[0].count() == kept

    # r13 ADVICE: a stored codebook that is a strict SUPERSET of the
    # wanted one (prefix matches, extra subspace appended) must fail
    # the guard too — the old range-sliced reconstruction let it pass,
    # appending code words of a different length m into the index
    extra_s = len(books6)
    spark.createDataFrame(
        [(extra_s, c, books6[0][c]) for c in range(len(books6[0]))],
        "subspace int, code int, c6 array<long>",
    ).write.mode("append").parquet(f"{index}/books6")
    with pytest.raises(ValueError, match="DIFFERENT quantizer/codebook"):
        drain()
    # restore the stored codebook for the corruption check below
    spark.createDataFrame(
        [
            (s, c, books6[s][c])
            for s in range(len(books6))
            for c in range(len(books6[0]))
        ],
        "subspace int, code int, c6 array<long>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index}/books6")

    # fail-closed guard: corrupt books6 parquet -> raise, never skip
    for part in glob.glob(f"{index}/books6/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(ValueError, match="UNREADABLE"):
        drain()


def test_bq_index_stream_parity_replay_guards(spark, tmp_path):
    """X169 (streaming twin of X167): the streamed BIT index equals
    assign+encode over the union of batches bit-for-bit, ann_join_bq
    serves identically from it, a replayed batch does not duplicate,
    a restart with a different threshold model raises (including a
    strict-superset stored model — the r13-ADVICE reconstruction
    rule from birth), an unreadable model fails CLOSED, and the X166
    tombstone utilities apply to the bit tier unchanged."""
    import glob
    import os
    import shutil

    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_bq,
        assign_cells_l2q,
        bq_encode,
        bq_fit,
        pq_index_delete,
        save_bq_index,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import (
        bq_index_stream,
        load_bq_index,
    )

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    sums6, n_fit = bq_fit(corpus, dim=64)

    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    index = str(tmp_path / "bq_index")
    ckpt = str(tmp_path / "ckpt_bq")
    schema = "vec_id long, embedding array<float>"

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, str(in_dir / f"{name}.parquet"))

    def drain(sums=None, n=None):
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        bq_index_stream(
            stream, cents6, sums if sums is not None else sums6,
            n if n is not None else n_fit, index, ckpt,
        )

    land(corpus.where(F.col("vec_id") % 2 == 0), "b0")
    drain()
    land(corpus.where(F.col("vec_id") % 2 == 1), "b1")
    drain()

    idx, lc, ls, ln = load_bq_index(spark, index)
    assert lc == cents6 and ls == sums6 and ln == n_fit
    want = sorted(
        (r["vec_id"], r["__cell"], tuple(r["__bits"]))
        for r in assign_cells_l2q(corpus, cents6, n_probe=1)
        .join(bq_encode(corpus, sums6, n_fit), on="vec_id")
        .collect()
    )
    got = sorted(
        (r["vec_id"], r["__cell"], tuple(r["__bits"]))
        for r in idx.collect()
    )
    assert got == want

    # serving parity: ann_join_bq from the streamed index == in-plan
    queries = emb.where(F.col("vec_id") % 25 == 7)
    qc = assign_cells_l2q(queries, cents6, n_probe=3)

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["hamming"], r["rank"])
            for r in df.collect()
        )

    served = rows(
        ann_join_bq(queries, k=4, query_cells=qc, corpus_index=idx,
                    sums6=sums6, n_fit=n_fit)
    )
    assert served == rows(
        ann_join_bq(
            queries, k=4, query_cells=qc,
            corpus_index=assign_cells_l2q(corpus, cents6, n_probe=1).join(
                bq_encode(corpus, sums6, n_fit), on="vec_id"
            ),
            sums6=sums6, n_fit=n_fit,
        )
    )

    # replay injection: drop the last commit — the batch re-runs and
    # overwrites its own ingest_batch_id dir, never duplicates
    commits = sorted(
        (e for e in os.listdir(f"{ckpt}/commits") if e.isdigit()), key=int
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    idx2, _, _, _ = load_bq_index(spark, index)
    assert idx2.count() == len(want)

    # X166 reuse: tombstone ~half the ids — deleted rows never rank
    doomed = corpus.where(F.col("vec_id") % 10 == 3)
    pq_index_delete(index, doomed)
    idx3, _, _, _ = load_bq_index(spark, index)
    doomed_ids = {r["vec_id"] for r in doomed.collect()}
    assert idx3.count() == len(want) - len(doomed_ids)
    for r in ann_join_bq(
        queries, k=4, query_cells=qc, corpus_index=idx3,
        sums6=sums6, n_fit=n_fit,
    ).collect():
        assert r["corpus_id"] not in doomed_ids

    # saved-then-streamed: save_bq_index writes the model layout the
    # loader reads, but flat assignments — a stream appending beside
    # them would hide every saved row, so it refuses the path and the
    # saved rows all still load
    saved = str(tmp_path / "bq_saved")
    save_bq_index(idx2, cents6, sums6, n_fit, saved)
    assert load_bq_index(spark, saved)[1:] == (lc, ls, ln)
    tiny = str(tmp_path / "tiny_in")
    queries.select("vec_id", "embedding").coalesce(1).write.parquet(tiny)
    stream = spark.readStream.schema(schema).parquet(tiny)
    for n, ck in ((n_fit, "ck_s"), (n_fit + 1, "ck_o")):
        with pytest.raises(ValueError, match="outside ingest_batch_id"):
            bq_index_stream(
                stream, cents6, sums6, n, saved, str(tmp_path / ck)
            )
    assert load_bq_index(spark, saved)[0].count() == len(want)

    # frozen-model guards: different sums, different n, superset model
    with pytest.raises(ValueError, match="DIFFERENT quantizer/threshold"):
        drain(sums=[s + 1 for s in sums6])
    with pytest.raises(ValueError, match="DIFFERENT quantizer/threshold"):
        drain(n=n_fit + 1)
    spark.createDataFrame(
        [(64, 0, n_fit)], "d int, s6 long, n long"
    ).write.mode("append").parquet(f"{index}/bqmodel")
    with pytest.raises(ValueError, match="DIFFERENT quantizer/threshold"):
        drain()
    # restore, then corrupt -> fail closed
    spark.createDataFrame(
        [(d, sums6[d], n_fit) for d in range(64)], "d int, s6 long, n long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index}/bqmodel")
    for part in glob.glob(f"{index}/bqmodel/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(ValueError, match="UNREADABLE"):
        drain()
