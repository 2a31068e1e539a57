"""Unit tests pinning the reference's tricky semantics on tiny literal
frames (SURVEY.md section 5.2 layer 2, FIXTURES.md 'semantics to pin')."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from alphavantage_etl_spark.functions.calendar import business_day_calendar
from alphavantage_etl_spark.functions.rounding import money_round
from alphavantage_etl_spark.functions.text import simhash64, token_count
from alphavantage_etl_spark.functions.windows import sma
from alphavantage_etl_spark.operators.asof import asof_join
from alphavantage_etl_spark.operators.bars import ohlcv_bars
from alphavantage_etl_spark.operators.incremental import merge_incremental, new_rows
from alphavantage_etl_spark.operators.sessionize import sessionize


def d(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# --- W1: SMA exclusive trailing frame, NULL under k (data_viz.py:100-109) ---
@pytest.mark.slow
def test_sma_exclusive_frame_null_under_k(spark):
    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    df = spark.createDataFrame(
        [(d(f"2024-01-0{i+1}"), v) for i, v in enumerate(vals)], "date date, v double"
    )
    out = {
        r["date"].day: r["s"]
        for r in df.select("date", sma("v", 4, "date").alias("s")).collect()
    }
    # rows 1..4: fewer than 4 preceding -> NULL (pandas min_periods=k parity)
    assert out[1] is None and out[2] is None and out[3] is None and out[4] is None
    # row 5: mean of rows 1..4 (EXCLUSIVE of row 5)
    assert out[5] == pytest.approx((10 + 20 + 30 + 40) / 4)
    assert out[6] == pytest.approx((20 + 30 + 40 + 50) / 4)


# --- P6: half-even money rounding (av_etl.py:192-193). The reference rounds
# a pandas SERIES, so builtin round() dispatches to Series.round -> numpy
# scaled-rint — NOT Python scalar round (they disagree on 2.675: numpy 2.68
# because 2.675*100 == 267.5 exactly in double; scalar round 2.67 from the
# binary value). Parity target is pandas/numpy.
def test_money_round_half_even(spark):
    import pandas as pd

    cases = [2.675, 2.665, 0.125, 1.005, 2.5, 3.5, 12716.414999999999]
    df = spark.createDataFrame([(c,) for c in cases], "x double")
    got = [r["y"] for r in df.select(money_round("x", 2).alias("y")).collect()]
    expected = list(round(pd.Series(cases), 2))  # the reference's exact call shape
    assert got == expected


# --- D1: business-day count, half-open, holiday-aware (av_etl.py:50-51,95) ---
def test_busday_halfopen_and_holidays(spark):
    # Mon 2024-01-01 .. Fri 2024-01-05: [Mon, Fri) = Mon,Tue,Wed,Thu = 4
    cal = business_day_calendar(spark, "2024-01-01", "2024-01-04")
    assert cal.count() == 4
    import numpy as np

    assert int(np.busday_count("2024-01-01", "2024-01-05")) == 4
    # holiday inside the span drops 1 (np.busday_count holidays parity)
    cal_h = business_day_calendar(spark, "2024-01-01", "2024-01-04", holidays=["2024-01-02"])
    assert cal_h.count() == 3
    assert int(np.busday_count("2024-01-01", "2024-01-05", holidays=["2024-01-02"])) == 3
    # weekend-only span counts zero
    assert business_day_calendar(spark, "2024-01-06", "2024-01-07").count() == 0


# --- J2: anti-join increment == positional tail(gap) (av_etl.py:79) ---
@pytest.mark.slow
def test_new_rows_equals_tail(spark):
    incoming = spark.createDataFrame(
        [(d(f"2024-01-0{i}"), float(i)) for i in range(1, 8)], "date date, v double"
    )
    existing = incoming.where(F.col("date") <= F.lit("2024-01-04"))
    got = sorted(r["date"].day for r in new_rows(incoming, existing, "date").collect())
    # pandas equivalent: df.tail(gap) with gap = 3 newest rows in ASC order
    assert got == [5, 6, 7]
    merged = merge_incremental(incoming, existing, "date")
    assert merged.count() == 7
    assert merged.select("date").distinct().count() == 7
    # idempotent: merging again adds nothing (PK-by-construction, av_etl.py:38)
    assert merge_incremental(incoming, merged, "date").count() == 7


# --- A1: ordered first/last with deterministic tie-break ---
def test_ohlcv_bars_tiebreak(spark):
    rows = [
        (ts("2024-01-01T00:00:00"), 2, 200.0),
        (ts("2024-01-01T00:00:00"), 1, 100.0),  # same ts: key 1 -> open
        (ts("2024-01-01T00:00:00"), 3, 50.0),  # same ts: key 3 -> close
        (ts("2024-01-02T09:00:00"), 9, 5.0),
        (ts("2024-01-02T08:00:00"), 10, 7.0),  # earlier ts wins over larger key
    ]
    df = spark.createDataFrame(rows, "t timestamp_ntz, k long, v double")
    bars = {
        r["date"].day: r
        for r in ohlcv_bars(df, "t", "v", tiebreak_cols=["k"]).collect()
    }
    assert bars[1]["open"] == 100.0 and bars[1]["close"] == 50.0
    assert bars[1]["high"] == 200.0 and bars[1]["low"] == 50.0 and bars[1]["volume"] == 3
    assert bars[2]["open"] == 7.0 and bars[2]["close"] == 5.0


# --- J3: as-of join fills latest value at-or-before; NULL before first ---
def test_asof_join(spark):
    left = spark.createDataFrame(
        [(d("2024-01-01"), 1.0), (d("2024-01-03"), 3.0), (d("2024-01-05"), 5.0),
         (d("2024-01-08"), 8.0)],
        "date date, px double",
    )
    right = spark.createDataFrame(
        [(d("2024-01-03"), 30.0), (d("2024-01-06"), 60.0)], "date date, rate double"
    )
    out = {r["date"].day: r["rate"] for r in asof_join(left, right, "date").collect()}
    assert out[1] is None  # before first right row
    assert out[3] == 30.0  # same-day right row IS visible (inclusive)
    assert out[5] == 30.0  # carries forward
    assert out[8] == 60.0  # picks up newer rate
    assert len(out) == 4  # every left row survives


def test_asof_join_rejects_silent_column_collision(spark):
    left = spark.createDataFrame([(d("2024-01-01"), 1.0)], "date date, v double")
    right = spark.createDataFrame([(d("2024-01-01"), 2.0)], "date date, v double")
    with pytest.raises(ValueError, match="collide.*suffix"):
        asof_join(left, right, "date")
    out = asof_join(left, right, "date", suffix="_r").collect()
    assert out[0]["v"] == 1.0 and out[0]["v_r"] == 2.0


# --- X6: session boundary — exactly-gap MERGES (inclusive), gap+epsilon splits ---
def test_session_gap_boundary(spark):
    rows = [
        (1, ts("2024-01-01T10:00:00"), 1.0),
        (1, ts("2024-01-01T10:29:59"), 1.0),  # < 30min -> same session
        (1, ts("2024-01-01T10:59:59"), 1.0),  # chains
        (1, ts("2024-01-01T11:29:59"), 1.0),  # exactly 30:00 after -> still MERGED
        (1, ts("2024-01-01T12:00:00"), 1.0),  # 30:01 after -> NEW session
        (2, ts("2024-01-01T10:00:00"), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    sess = sessionize(df, gap="30 minutes").collect()
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[2]) == 1
    u1 = sorted(by_user[1], key=lambda r: r["session_start"])
    assert len(u1) == 2
    assert u1[0]["n_events"] == 4 and u1[1]["n_events"] == 1


# --- X4: tokenization edges ---
def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), (" a  b\tc\nd ",), ("word",)], "t string"
    )
    got = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [0, 0, 4, 1]


# --- X2: simhash — near-identical texts land within small Hamming distance ---
def test_simhash_near(spark):
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    c = "completely different content about spark query engines and shuffles"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id long, t string")
    h = {r["id"]: int(r["h"], 16) for r in df.select("id", simhash64("t").alias("h")).collect()}
    ham_ab = bin(h[1] ^ h[2]).count("1")
    ham_ac = bin(h[1] ^ h[3]).count("1")
    assert ham_ab < ham_ac
    assert ham_ab <= 16


# --- J1: left join + dropna == inner join (av_etl.py:190-191) ---
def test_left_dropna_equals_inner(spark):
    l = spark.createDataFrame([(d("2024-01-01"), 1.0), (d("2024-01-02"), 2.0)], "date date, a double")
    r = spark.createDataFrame([(d("2024-01-02"), 20.0)], "date date, b double")
    via_left = l.join(r, "date", "left").na.drop()
    via_inner = l.join(r, "date", "inner")
    assert sorted(map(str, via_left.collect())) == sorted(map(str, via_inner.collect()))


# --- X4: language-ID heuristic — real multilingual snippets resolve to the
# right profile; argmax tie-break follows the fixed priority order ---
def test_lang_id_profiles(spark):
    from alphavantage_etl_spark.functions.text import lang_id

    rows = [
        ("the cat sat on the mat and it was happy", "en"),
        ("der Hund ist nicht mit der Katze zu sehen", "de"),
        ("el perro es grande y la casa es de un amigo", "es"),
        ("le chien est dans une maison que je vois pour toi", "fr"),
        ("我是学生 他有书 我在这里 人不多", "zh"),
        ("", "en"),  # all scores 0 -> priority order picks 'en'
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r["p"] for r in df.select(lang_id("text").alias("p")).collect()]
    assert got == [want for _, want in rows]


# --- X4: BPE-ish piece count matches the regex reference implementation ---
def test_token_count_bpe(spark):
    import re

    from alphavantage_etl_spark.functions.text import BPE_PIECE_RE, token_count_bpe

    texts = ["it's a test-case 123, ok!", "hello   world", "", "a1b2!!c", "  lead"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["n"] for r in df.select(token_count_bpe("text").alias("n")).collect()]
    assert got == [len(re.findall(BPE_PIECE_RE, t)) for t in texts]


# --- X4: rolling fingerprint = Rabin-Karp fold, empty string -> 0 ---
def test_rolling_fingerprint(spark):
    from alphavantage_etl_spark.functions.text import rolling_fingerprint

    def rh(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    texts = ["hello world", "", "a", "ab", "ba", "x" * 500]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["h"] for r in df.select(rolling_fingerprint("text").alias("h")).collect()]
    assert got == [rh(t) for t in texts]
    assert got[3] != got[4], "order-sensitivity: 'ab' and 'ba' must differ"


# --- X2: exact n-gram Jaccard — hand-computable sets, blocking respected ---
def test_ngram_jaccard_pairs(spark):
    from alphavantage_etl_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "abcdef", "g1"),   # shingles(k=3): abc bcd cde def
            (2, "abcdex", "g1"),   # abc bcd cde dex -> inter 3, union 5 -> 0.6
            (3, "zzzzzz", "g1"),   # zzz (distinct) -> jac 0 with others
            (4, "abcdef", "g2"),   # identical to 1 but different block -> no pair
        ],
        "id long, text string, grp string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "text", "id", block_cols=["grp"], k=3, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): pytest.approx(3 / 5)}


# --- X2/X3: embedding near-dup — blocking + threshold + id ordering ---
def test_embedding_near_dups(spark):
    from alphavantage_etl_spark.operators.similarity import embedding_near_dups

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.6, 0.8], 0),   # cos with 1 = 0.6
            (3, [1.0, 0.0], 0),   # cos with 1 = 1.0
            (4, [1.0, 0.0], 1),   # same direction as 1 but other block
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_near_dups(df, threshold=0.9).collect()
    }
    assert got == {(1, 3): pytest.approx(1.0)}
    # lowering the threshold admits the 0.6 pairs, still never cross-block
    low = embedding_near_dups(df, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in low} == {(1, 3), (1, 2), (2, 3)}


# --- X2: LSH+verify near-dups — precision is exact (subset of the exact
# blocked join at the same threshold), and recall catches the fixture's
# true near-dup pairs ---
@pytest.mark.slow
def test_minhash_verified_subset_of_exact(spark):
    from alphavantage_etl_spark.operators.dedup import (
        minhash_verified_near_dups,
        ngram_jaccard_pairs,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    docs = load(spark, SF_ORACLE, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs.withColumn("__all", F.lit(1)), "text", "doc_id",
            block_cols=["__all"], k=9, threshold=0.4,
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_verified_near_dups(
            docs, "text", "doc_id", shingle_k=9, bands=16,
            candidate_threshold=0.2, jaccard_threshold=0.4,
        ).collect()
    }
    assert set(got) <= set(exact), "verified pairs must all be true near-dups"
    for pair, j in got.items():
        assert j == exact[pair], "verify stage must report the exact Jaccard"
    assert len(got) >= len(exact) * 0.8, (
        f"recall too low: {len(got)}/{len(exact)} at 16x2 banding"
    )
    assert exact, "fixture must contain true near-dup pairs"


# --- X2: hot-bucket cap bounds the candidate quadratic without touching
# well-behaved pairs ---
@pytest.mark.slow
def test_minhash_hot_bucket_cap(spark):
    from alphavantage_etl_spark.operators.dedup import minhash_near_dups

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long and repetitive boilerplate disclaimer paragraph about terms"
    )
    pair_a = "completely different content about spark partitions and shuffles etc"
    pair_b = "completely different content about spark partitions and shuffle etc"
    rows = [(i, base) for i in range(30)]  # one hot bucket per band (30 members)
    rows += [(100, pair_a), (101, pair_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(
            docs, "text", "doc_id", jaccard_threshold=0.5, max_bucket_size=None
        ).collect()
    }
    assert (100, 101) in uncapped
    assert len(uncapped) == 30 * 29 // 2 + 1, "blob must be fully quadratic uncapped"

    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(
            docs, "text", "doc_id", jaccard_threshold=0.5, max_bucket_size=10
        ).collect()
    }
    # identical docs share EVERY band bucket, so all 16 hot buckets drop and
    # the blob contributes zero candidates; the well-behaved pair (bucket
    # size 2) is untouched
    assert capped == {(100, 101)}


@pytest.mark.slow
def test_minhash_fixture_pairs_unchanged_by_default_cap(spark):
    from alphavantage_etl_spark.operators.dedup import minhash_verified_near_dups
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    kw = dict(shingle_k=9, bands=16, candidate_threshold=0.2, jaccard_threshold=0.4)
    with_cap = {
        tuple(r) for r in minhash_verified_near_dups(docs, "text", "doc_id", **kw).collect()
    }
    no_cap = {
        tuple(r)
        for r in minhash_verified_near_dups(
            docs, "text", "doc_id", max_bucket_size=None, **kw
        ).collect()
    }
    assert with_cap == no_cap, "default cap must not fire on the fixture corpus"


# --- X2: near-dup intermediates never outlive the caller's final action ---
@pytest.mark.slow
def test_minhash_leaves_cache_manager_empty(spark):
    from alphavantage_etl_spark.operators.dedup import minhash_verified_near_dups
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_SMALL

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, SF_SMALL, "documents")
    out = minhash_verified_near_dups(
        docs, "text", "doc_id", shingle_k=9, bands=16,
        candidate_threshold=0.2, jaccard_threshold=0.4,
    )
    n = out.count()  # the caller's final action
    assert cache.isEmpty(), "no intermediate may stay in the CacheManager"
    assert out.count() == n, "a recount must give the same result"


# --- entry point C: report frames carry the right shapes (data_viz parity) ---
def test_report_frames_shapes(spark):
    from alphavantage_etl_spark.plans.report import report_frames

    from .conftest import SF_SMALL

    frames = report_frames(spark, SF_SMALL)
    assert set(frames) == {"px", "fx", "converted"}
    assert frames["px"].columns == [
        "date", "open", "high", "low", "close", "volume", "sma20", "sma90"
    ]

    # DESC scan order (data_viz.py:87-98) and SMA NULL-under-k at the tail
    px = frames["px"].limit(25).collect()
    dates = [r["date"] for r in px]
    assert dates == sorted(dates, reverse=True)
    oldest = frames["px"].orderBy("date").limit(5).collect()
    assert all(r["sma20"] is None for r in oldest), "under-k rows must be NULL"


@pytest.mark.slow
def test_assign_cells_inline_and_broadcast_paths_identical(spark):
    """The centroid-inlining bound (_INLINE_MAX_LITERALS): above it the
    centroids travel as broadcast data instead of literal codegen. Both
    paths must produce bit-identical assignments and preserve duplicate
    rows' multiplicity."""
    from alphavantage_etl_spark.operators.similarity import (
        _assign_cells,
        train_ivf_cells,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").limit(200)
    # duplicate the frame so multiplicity preservation is observable
    emb2 = emb.unionAll(emb)
    cents = train_ivf_cells(emb, n_cells=8, iters=1)
    inline = _assign_cells(emb2, cents, "embedding")
    bcast = _assign_cells(emb2, cents, "embedding", inline_max=0)
    key = lambda r: (r["vec_id"], r["__cell"])  # noqa: E731
    a = sorted(map(key, inline.select("vec_id", "__cell").collect()))
    b = sorted(map(key, bcast.select("vec_id", "__cell").collect()))
    assert a == b
    assert len(a) == 400  # duplicates kept
    assert set(bcast.columns) == set(inline.columns)


@pytest.mark.slow
def test_auto_cells_scale_with_corpus(spark):
    """n_cells='auto' is the cells-∝-N discipline as code: cell count
    tracks N / target_cell_size, and block_col=None near-dup runs derive
    cells automatically while still finding planted near-duplicates."""
    from alphavantage_etl_spark.operators.similarity import (
        embedding_near_dups,
        resolve_n_cells,
        train_ivf_cells,
    )

    assert resolve_n_cells(0) == 1
    assert resolve_n_cells(1024, 1024) == 1
    assert resolve_n_cells(1025, 1024) == 2
    assert resolve_n_cells(10_240_000, 1024) == 10_000
    assert resolve_n_cells(10**12, 1024, max_cells=1 << 20) == 1 << 20

    rows = []
    for i in range(60):
        base = [0.0] * 8
        base[i % 4] = 1.0
        rows.append((i, [float(b) for b in base]))
    # planted exact-duplicate directions: 0~4~8..., same direction family
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_ivf_cells(
        emb, n_cells="auto", iters=1, target_cell_size=10
    )
    assert len(cents) == 6  # ceil(60 / 10)
    pairs = embedding_near_dups(
        emb, 0.999, block_col=None, target_cell_size=10
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # identical-direction vectors that share a derived cell must pair up;
    # with 15 copies of each of 4 directions there MUST be some pairs
    assert got and all(a % 4 == b % 4 for a, b in got)

    with pytest.raises(ValueError, match="n_cells"):
        train_ivf_cells(emb, n_cells=3.5)  # type: ignore[arg-type]


# --- J3 at scale: partitioned as-of join (per-symbol form) ---
def test_asof_join_partitioned(spark):
    left = spark.createDataFrame(
        [("A", d("2024-01-02"), 1.0), ("A", d("2024-01-09"), 2.0),
         ("B", d("2024-01-02"), 3.0)],
        "sym string, date date, px double",
    )
    right = spark.createDataFrame(
        [("A", d("2024-01-01"), 10.0), ("A", d("2024-01-08"), 20.0),
         ("B", d("2024-01-05"), 30.0)],
        "sym string, date date, rate double",
    )
    out = {
        (r["sym"], r["date"].day): r["rate"]
        for r in asof_join(left, right, "date", partition_by=["sym"]).collect()
    }
    # fills never cross the partition boundary
    assert out[("A", 2)] == 10.0 and out[("A", 9)] == 20.0
    assert out[("B", 2)] is None  # B has no rate yet on Jan 2


def test_label_centroids_exact_values(spark):
    from alphavantage_etl_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 2.0], 0), (3, [5.0, 5.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r["label"], r["dim"]): (r["n"], r["centroid"], r["variance"])
        for r in label_centroids(df).collect()
    }
    # label 0 dim 0: mean(1,3)=2, var=((1-2)^2+(3-2)^2)/2=1
    assert out[(0, 0)] == (2, 2.0, 1.0)
    # label 0 dim 1: mean(2,2)=2, var=0
    assert out[(0, 1)] == (2, 2.0, 0.0)
    # singleton label 1: centroid = the vector, var=0
    assert out[(1, 0)] == (1, 5.0, 0.0)
    assert out[(1, 1)] == (1, 5.0, 0.0)


@pytest.mark.slow
def test_incremental_minhash_equals_full_rebuild(spark):
    """full(corpus) ∪ incremental(batch vs corpus index) must equal
    full(corpus ∪ batch) — the property that lets ingest skip re-shingling
    the corpus."""
    from alphavantage_etl_spark.operators.dedup import (
        minhash_near_dups,
        minhash_near_dups_incremental,
        minhash_signatures,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    kw = dict(shingle_k=9, bands=16, jaccard_threshold=0.3)

    def pairset(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    full_all = pairset(minhash_near_dups(docs, "text", "doc_id", **kw))
    full_corpus = pairset(minhash_near_dups(corpus, "text", "doc_id", **kw))

    corpus_sigs = minhash_signatures(corpus, "text", "doc_id", shingle_k=9)
    inc_pairs, new_sigs = minhash_near_dups_incremental(
        batch, corpus_sigs, "text", "doc_id", **kw
    )
    inc = pairset(inc_pairs)

    # incremental finds exactly the pairs the full rebuild adds
    assert full_corpus | inc == full_all
    # and nothing it reports is corpus-internal
    assert all(a % 2 == 1 or b % 2 == 1 for a, b in inc)
    # the returned signatures ARE the batch's index rows
    assert new_sigs.count() == batch.count()


# ----------------------------------------------------------- semantic dedup
def test_semantic_dedup_full_corpus_decision(spark):
    from alphavantage_etl_spark.operators.similarity import semantic_dedup

    # one transitive cluster {1,2,3} (1~2, 2~3 via shared direction),
    # one singleton 9, all in the same block
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.98, 0.2, 0.0], 0),   # ~1 and ~3
        (3, [0.9, 0.43, 0.0], 0),   # ~2, not ~1 at 0.97
        (9, [0.0, 0.0, 1.0], 0),    # singleton
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in semantic_dedup(emb, 0.97).collect()}
    assert len(out) == 4  # every vector gets a row
    assert out[1]["cluster_id"] == 1 and out[1]["keep"] == 1
    assert out[2]["cluster_id"] == 1 and out[2]["keep"] == 0
    assert out[3]["cluster_id"] == 1 and out[3]["keep"] == 0  # transitive
    assert out[9]["cluster_id"] == 9 and out[9]["keep"] == 1  # singleton


def test_semantic_dedup_broadcast_gate_both_branches(spark):
    """The label broadcast is size-gated: a normal corpus (labels vanish
    vs corpus) forces the broadcast hint; an adversarial near-dup-dense
    corpus — simulated by broadcast_max_bytes=0 — takes the plain-join
    path. Both branches must produce identical assignments."""
    from alphavantage_etl_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.98, 0.2, 0.0], 0),
        (3, [0.9, 0.43, 0.0], 0),
        (9, [0.0, 0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    small = semantic_dedup(emb, 0.97)
    dense = semantic_dedup(emb, 0.97, broadcast_max_bytes=0)
    assert "ResolvedHint" in small._jdf.queryExecution().logical().toString()
    assert (
        "ResolvedHint"
        not in dense._jdf.queryExecution().logical().toString()
    )
    key = lambda r: (r["vec_id"], r["cluster_id"], r["keep"])  # noqa: E731
    assert sorted(map(key, small.collect())) == sorted(map(key, dense.collect()))


def test_semantic_dedup_blocks_limit_pairing(spark):
    from alphavantage_etl_spark.operators.similarity import semantic_dedup

    # identical vectors in DIFFERENT cells are not compared (the IVF trade)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["vec_id"]: r["keep"] for r in semantic_dedup(emb, 0.9).collect()}
    assert out == {1: 1, 2: 1}


# ---------------------------------------------------------------- BM25
def test_bm25_prefers_rare_terms_and_saturates_tf(spark):
    from alphavantage_etl_spark.operators.sparsesim import bm25_topk

    docs = spark.createDataFrame(
        [
            (7, "rare shared filler"),                 # query
            (1, "rare other words here"),              # shares the RARE term
            (2, "filler filler filler filler extra"),  # spams the COMMON term
            (3, "filler something else entirely"),     # one common term
            (4, "unrelated text completely"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", query_id=7, k=5).collect()
    ranks = [r["doc_id"] for r in out]
    scores = {r["doc_id"]: r["score"] for r in out}
    # idf at EQUAL term frequency: one rare-term hit outranks one
    # common-term hit (docs 1 and 3 both match exactly once)
    assert scores[1] > scores[3]
    # tf saturation: four repetitions of 'filler' score more than one,
    # but nowhere near 4x (k1 caps the growth)
    assert scores[2] > scores[3]
    assert scores[2] < 2.5 * scores[3]
    assert 4 not in scores  # no shared term, no candidate row
    assert set(ranks) == {1, 2, 3}


def test_bm25_length_normalization(spark):
    from alphavantage_etl_spark.operators.sparsesim import bm25_topk

    long_tail = " ".join(f"pad{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (7, "needle"),
            (1, "needle short"),
            (2, "needle " + long_tail),  # same tf, much longer doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in bm25_topk(
        docs, "doc_id", "text", query_id=7, k=5).collect()}
    assert out[1] > out[2]  # b penalizes the long document


# ------------------------------------------------------------ k-NN graph
def test_knn_graph_rank_order_and_block_isolation(spark):
    from alphavantage_etl_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.435], 0),   # sim to 1 ≈ 0.9
            (3, [0.0, 1.0], 0),     # sim to 1 = 0
            (9, [1.0, 0.0], 1),     # identical to 1 but other cell
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["vec_id"], r["rank"]): r for r in knn_graph(emb, k=2).collect()}
    # vector 1's nearest is 2, then 3; 9 never appears (cell isolation)
    assert out[(1, 1)]["neighbor_id"] == 2
    assert out[(1, 2)]["neighbor_id"] == 3
    assert not any(r["neighbor_id"] == 9 for (v, _), r in out.items() if v == 1)
    # 9 is alone in its cell: no rows (documented IVF recall dial)
    assert not any(v == 9 for (v, _) in out)
    # symmetry of the underlying pair: 2's nearest is 1
    assert out[(2, 1)]["neighbor_id"] == 1


def test_knn_graph_k_caps_degree(spark):
    from alphavantage_etl_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [(i, [1.0, float(i) / 100], 0) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    out = knn_graph(emb, k=3).collect()
    from collections import Counter

    deg = Counter(r["vec_id"] for r in out)
    assert all(d == 3 for d in deg.values()) and len(deg) == 10


# ----------------------------------------------------- random projection
def test_random_projection_exact_and_layout_invariant(spark):
    import hashlib

    from alphavantage_etl_spark.functions.vectors import random_projection

    emb = spark.createDataFrame(
        [(i, [float(i) / 7, -1.5, 2.25, float(i % 3)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in random_projection(
        emb, out_dims=3).collect()}

    def sign(j, i):
        h = hashlib.md5(f"rp0:{j}:{i}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 0 else -1

    import numpy as np

    for i in range(20):
        x = [np.float32(v) for v in [i / 7, -1.5, 2.25, i % 3]]
        for j in range(3):
            want = sum(
                sign(j, d + 1) * round(float(x[d]) * 1e6)
                for d in range(4)
            ) / 1e6
            assert abs(out[i][f"p{j}"] - want) < 1e-12, (i, j)

    b = {r["vec_id"]: r for r in random_projection(
        emb.repartition(6), out_dims=3).collect()}
    assert all(tuple(out[i]) == tuple(b[i]) for i in range(20))


def test_random_projection_roughly_preserves_relative_distance(spark):
    from alphavantage_etl_spark.functions.vectors import random_projection

    # JL sanity (not a tight bound): a FAR pair stays farther than a
    # NEAR pair after projection, across the 16-dim fixture
    near_a = [1.0] * 16
    near_b = [1.0] * 15 + [1.1]
    far_c = [-1.0] * 16
    emb = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, far_c)],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: [r[f"p{j}"] for j in range(8)]
           for r in random_projection(emb, out_dims=8).collect()}

    def d2(u, v):
        return sum((a - b) ** 2 for a, b in zip(u, v))

    assert d2(out[1], out[3]) > d2(out[1], out[2])


# ------------------------------------------------- embedding diagnostics
def test_embedding_diag_detects_collapsed_dim(spark):
    from alphavantage_etl_spark.functions.vectors import (
        embedding_diagnostics,
    )

    # dim 2 is constant (collapsed); dim 1 varies
    emb = spark.createDataFrame(
        [(i, [float(i), 3.5]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in embedding_diagnostics(emb).collect()}
    assert out[2]["variance"] == 0.0 and out[2]["mean"] == 3.5
    assert out[1]["variance"] > 0
    assert out[1]["n"] == 10
    # exact population variance of 0..9: 8.25
    assert abs(out[1]["variance"] - 8.25) < 1e-9
    assert out[1]["min"] == 0.0 and out[1]["max"] == 9.0


# ---------------------------------------------------------------- RRF
def test_rrf_fusion_arithmetic_and_missing_items(spark):
    from alphavantage_etl_spark.operators.sparsesim import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.5)], "doc_id long, score double"
    )
    out = {r["doc_id"]: r for r in rrf_fuse(a, b, "doc_id").collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 2: rank 2 in a, rank 1 in b
    assert out[2]["rank_a"] == 2 and out[2]["rank_b"] == 1
    assert out[2]["rrf_score"] == 1 / 62 + 1 / 61
    # items missing from one list contribute only the present term
    assert out[1]["rrf_score"] == 1 / 61 and out[1]["rank_b"] is None
    assert out[4]["rrf_score"] == 1 / 62 and out[4]["rank_a"] is None  # rank 2 in b
    # the doubly-ranked item outranks every single-list item here
    assert out[2]["rrf_score"] > max(out[1]["rrf_score"], out[4]["rrf_score"])


def test_rrf_rank_ties_break_on_id(spark):
    from alphavantage_etl_spark.operators.sparsesim import rrf_fuse

    a = spark.createDataFrame(
        [(5, 1.0), (3, 1.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame([], "doc_id long, score double")
    out = {r["doc_id"]: r["rank_a"] for r in rrf_fuse(a, b, "doc_id").collect()}
    assert out == {3: 1, 5: 2}  # equal scores: smaller id ranks first


def test_rrf_rejects_ambiguous_and_accepts_explicit_score(spark):
    """r5 ADVICE: an input with an extra column must raise instead of
    silently ranking by whichever non-id column comes first; explicit
    score_a/score_b selects the right one."""
    import pytest

    from alphavantage_etl_spark.operators.sparsesim import rrf_fuse

    clean = spark.createDataFrame(
        [(1, 1.0), (2, 0.5)], "doc_id long, score double"
    )
    wide = spark.createDataFrame(
        [(1, 99.0, 0.5), (2, 0.0, 1.0)],
        "doc_id long, junk double, score double",
    )
    with pytest.raises(ValueError, match="cannot infer"):
        rrf_fuse(wide, clean, "doc_id")
    with pytest.raises(ValueError, match="not in"):
        rrf_fuse(clean, clean, "doc_id", score_a="nope")
    out = {
        r["doc_id"]: r
        for r in rrf_fuse(wide, clean, "doc_id", score_a="score").collect()
    }
    # ranked by 'score' (doc 2 first in a), not by 'junk'
    assert out[2]["rank_a"] == 1 and out[1]["rank_a"] == 2


# --- X137: cross-table ANN retrieval join ---
@pytest.mark.slow
def test_ann_join_scores_exact_and_recall(spark):
    """Every (query, hit) the ANN join returns must carry the EXACT
    cosine the brute-force path assigns (rerank is exact; only the
    candidate set is approximate), ranks must be contiguous from 1 in
    score order, and recall@5 vs brute force stays useful at
    n_probe=4/8."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        cosine_topk,
        train_ivf_cells,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 3)
    corpus = emb.where(F.col("vec_id") % 50 != 3)
    cents = train_ivf_cells(corpus, n_cells=8, iters=2)
    assert len(cents) == 8 and len(cents[0]) == 64
    again = train_ivf_cells(corpus, n_cells=8, iters=2)
    assert cents == again, "training must be deterministic"

    got = ann_join(queries, corpus, k=5, centroids=cents, n_probe=4).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == queries.count()
    recalls = []
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        qv = list(
            queries.where(F.col("vec_id") == qid).first()["embedding"]
        )
        exact = cosine_topk(corpus, qv, k=500).collect()
        exact_scores = {r["vec_id"]: r["sim"] for r in exact}
        for r in rows:
            assert exact_scores[r["corpus_id"]] == r["sim"]
        brute5 = {r["vec_id"] for r in exact[:5]}
        recalls.append(
            len(brute5 & {r["corpus_id"] for r in rows}) / 5
        )
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall@5 {recalls}"


@pytest.mark.slow
def test_ann_join_persisted_index_path_identical(spark, tmp_path):
    """build_ivf_index -> save_ivf_index -> load_ivf_index -> ann_join
    (corpus_cells=...) must equal the recompute path row-for-row — the
    minhash signature-table precedent applied to IVF: assignment is
    ingest-time work, not per-query work."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        train_ivf_cells,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 3)
    corpus = emb.where(F.col("vec_id") % 50 != 3)
    cents = train_ivf_cells(corpus, n_cells=8, iters=2)

    idx = build_ivf_index(corpus, cents)
    save_ivf_index(idx, cents, str(tmp_path / "ivf"))
    loaded_idx, loaded_cents = load_ivf_index(spark, str(tmp_path / "ivf"))
    assert loaded_cents == [[float(x) for x in c] for c in cents]

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
            for r in df.collect()
        )

    fresh = ann_join(queries, corpus, k=5, centroids=cents, n_probe=3)
    via_index = ann_join(
        queries, corpus, k=5, centroids=loaded_cents, n_probe=3,
        corpus_cells=loaded_idx,
    )
    assert rows(fresh) == rows(via_index)


def test_ann_join_validation(spark):
    import pytest

    from alphavantage_etl_spark.operators.similarity import ann_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="n_probe"):
        ann_join(emb, emb, k=1, centroids=cents, n_probe=3)
    with pytest.raises(ValueError, match="n_probe"):
        ann_join(emb, emb, k=1, centroids=cents, n_probe=0)
    with pytest.raises(ValueError, match="k must"):
        ann_join(emb, emb, k=0, centroids=cents)
    with pytest.raises(ValueError, match="centroids"):
        ann_join(emb, emb, k=1, centroids=[])


def test_ann_join_plan_corpus_never_shuffles(spark):
    """The 100 TB contract of the retrieval join: the corpus side
    crosses ONE BroadcastHashJoin on the cell id (query×probe side
    built/broadcast — never a SortMergeJoin of the corpus), and the
    only hash exchange carries the WindowGroupLimit-pre-limited
    candidates on the query id."""
    from alphavantage_etl_spark.operators.similarity import ann_join
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 3)
    corpus = emb.where(F.col("vec_id") % 50 != 3)
    cents = [[1.0 if i == j else 0.0 for i in range(64)] for j in range(8)]
    out = ann_join(queries, corpus, k=5, centroids=cents, n_probe=2)
    out.collect()  # AQE decides at runtime; assert on the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in final
    import re

    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final


def test_ann_join_byo_quantizer_plan_corpus_never_shuffles(spark):
    """X146's plan property, same contract as the centroid path: with
    bring-your-own cell frames the candidate chain is STATIC broadcast
    joins end to end (probe frame joined bare on the cell key FIRST —
    pre-joining vectors would make the build side a join output with
    no size estimate, initial-plan SortMergeJoin, and a materialized
    corpus-sized shuffle before AQE converts), zero SortMergeJoin, and
    the only hash exchange carries the WindowGroupLimit-pre-limited
    candidates on the query id."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 3)
    corpus = emb.where(F.col("vec_id") % 50 != 3)
    cents6 = [
        [1_000_000 if i == j else 0 for i in range(64)] for j in range(8)
    ]
    out = ann_join(
        queries,
        corpus,
        k=5,
        corpus_cells=assign_cells_l2q(corpus, cents6),
        query_cells=assign_cells_l2q(queries, cents6, n_probe=2),
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final


@pytest.mark.slow
def test_split_hot_cells_semantics(spark):
    """X148: the hottest above-threshold cell splits 2-way by an exact
    sub-fit over its members only; the delta holds exactly the MOVED
    rows (new ids start at len(cents6)); applying it yields the
    split-refined index — hot members partitioned among the children,
    every other row untouched (the local-refinement trade, NOT a
    global re-assignment)."""
    from alphavantage_etl_spark.operators.similarity import (
        apply_assignment_delta,
        assign_cells_l2q,
        split_hot_cells,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    new_cents, delta = split_hot_cells(
        corpus, cents6, hot_factor=1.05, max_splits=1, sub_cells=2, iters=2
    )
    assert len(new_cents) == len(cents6) + 1
    rows = delta.collect()
    assert rows, "fixture must have a hot cell at hot_factor=1.05"
    hot = {r["old_cell"] for r in rows}
    assert len(hot) == 1
    (h,) = hot
    assert all(r["new_cell"] == len(cents6) for r in rows)
    assert all(r["d2_new"] >= 0 for r in rows)
    # unsplit cells keep their centroid; the hot slot holds sub-fit 0
    for c in range(len(cents6)):
        if c != h:
            assert new_cents[c] == cents6[c]

    # applying the delta = old assignment with ONLY the moved rows
    # repointed (split-refined index, other rows untouched)
    before = {
        r["vec_id"]: r["__cell"]
        for r in assign_cells_l2q(corpus, cents6).collect()
    }
    after = {
        r["vec_id"]: r["__cell"]
        for r in apply_assignment_delta(
            assign_cells_l2q(corpus, cents6), delta
        ).collect()
    }
    moved = {r["vec_id"]: r["new_cell"] for r in rows}
    for vid, cell in after.items():
        assert cell == moved.get(vid, before[vid])
    # moved rows all came from the hot cell
    assert all(before[vid] == h for vid in moved)


def test_split_hot_cells_no_hot_and_guards(spark):
    """No cell above threshold -> unchanged centroids, EMPTY delta with
    the contract schema; parameter guards raise."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import split_hot_cells

    # 4 vectors in 2 perfectly balanced cells — nothing is hot at 1.5x
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.9])],
        "vec_id long, embedding array<float>",
    )
    cents = [[950000, 0], [0, 950000]]
    new_cents, delta = split_hot_cells(df, cents, hot_factor=1.5)
    assert new_cents == cents
    assert delta.columns == ["vec_id", "old_cell", "new_cell", "d2_new"]
    assert delta.count() == 0

    with pytest.raises(ValueError, match="sub_cells"):
        split_hot_cells(df, cents, sub_cells=1)
    with pytest.raises(ValueError, match="hot_factor"):
        split_hot_cells(df, cents, hot_factor=0)
    with pytest.raises(ValueError, match="max_splits"):
        split_hot_cells(df, cents, max_splits=0)
    with pytest.raises(ValueError, match="dimensionality"):
        split_hot_cells(df, [[1, 2], [1, 2, 3]])
    # a hot cell with fewer members than sub_cells is skipped, not split
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    nc, d = split_hot_cells(tiny, cents, hot_factor=1.0)
    assert nc == cents and d.count() == 0


def test_kmeans_incremental_state_matches_full_recompute(spark):
    """X149's load-bearing invariant: exact integer sufficient
    statistics make state-merge associative — folding batches one at a
    time equals the full-union recompute bit-for-bit, and empty cells
    carry the old centroid."""
    from alphavantage_etl_spark.operators.similarity import (
        kmeans_refit,
        kmeans_state,
        merge_kmeans_states,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    parts = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    states = [kmeans_state(p, cents6) for p in parts]
    inc = kmeans_refit(merge_kmeans_states(*states), cents6)
    full = kmeans_refit(kmeans_state(emb, cents6), cents6)
    assert inc == full

    # empty-cell carry: a state from a batch that misses some cells
    # leaves those centroids exactly as they were
    one = emb.where(F.col("vec_id") == 3)
    new_cents, n_by_cell = kmeans_refit(kmeans_state(one, cents6), cents6)
    touched = set(n_by_cell)
    for c in range(len(cents6)):
        if c not in touched:
            assert new_cents[c] == cents6[c]


def test_assignment_moves_and_state_guards(spark):
    """X150 semantics on a hand grid + validation guards across the
    lifecycle operators."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        assignment_moves,
        kmeans_refit,
        kmeans_state,
        merge_kmeans_states,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.8, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    old = [[1000000, 0], [0, 1000000]]
    # new centroids pull vec 1 into cell 1's orbit
    new = [[1000000, 0], [850000, 0]]
    got = {
        (r["old_cell"], r["new_cell"]): r["n"]
        for r in assignment_moves(df, old, new).collect()
    }
    # vec0: old 0 -> new 0 (d2 0 vs 22500e6); vec1: old 0 -> new 1
    # (2500 vs 40000 x1e6... exact: (800k-1M)^2=4e10 vs (800k-850k)^2=2.5e9)
    # vec2: old 1 -> new argmin((0-1M)^2+1M^2*... ) -> ties? compute:
    # vs new0: 1e12+1e12=2e12; vs new1: 0.7225e12+1e12 -> new 1
    assert got == {(0, 0): 1, (0, 1): 1, (1, 1): 1}

    with pytest.raises(ValueError, match="dimensionality differs"):
        assignment_moves(df, old, [[1, 2, 3]])
    with pytest.raises(ValueError, match="non-empty"):
        kmeans_state(df, [])
    with pytest.raises(ValueError, match="at least one state"):
        merge_kmeans_states()
    with pytest.raises(ValueError, match="outside cents6 range"):
        kmeans_refit(
            spark.createDataFrame(
                [(5, 1, [0, 0])], "cell int, n long, sums array<long>"
            ),
            old,
        )
    with pytest.raises(ValueError, match="sums dim"):
        kmeans_refit(
            spark.createDataFrame(
                [(0, 1, [0, 0, 0])], "cell int, n long, sums array<long>"
            ),
            old,
        )


@pytest.mark.slow
def test_psi_gated_refit_both_branches(spark):
    """X152: an UN-drifted batch (the uniform query slice) stays under
    the 0.1 PSI gate — the old quantizer stands verbatim; the BIASED
    half-space batch (the contract fixture) fires the gate and the
    applied centroids equal the X149 merged refit."""
    from alphavantage_etl_spark.operators.similarity import (
        kmeans_refit,
        kmeans_state,
        merge_kmeans_states,
        psi_gated_refit,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    # no drift: batch occupancy exactly proportional to the base ->
    # every psi term is 0 -> gate holds, old quantizer stands verbatim.
    # (Synthetic states, not a fixture slice: at small SFs even a
    # uniform sample carries enough occupancy noise to cross 0.1 —
    # 20-60 rows over 8 cells — which is the gate doing its job on a
    # too-small batch, not a no-drift fixture.)
    cents2 = [[1_000_000, 0], [0, 1_000_000]]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "cell int, n long, sums array<long>"
    )
    s_b = mk([(0, 500, [5, 5]), (1, 500, [7, 7])])
    s_c = mk([(0, 50, [1, 1]), (1, 50, [2, 2])])
    final, psi, applied = psi_gated_refit(s_b, s_c, cents2)
    assert not applied
    assert final == cents2
    assert all(v == 0 for v in psi.values())

    # an EMPTY batch never fires, even against a skewed base whose
    # smoothed-uniform comparison would otherwise read as drift
    skew = mk([(0, 990, [9, 9]), (1, 10, [1, 1])])
    empty = mk([])
    final_e, _, applied_e = psi_gated_refit(skew, empty, cents2)
    assert not applied_e and final_e == cents2

    # drift: the half-space fixture batch fires the gate; the applied
    # model is exactly the X149 merged refit
    emb = load(spark, SF_ORACLE, "embeddings")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    s_base = kmeans_state(corpus, cents6)
    biased = emb.where(
        (F.col("vec_id") % 25 == 7)
        & (F.element_at(F.col("embedding"), 1) > 0)
    )
    s_batch = kmeans_state(biased, cents6)
    final2, psi2, applied2 = psi_gated_refit(s_base, s_batch, cents6)
    assert applied2 and sum(psi2.values()) > 100_000
    want, _ = kmeans_refit(merge_kmeans_states(s_base, s_batch), cents6)
    assert final2 == want

    # r13 ADVICE: a state row referencing a cell outside [0, n_cells)
    # raises EVEN WHEN THE GATE WOULD NOT FIRE — the left-join form
    # silently dropped such rows and kmeans_refit's own range check
    # only ran on the fired branch
    import pytest

    mal = mk([(0, 500, [5, 5]), (7, 500, [7, 7])])
    quiet = mk([(0, 50, [1, 1])])
    with pytest.raises(ValueError, match=r"cells outside \[0, 2\)"):
        psi_gated_refit(mal, quiet, cents2)
    with pytest.raises(ValueError, match=r"cells outside \[0, 2\)"):
        psi_gated_refit(s_b, mk([(-1, 50, [1, 1])]), cents2)


def test_lifecycle_plans_corpus_never_shuffles(spark):
    """The 100 TB contract of the lifecycle scans: kmeans_state and
    assignment_moves are scan -> partial agg -> ONE hash exchange of
    combined cell/pair rows -> final agg. No join, no corpus-row
    exchange."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        assignment_moves,
        kmeans_state,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    for df in (
        kmeans_state(emb, cents6),
        assignment_moves(emb, cents6, cents6),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in final
        assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
        assert "partial_count" in final or "HashAggregate" in final


def test_ann_join_indexed_matches_inplan_recompute(spark):
    """X147 contract: serving from the STORED assignment table (save ->
    load -> probe) returns row-for-row what the in-plan recompute at
    the same k/probe shape returns — persistence is a layout change,
    never a semantics change."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        q_ann_join_indexed,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    stored = q_ann_join_indexed(spark, SF_ORACLE)

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    fresh = ann_join(
        queries, corpus, k=3,
        corpus_cells=assign_cells_l2q(corpus, cents6, n_probe=1),
        query_cells=assign_cells_l2q(queries, cents6, n_probe=3),
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
            for r in df.collect()
        )

    assert rows(stored) == rows(fresh)


def test_ann_join_materialized_index_skips_id_join(spark):
    """The 100 TB index layout: a corpus_cells frame CARRYING the
    vector column (assignment materialized beside the vectors at
    ingest) serves identically to the bare (id, cell) frame — and the
    executed plan has one FEWER join (the id-keyed reunite is gone:
    exactly the joins of the serving path remain)."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    bare = assign_cells_l2q(corpus, cents6, n_probe=1)
    # (id, embedding, cell) as a STORED table would be — checkpointed
    # so the build join is not part of the serving plan's lineage
    materialized = corpus.join(bare, on="vec_id").localCheckpoint()
    qc = assign_cells_l2q(queries, cents6, n_probe=2)

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
            for r in df.collect()
        )

    via_bare = ann_join(
        queries, corpus, k=5, corpus_cells=bare, query_cells=qc
    )
    via_mat = ann_join(
        queries, corpus, k=5, corpus_cells=materialized, query_cells=qc
    )
    assert rows(via_bare) == rows(via_mat)
    n_joins_bare = via_bare._jdf.queryExecution().executedPlan().toString(
    ).split("== Initial Plan ==")[0].count("Join")
    n_joins_mat = via_mat._jdf.queryExecution().executedPlan().toString(
    ).split("== Initial Plan ==")[0].count("Join")
    assert n_joins_mat == n_joins_bare - 1


def test_ann_join_materialized_cells_flag(spark):
    """r12 ADVICE: the materialized path's corpus_df-is-ignored
    semantics are now EXPLICIT. materialized_cells=True pins the
    one-scan path (raises on a bare frame); False forces the id join
    even when the frame carries vectors — so a FILTERED corpus_df is
    respected; the default None infers from columns (the carrying
    frame wins, filter ignored — the documented trap the flag
    exists to avoid)."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    bare = assign_cells_l2q(corpus, cents6, n_probe=1)
    materialized = corpus.join(bare, on="vec_id").localCheckpoint()
    qc = assign_cells_l2q(queries, cents6, n_probe=2)
    # a filtered corpus_df: only even corpus ids are "intended"
    filtered = corpus.where(F.col("vec_id") % 2 == 0)

    def ids(df):
        return {r["corpus_id"] for r in df.collect()}

    # True == None (inference) on a carrying frame: both ignore the
    # corpus_df filter — results include odd corpus ids
    got_true = ids(ann_join(queries, filtered, k=5,
                            corpus_cells=materialized, query_cells=qc,
                            materialized_cells=True))
    got_none = ids(ann_join(queries, filtered, k=5,
                            corpus_cells=materialized, query_cells=qc))
    assert got_true == got_none
    assert any(i % 2 == 1 for i in got_true)
    # False forces the id join: the filter is respected
    got_false = ids(ann_join(queries, filtered, k=5,
                             corpus_cells=materialized, query_cells=qc,
                             materialized_cells=False))
    assert all(i % 2 == 0 for i in got_false)
    # and equals serving from the bare frame against the same filter
    assert got_false == ids(ann_join(queries, filtered, k=5,
                                     corpus_cells=bare, query_cells=qc))
    # True on a bare frame is a contract error
    with pytest.raises(ValueError, match="materialized_cells=True"):
        ann_join(queries, corpus, k=5, corpus_cells=bare,
                 query_cells=qc, materialized_cells=True)
    # the flag without corpus_cells is meaningless
    with pytest.raises(ValueError, match="meaningless"):
        ann_join(queries, corpus, k=5, centroids=[[float(x) for x in c]
                                                  for c in cents6],
                 materialized_cells=False)


def test_ann_join_indexed_plan_corpus_never_shuffles(spark):
    """X147's serving plan holds the X137/X146 contract with a LOADED
    index: zero SortMergeJoin, all three joins static broadcasts (id
    reunite + cell probe + query-vector attach), and the single hash
    exchange carries WindowGroupLimit-pre-limited candidates only."""
    import re

    from alphavantage_etl_spark.queries import q_ann_join_indexed

    from .conftest import SF_ORACLE

    out = q_ann_join_indexed(spark, SF_ORACLE)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 3


def test_ann_serve_plan_serving_only(spark):
    """X155: the serving-only query keeps the exact X147 serving plan
    (zero SortMergeJoin, three static broadcasts, one candidate-only
    hash exchange, WindowGroupLimit pre-limit) — and its second run in
    a session does NOT rebuild the index (the _fresh_shared path is
    the prebuilt state the bench's min-of-reps measures)."""
    import re

    from alphavantage_etl_spark.queries import (
        _ivf_index_serve_shared,
        q_ann_serve,
    )

    from .conftest import SF_ORACLE

    first = q_ann_serve(spark, SF_ORACLE)
    first.collect()
    # the shared build returns the SAME path without rewriting
    p1 = _ivf_index_serve_shared(spark, SF_ORACLE)
    p2 = _ivf_index_serve_shared(spark, SF_ORACLE)
    assert p1 == p2
    out = q_ann_serve(spark, SF_ORACLE)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 3


@pytest.mark.slow
def test_pq_serve_plan_serving_only_codes_only(spark):
    """X162: serving from the PERSISTED coded index keeps the X157
    serving plan (zero SortMergeJoin, two static broadcasts, one
    WindowGroupLimit-pre-limited candidate exchange) AND reads the
    corpus side from the stored assignments parquet — the raw vector
    column is scanned only on the QUERY side (every embeddings scan in
    the plan carries the query-slice pushed filter), so "serving never
    touches the corpus vectors" holds end-to-end from storage. The
    second run reuses the session-scoped index (no rebuild)."""
    import re

    from alphavantage_etl_spark.queries import (
        _pq_index_serve_shared,
        q_pq_serve,
    )

    from .conftest import SF_ORACLE

    first = q_pq_serve(spark, SF_ORACLE)
    assert first.collect()
    p1 = _pq_index_serve_shared(spark, SF_ORACLE)
    p2 = _pq_index_serve_shared(spark, SF_ORACLE)
    assert p1 == p2
    out = q_pq_serve(spark, SF_ORACLE)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2
    # corpus side = the stored coded index, never the vector table:
    # exactly one scan reads (id, cell, codes) — and every scan that
    # reads the vector column carries the QUERY-slice pushed filter
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    code_scans = [ln for ln in scans if "__codes" in ln]
    vec_scans = [ln for ln in scans if "embedding" in ln]
    assert len(code_scans) == 1
    assert "embedding" not in code_scans[0]
    assert vec_scans, "query-side vector scans must exist"
    assert all("% 25) = 7" in ln for ln in vec_scans)


def test_ann_join_sq8_rerank_composition(spark):
    """X163: the named composition equals the hand-composed chain
    (ann_join_sq8 shortlist -> shortlist-bounded exact cosine rerank)
    row for row, and the guard rails hold."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_sq8,
        ann_join_sq8_rerank,
        assign_cells_l2q,
        sq8_encode,
        sq8_fit,
        topk_exact_rerank,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared, load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    bounds6 = sq8_fit(corpus, dim=64)
    idx = assign_cells_l2q(corpus, cents6, n_probe=1).join(
        sq8_encode(corpus, bounds6), on="vec_id"
    )
    qc = assign_cells_l2q(queries, cents6, n_probe=2)
    composed = ann_join_sq8_rerank(
        queries, corpus, k=3, k_shortlist=10, query_cells=qc,
        corpus_index=idx, bounds6=bounds6,
    ).collect()
    manual = topk_exact_rerank(
        ann_join_sq8(
            queries, k=10, query_cells=qc, corpus_index=idx,
            bounds6=bounds6,
        ),
        queries,
        corpus,
        k=3,
    ).collect()
    assert sorted(map(tuple, composed)) == sorted(map(tuple, manual))
    assert composed and all(r["rank"] <= 3 for r in composed)
    with pytest.raises(ValueError, match="k_shortlist=2 must be >= k=3"):
        ann_join_sq8_rerank(
            queries, corpus, k=3, k_shortlist=2, query_cells=qc,
            corpus_index=idx, bounds6=bounds6,
        )
    with pytest.raises(ValueError, match="k must be >= 1"):
        topk_exact_rerank(
            spark.createDataFrame([], "query_id long, corpus_id long"),
            queries,
            corpus,
            k=0,
        )


@pytest.mark.slow
def test_index_lifecycle_nondegenerate(spark):
    """X153: the composition exercises every stage FOR REAL at the
    oracle SF — the PSI gate fires (refit applied), the refit
    quantizer has a hot cell that SPLITS (9 final centroids, nonempty
    member-bounded delta from exactly one source cell), the folded
    index covers all 9 cells while preserving row count, and serving
    returns ranked rows. Guards fixture drift from silently making
    the contract query trivial."""
    from alphavantage_etl_spark.operators.similarity import (
        apply_assignment_delta,
        assign_cells_l2q,
        split_hot_cells,
    )
    from alphavantage_etl_spark.queries import (
        _refit_gated_shared,
        q_index_lifecycle,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    v2, _, applied = _refit_gated_shared(spark, SF_ORACLE)
    assert applied, "PSI gate must fire on the biased fixture batch"
    emb = load(spark, SF_ORACLE, "embeddings")
    corpus2 = emb.where(F.col("vec_id") % 25 != 7).unionByName(
        emb.where(
            (F.col("vec_id") % 25 == 7)
            & (F.element_at(F.col("embedding"), 1) > 0)
        )
    )
    v3, delta = split_hot_cells(
        corpus2, v2, hot_factor=1.05, max_splits=1, sub_cells=2, iters=2
    )
    assert len(v3) == 9, "exactly one 2-way split"
    moved = delta.collect()
    assert moved, "the hot cell must actually shed members"
    assert {r["old_cell"] for r in moved} == {
        min(r["old_cell"] for r in moved)
    }, "delta comes from ONE source cell (max_splits=1)"
    assert {r["new_cell"] for r in moved} == {8}
    asn = assign_cells_l2q(corpus2, v2, n_probe=1)
    idx2 = apply_assignment_delta(asn, delta)
    assert idx2.count() == asn.count(), "fold preserves coverage"
    cells = {r["__cell"] for r in idx2.select("__cell").distinct().collect()}
    assert cells == set(range(9))
    served = q_index_lifecycle(spark, SF_ORACLE)
    rows = served.collect()
    assert rows and {r["rank"] for r in rows} <= {1, 2, 3}


@pytest.mark.slow
def test_save_ivf_index_partitioned_by_cell_prunes(spark, tmp_path):
    """The 100 TB index layout #2: save_ivf_index(partition_by_cell=
    True) lays one directory per cell; serving reads are then
    DYNAMICALLY PRUNED to the probed cells (the probe join on the
    partition column qualifies for DPP), and results equal the
    unpartitioned layout row-for-row."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
        load_ivf_index,
        save_ivf_index,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    asn = assign_cells_l2q(corpus, cents6, n_probe=1)
    fc = [[float(x) for x in c] for c in cents6]
    save_ivf_index(asn, fc, str(tmp_path / "flat"))
    save_ivf_index(asn, fc, str(tmp_path / "bycell"), partition_by_cell=True)
    flat_idx, _ = load_ivf_index(spark, str(tmp_path / "flat"))
    part_idx, loaded = load_ivf_index(spark, str(tmp_path / "bycell"))
    assert loaded == fc
    # partition discovery restores __cell (as the partition column)
    assert set(part_idx.columns) == {"vec_id", "__cell"}

    qc = assign_cells_l2q(queries, cents6, n_probe=2)

    def rows(df):
        return sorted(
            (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
            for r in df.collect()
        )

    via_flat = ann_join(
        queries, corpus, k=5, corpus_cells=flat_idx, query_cells=qc
    )
    via_part = ann_join(
        queries, corpus, k=5, corpus_cells=part_idx, query_cells=qc
    )
    assert rows(via_flat) == rows(via_part)
    # the partitioned scan is dynamically pruned by the probe join
    final = via_part._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "dynamicpruning" in final
    # static single-cell read prunes to ONE directory
    one = part_idx.where(F.col("__cell") == 3)
    one.collect()
    sc_plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in sc_plan


def test_ann_join_multi_cell_corpus_dedup(spark):
    """A REPLICATED corpus index (one id stored in several cells —
    outside the default single-cell-per-id contract) duplicates a
    (query, corpus) candidate when the query probes two of its cells;
    by default the duplicate occupies two ranks (ties break on
    corpus_id alone), and corpus_multi_cell=True collapses pairs
    exactly before ranking. Also: the flag without corpus_cells is a
    contradiction and raises."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import ann_join

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 1.0]), (12, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cells = spark.createDataFrame(
        # id 10 replicated into BOTH cells; 11 -> 0, 12 -> 1
        [(10, 0), (10, 1), (11, 0), (12, 1)], "vec_id long, __cell int"
    )
    probes = spark.createDataFrame(
        [(0, 0), (0, 1)], "vec_id long, __cell int"
    )

    dup = ann_join(
        emb, corpus, k=4, corpus_cells=cells, query_cells=probes
    ).collect()
    assert [r["corpus_id"] for r in sorted(dup, key=lambda r: r["rank"])] == [
        10, 10, 11, 12
    ]

    ded = ann_join(
        emb, corpus, k=4, corpus_cells=cells, query_cells=probes,
        corpus_multi_cell=True,
    ).collect()
    got = [
        (r["corpus_id"], r["rank"])
        for r in sorted(ded, key=lambda r: r["rank"])
    ]
    assert got == [(10, 1), (11, 2), (12, 3)]
    # duplicate collapse is exact: sims unchanged vs the dup run
    sim_by_id = {r["corpus_id"]: r["sim"] for r in dup}
    assert all(sim_by_id[c] == r["sim"] for c, r in zip(
        [g[0] for g in got], sorted(ded, key=lambda r: r["rank"])
    ))

    with pytest.raises(ValueError, match="corpus_multi_cell"):
        ann_join(emb, corpus, k=1, centroids=[[1.0, 0.0], [0.0, 1.0]],
                 corpus_multi_cell=True)


def test_group_capped_topk_semantics_and_plan(spark):
    """Diversity capping: at most per_group rows per (partition, group)
    survive, then top-k per partition re-ranks 1..k; both windows share
    ONE hash exchange (same partition-key prefix)."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import group_capped_topk

    rows = [
        # qid, cid, grp, sim
        (1, 10, "a", 0.9), (1, 11, "a", 0.8), (1, 12, "a", 0.7),
        (1, 20, "b", 0.6), (1, 21, "b", 0.5), (1, 30, "c", 0.4),
        (2, 40, "a", 0.9),
    ]
    df = spark.createDataFrame(rows, "qid long, cid long, grp string, sim double")
    out = group_capped_topk(
        df, ["qid"], ["grp"], [F.desc("sim"), F.col("cid")], per_group=2, k=4
    )
    got = [
        (r["qid"], r["cid"], r["rank"])
        for r in out.orderBy("qid", "rank").collect()
    ]
    # qid 1: a-group capped at 2 (12 dropped), then top-4 of survivors
    assert got == [
        (1, 10, 1), (1, 11, 2), (1, 20, 3), (1, 21, 4),
        (2, 40, 1),
    ]
    out.collect()
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    import re

    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert final.count("WindowGroupLimit") >= 2
    with pytest.raises(ValueError, match="per_group"):
        group_capped_topk(df, ["qid"], ["grp"], [F.desc("sim")], 0, 4)
    with pytest.raises(ValueError, match="k must"):
        group_capped_topk(df, ["qid"], ["grp"], [F.desc("sim")], 1, 0)


def test_mmr_rerank_demotes_near_duplicates(spark):
    """X140 semantics on a constructed fixture: two near-identical
    high-relevance candidates — pure relevance ranks them 1-2, MMR
    picks one, then prefers the diverse lower-relevance candidate;
    a query with fewer than k candidates returns all of them."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import mmr_rerank

    rows = [
        # qid, cid, rel, vec — cids 1 and 2 are near-duplicates
        (1, 1, 0.95, [1.0, 0.0, 0.0]),
        (1, 2, 0.94, [0.999, 0.04, 0.0]),
        (1, 3, 0.60, [0.0, 1.0, 0.0]),
        (1, 4, 0.55, [0.0, 0.0, 1.0]),
        (2, 7, 0.9, [1.0, 0.0, 0.0]),   # only one candidate
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, corpus_id long, sim double, embedding array<float>",
    )
    out = mmr_rerank(df, k=3, lam=0.7)
    got = {
        (r["query_id"], r["rank"]): r["corpus_id"] for r in out.collect()
    }
    # scores: pick1 = argmax rel = 1; round 2: cand 2 pays
    # 0.3*sim(2,1) ~ 0.30 -> 0.358, cand 3 pays 0 -> 0.42; round 3:
    # cand 4 (0.385) still beats the near-dup 2 (0.358)
    assert got[(1, 1)] == 1           # pure-relevance first pick
    assert got[(1, 2)] == 3           # the near-dup of 1 is demoted
    assert got[(1, 3)] == 4
    assert (2, 1) in got and (2, 2) not in got  # short query: 1 row
    # anti-correlated candidates: negative pairwise sims must not be
    # floored at 0 by the initial state (the -2.0 sentinel rule)
    neg = spark.createDataFrame(
        [
            (9, 1, 0.9, [1.0, 0.0]),
            (9, 2, 0.89, [-1.0, 0.0]),   # sim to pick 1 = -1
            (9, 3, 0.89, [0.0, 1.0]),    # sim to pick 1 = 0
        ],
        "query_id long, corpus_id long, sim double, embedding array<float>",
    )
    got2 = {
        r["rank"]: r["corpus_id"]
        for r in mmr_rerank(neg, k=2, lam=0.5).collect()
    }
    # 0.5*0.89 - 0.5*(-1) beats 0.5*0.89 - 0.5*0 — the anti-correlated
    # candidate wins round 2 BECAUSE its true negative max-sim survives
    assert got2 == {1: 1, 2: 2}
    with pytest.raises(ValueError, match="k must"):
        mmr_rerank(df, k=0)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, k=1, lam=1.5)


def test_kmeans_fit_quantized_semantics(spark):
    """X144: exact quantized Lloyd's — a pure-Python replica over a
    tiny planted-cluster fixture pins init, assignment tie-breaks,
    away-from-zero mean rounding, and the final inertia accounting."""
    import math

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
    )

    # two tight clusters around (0, 0) and (1, 1); ids choose the init:
    # vec 0 -> cell 0 seed, vec 1 -> cell 1 seed
    vecs = [
        (0, [0.0, 0.1]),
        (1, [1.0, 0.9]),
        (2, [0.1, 0.0]),
        (3, [0.9, 1.0]),
        (4, [0.05, 0.05]),
        (5, [1.1, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = kmeans_fit_quantized(df, n_cells=2, iters=2)
    got = {(r["cell"], r["dim"]): r for r in out.collect()}

    def away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    q = {i: [away(x * 1e6) for x in v] for i, v in vecs}
    cents = [q[0], q[1]]
    for _ in range(2):
        asg = {}
        for i, qv in q.items():
            d2 = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents]
            asg[i] = min(range(2), key=lambda k: (d2[k], k))
        for c in range(2):
            members = [q[i] for i in q if asg[i] == c]
            if members:
                cents[c] = [
                    away(sum(col) / len(members)) for col in zip(*members)
                ]
    final = {}
    for i, qv in q.items():
        d2 = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in cents]
        k = min(range(2), key=lambda j: (d2[j], j))
        n, s = final.get(k, (0, 0))
        final[k] = (n + 1, s + d2[k])
    for c in range(2):
        for d in range(2):
            assert got[(c, d)]["c6"] == cents[c][d]
        assert got[(c, 0)]["n_members"] == final[c][0]
        assert got[(c, 0)]["inertia"] == final[c][1]
    # both planted clusters found: 3 members each
    assert sorted(final[c][0] for c in range(2)) == [3, 3]


@pytest.mark.slow
def test_kmeans_fit_quantized_guards(spark):
    """Too few usable vectors, bad params, and NULL/ragged vectors."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.1]), (1, None), (2, [0.1, None]), (3, [0.2, 0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    # only vec 0 and the ragged vec 3 survive the NULL filters; vec 3's
    # dimensionality disagrees with the min-id init -> dropped from base
    with pytest.raises(ValueError, match="usable vectors"):
        kmeans_fit_quantized(df, n_cells=3, iters=1)
    # declared-dim mode prefilters ragged rows BEFORE init (the oracle
    # rule): vec 3 no longer counts as usable at all
    with pytest.raises(ValueError, match="usable vectors"):
        kmeans_fit_quantized(df, n_cells=2, iters=1, dim=2)
    one = kmeans_fit_quantized(df, n_cells=1, iters=1, dim=2).collect()
    assert {r["dim"] for r in one} == {0, 1}  # fit ran on vec 0 alone
    assert one[0]["n_members"] == 1
    with pytest.raises(ValueError, match="n_cells"):
        kmeans_fit_quantized(df, n_cells=0, iters=1)
    with pytest.raises(ValueError, match="iters"):
        kmeans_fit_quantized(df, n_cells=1, iters=0)
    # r13 (r12 verdict missing #2): past _WIDE_MAX_DIM the fit ROUTES to the
    # narrow posexplode form instead of raising — both when declared
    # and when inferred from the init rows; value identity with the
    # wide form is pinned by test_kmeans_fit_narrow_matches_wide
    wide = spark.createDataFrame(
        [(0, [0.1] * 300)], "vec_id long, embedding array<float>"
    )
    hd = {
        (r["cell"], r["dim"]): r
        for r in kmeans_fit_quantized(wide, n_cells=1, iters=1).collect()
    }
    assert len(hd) == 300 and hd[(0, 0)]["c6"] == 100000
    assert hd[(0, 0)]["n_members"] == 1
    # n_cells=1, one clean vector: degenerate but well-defined
    out = kmeans_fit_quantized(
        spark.createDataFrame(
            [(0, [0.5, -0.5])], "vec_id long, embedding array<float>"
        ),
        n_cells=1,
        iters=1,
    ).collect()
    assert {(r["cell"], r["dim"]): r["c6"] for r in out} == {
        (0, 0): 500000,
        (0, 1): -500000,
    }


@pytest.mark.slow
def test_fit_sample_semantics(spark):
    """X161 (r13 verdict missing #2): sample_cap trains every quantizer
    fit on the cap rows with the smallest (md5('fit:' || id), id) key —
    pinned by equality with the UNSAMPLED fit over the Python-computed
    subset, so the sample selection and the fit arithmetic can never
    drift apart; plus the guard rails."""
    import hashlib

    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
        pq_fit_exact,
        sq8_fit,
    )

    vecs = [
        (i, [((i * 7 + d * 3) % 11 - 5) / 10.0 for d in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cap = 6
    keep = sorted(
        range(len(vecs)),
        key=lambda i: (hashlib.md5(f"fit:{i}".encode()).hexdigest(), i),
    )[:cap]
    sub = spark.createDataFrame(
        [vecs[i] for i in keep], "vec_id long, embedding array<float>"
    )

    got = kmeans_fit_quantized(
        df, n_cells=2, iters=2, dim=4, sample_cap=cap
    ).collect()
    want = kmeans_fit_quantized(sub, n_cells=2, iters=2, dim=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # sample QC: members count the TRAINING SAMPLE, not the corpus
    assert sum(r["n_members"] for r in got) == cap * 4

    got_pq = pq_fit_exact(
        df, m=2, codes=2, iters=1, dim=4, sample_cap=cap
    ).collect()
    want_pq = pq_fit_exact(sub, m=2, codes=2, iters=1, dim=4).collect()
    assert sorted(map(tuple, got_pq)) == sorted(map(tuple, want_pq))

    assert sq8_fit(df, dim=4, sample_cap=cap) == sq8_fit(sub, dim=4)

    # cap >= corpus: identical to the unsampled fit
    assert sorted(
        map(
            tuple,
            kmeans_fit_quantized(
                df, n_cells=2, iters=2, dim=4, sample_cap=10**6
            ).collect(),
        )
    ) == sorted(
        map(
            tuple,
            kmeans_fit_quantized(df, n_cells=2, iters=2, dim=4).collect(),
        )
    )

    with pytest.raises(ValueError, match="requires a declared dim"):
        kmeans_fit_quantized(df, n_cells=2, iters=1, sample_cap=cap)
    with pytest.raises(ValueError, match="sample_cap=1 < n_cells"):
        kmeans_fit_quantized(df, n_cells=2, iters=1, dim=4, sample_cap=1)
    with pytest.raises(ValueError, match="sample_cap=1 < codes"):
        pq_fit_exact(df, m=2, codes=2, iters=1, dim=4, sample_cap=1)
    with pytest.raises(ValueError, match="sample_cap=0"):
        sq8_fit(df, dim=4, sample_cap=0)


def test_sq8_fit_headroom_guard(spark):
    """r13 ADVICE: ann_join_sq8's ip term is ~255x the squared-L2
    terms' size, so sq8_fit raises when the observed bounds break
    dim * 255 * bmax^2 < 2^63 instead of letting serving silently
    overflow and misrank."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import sq8_fit

    hot = spark.createDataFrame(
        [(0, [200.0, 0.0]), (1, [-150.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="int64 inner-product headroom"):
        sq8_fit(hot, dim=2)
    # the documented safe zone still fits
    cool = spark.createDataFrame(
        [(0, [1.0, 0.5]), (1, [-1.0, 0.25])],
        "vec_id long, embedding array<float>",
    )
    assert len(sq8_fit(cool, dim=2)) == 2


@pytest.mark.slow
def test_kmeans_fit_narrow_matches_wide(spark):
    """X154 (r12 verdict missing #2): the high-dim NARROW Lloyd update —
    centroid matrix joined from a one-row frame, posexplode (cell, d)
    update aggregate — is bit-identical to the wide literal-matrix
    update (same exact integer arithmetic, same init, same rounding)
    on one checkpointed base, and its per-iteration plan keeps the
    100 TB shape: the matrix enters via BroadcastNestedLoopJoin (never
    a plan literal), the corpus is never hash-exchanged (the single
    exchange carries map-side-combined (cell, d) rows), and the argmin
    rides the inline() generator so it is evaluated ONCE per row, not
    per exploded element (the 1 GiB-heap OOM regression)."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        _kmeans_init,
        _lloyd_iterate,
        _lloyd_iterate_narrow,
        _narrow_update_agg,
        _q6_base,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    base = _q6_base(emb, 64, "embedding", "vec_id").localCheckpoint()
    init = _kmeans_init(base, 8, "test", "n_cells")
    cents = _lloyd_iterate(base, init, 3, 64)
    assert _lloyd_iterate_narrow(base, init, 3, 64) == cents
    assert cents != init  # the updates moved: the equality is not vacuous

    agg = _narrow_update_agg(base.select("__q6"), cents)
    agg.collect()
    final = agg._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "BroadcastNestedLoopJoin" in final  # matrix joined, not inlined
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    # the inline() carrier: two Generates, argmin inside the first
    assert final.count("Generate inline") == 1
    assert final.count("Generate posexplode") == 1


def test_exact_fit_job_counts(spark):
    """The exact k-means fits run a fixed number of Spark jobs, every
    one under the caller's job group: the wide form (dim below
    _WIDE_MAX_DIM), the narrow form (dim above it), and pq_fit_exact,
    whose subspace fits run on pool threads that must inherit the
    group (pinned-thread mode gives a plain thread no local
    properties). Pins that the shared trainer adds no job to any fit."""
    from alphavantage_etl_spark.operators.similarity import (
        _WIDE_MAX_DIM,
        kmeans_fit_quantized,
        pq_fit_exact,
    )

    def corpus(dim):
        return spark.range(48).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: ((F.col("id") * 7 + d * 3) % 11 - 5).cast("float")
                / 10.0,
            ).alias("embedding"),
        )

    sc = spark.sparkContext

    def jobs(tag, fit):
        group = f"test_exact_fit_job_counts:{tag}"
        sc.setJobGroup(group, tag)
        try:
            fit().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    wide, narrow = 8, _WIDE_MAX_DIM + 4
    assert jobs(
        "wide",
        lambda: kmeans_fit_quantized(
            corpus(wide), n_cells=4, iters=2, dim=wide
        ),
    ) == 9
    assert jobs(
        "narrow",
        lambda: kmeans_fit_quantized(
            corpus(narrow), n_cells=4, iters=2, dim=narrow
        ),
    ) == 12
    # 2 main-thread jobs + 4 subspaces x (init + 2 x 2 update + 2 stats)
    assert jobs(
        "pq", lambda: pq_fit_exact(corpus(8), m=4, codes=4, iters=2, dim=8)
    ) == 30


def _tiny_pq_index(spark, path, shift=0, where="true"):
    """Save a small IVF-PQ index of sf0.001's corpus split under ``path``
    and return ``(cents6, books6, ids)``. No fit runs: the 4 cells and
    the 4 x 4 x 16 codebook are u6 vectors of corpus rows ``shift`` ..
    ``shift + 7``, so a different ``shift`` saves a different model;
    ``where`` picks the indexed rows."""
    from alphavantage_etl_spark.operators.similarity import (
        _q6_base,
        assign_cells_l2q,
        pq_encode_exact,
        save_pq_index,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_SMALL

    corpus = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") % 25 != 7)
        .where(where)
    )
    q6 = [
        list(r["__q6"])
        for r in _q6_base(corpus, 64, "embedding", "vec_id")
        .orderBy("__id")
        .limit(shift + 8)
        .collect()
    ][shift:]
    cents6 = q6[:4]
    books6 = [[v[s * 16:(s + 1) * 16] for v in q6[4:]] for s in range(4)]
    save_pq_index(
        assign_cells_l2q(corpus, cents6, n_probe=1).join(
            pq_encode_exact(corpus, books6), on="vec_id"
        ),
        cents6,
        books6,
        path,
    )
    return cents6, books6, {r["vec_id"] for r in corpus.collect()}


def _serve_tiny(spark, idx, cents6, books6):
    """Sorted ADC top-3 rows of sf0.001's held-out queries over ``idx``."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_SMALL

    q = load(spark, SF_SMALL, "embeddings").where(F.col("vec_id") % 25 == 7)
    qc = assign_cells_l2q(q, cents6, n_probe=2)
    return sorted(
        map(
            tuple,
            ann_join_pq(
                q, k=3, query_cells=qc, corpus_index=idx, books6=books6
            ).collect(),
        )
    )


def test_pq_index_load_job_counts(spark, tmp_path):
    """A load of an unchanged index runs no Spark job: the second
    ``load_pq_index`` of a path returns the cached frame after a
    driver-side listing. The first load, and the first load after a
    tombstone append, run the uncached load's jobs: the two model
    collects, the assignments read and, once tombstones exist, their
    read."""
    from alphavantage_etl_spark.operators.similarity import pq_index_delete
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    _tiny_pq_index(spark, path)
    sc = spark.sparkContext

    def jobs(tag):
        group = f"test_pq_index_load_job_counts:{tag}"
        sc.setJobGroup(group, tag)
        try:
            load_pq_index(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("first") == 5
    assert jobs("warm") == 0
    pq_index_delete(path, spark.range(3).toDF("vec_id"))
    assert jobs("after_delete") == 6
    assert jobs("warm_again") == 0


def test_pq_index_load_sees_tombstone_append(spark, tmp_path):
    """Ids tombstoned after a warm load vanish from the next load and
    from serving."""
    from alphavantage_etl_spark.operators.similarity import pq_index_delete
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    _, _, ids = _tiny_pq_index(spark, path)
    load_pq_index(spark, path)
    idx, c6, b6 = load_pq_index(spark, path)
    before = _serve_tiny(spark, idx, c6, b6)
    doomed = {t[1] for t in before[:5]}
    pq_index_delete(
        path, spark.createDataFrame([(i,) for i in doomed], "vec_id long")
    )
    idx, c6, b6 = load_pq_index(spark, path)
    assert {r["vec_id"] for r in idx.collect()} == ids - doomed
    after = _serve_tiny(spark, idx, c6, b6)
    assert after and not {t[1] for t in after} & doomed


def test_pq_index_load_sees_overwrite(spark, tmp_path):
    """``save_pq_index`` over a warm-loaded path with other models and
    other rows: the next load returns the new models and rows."""
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    c_old, b_old, ids_old = _tiny_pq_index(spark, path)
    load_pq_index(spark, path)
    assert load_pq_index(spark, path)[1:] == (c_old, b_old)
    c_new, b_new, ids_new = _tiny_pq_index(
        spark, path, shift=8, where="vec_id % 2 = 0"
    )
    assert (c_new, b_new) != (c_old, b_old) and ids_new != ids_old
    idx, c6, b6 = load_pq_index(spark, path)
    assert (c6, b6) == (c_new, b_new)
    assert {r["vec_id"] for r in idx.collect()} == ids_new


def test_pq_index_load_after_compact_serves_unchanged(spark, tmp_path):
    """A compaction after a warm load changes the files, not the live
    rows: the next load reloads and serves the same top-k."""
    from alphavantage_etl_spark.operators.similarity import (
        pq_index_compact,
        pq_index_delete,
    )
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    _tiny_pq_index(spark, path)
    pq_index_delete(path, spark.range(0, 100, 3).toDF("vec_id"))
    load_pq_index(spark, path)
    idx, c6, b6 = load_pq_index(spark, path)
    before = _serve_tiny(spark, idx, c6, b6)
    kept, dropped = pq_index_compact(spark, path)
    assert dropped > 0
    idx2, c62, b62 = load_pq_index(spark, path)
    assert idx2.count() == kept
    assert _serve_tiny(spark, idx2, c62, b62) == before


def _assignment_files(path):
    """``(relative path, length, mtime_ns)`` of every file under an
    index's ``assignments/``."""
    import os

    root = f"{path}/assignments"
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
        for st in [os.stat(os.path.join(d, f))]
    )


def test_pq_index_compact_of_streamed_index_writes_index_columns(
    spark, tmp_path
):
    """Compacting a streamed index writes the index columns only: the
    streamed layout's ingest_batch_id partition column is not carried
    into the flat compacted files as a data column."""
    import pyarrow.parquet as pq

    from alphavantage_etl_spark.operators.similarity import (
        pq_index_compact,
        pq_index_delete,
    )
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import (
        load_pq_index,
        pq_index_stream,
    )

    from .conftest import SF_SMALL

    c6, b6, ids = _tiny_pq_index(spark, str(tmp_path / "saved"))
    src = str(tmp_path / "in")
    load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding").where(
        F.col("vec_id") % 25 != 7
    ).coalesce(1).write.parquet(src)
    path = str(tmp_path / "pq")
    pq_index_stream(
        spark.readStream.schema("vec_id long, embedding array<float>").parquet(
            src
        ),
        c6, b6, path, str(tmp_path / "ck"),
    )
    assert any("ingest_batch_id=" in f for f, _, _ in _assignment_files(path))
    pq_index_delete(path, spark.range(0, 100, 3).toDF("vec_id"))
    kept, dropped = pq_index_compact(spark, path)
    assert dropped > 0 and kept + dropped == len(ids)
    files = [f for f, _, _ in _assignment_files(path) if f.endswith(".parquet")]
    assert files and not any("ingest_batch_id=" in f for f in files)
    for f in files:
        names = pq.read_schema(f"{path}/assignments/{f}").names
        assert names == ["vec_id", "__cell", "__codes"], names
    assert load_pq_index(spark, path)[0].count() == kept


def test_pq_index_compact_unmatched_tombstones_leave_assignments(
    spark, tmp_path
):
    """Tombstones that name no indexed id compact to ``(n, 0)`` without
    rewriting ``assignments/``: same files, lengths and mtimes; the
    tombstone set is dropped."""
    import os

    from alphavantage_etl_spark.operators.similarity import (
        pq_index_compact,
        pq_index_delete,
    )

    path = str(tmp_path / "pq")
    _, _, ids = _tiny_pq_index(spark, path)
    before = _assignment_files(path)
    pq_index_delete(path, spark.range(10_000_000, 10_000_005).toDF("vec_id"))
    assert pq_index_compact(spark, path) == (len(ids), 0)
    assert _assignment_files(path) == before
    assert not os.path.exists(f"{path}/tombstones")


def test_pq_index_load_of_removed_path_raises(spark, tmp_path):
    """Removing a warm-loaded index makes the next load raise the error
    a load of a path that never existed raises."""
    import shutil

    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    _tiny_pq_index(spark, path)
    load_pq_index(spark, path)
    load_pq_index(spark, path)
    with pytest.raises(Exception) as never:
        load_pq_index(spark, str(tmp_path / "never"))
    shutil.rmtree(path)
    with pytest.raises(type(never.value)):
        load_pq_index(spark, path)


def test_pq_index_load_returns_fresh_model_copies(spark, tmp_path):
    """A caller mutating the returned model lists cannot change what
    the next load of the same index returns."""
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    path = str(tmp_path / "pq")
    cents6, books6, _ = _tiny_pq_index(spark, path)
    _, c6, b6 = load_pq_index(spark, path)
    c6[0][0] += 1
    c6.append([0] * 64)
    b6[0][0][0] -= 1
    b6[1].pop()
    _, c6, b6 = load_pq_index(spark, path)
    assert (c6, b6) == (cents6, books6)


def test_bq_index_load_sees_overwrite(spark, tmp_path):
    """``load_bq_index`` shares the fingerprint cache: ``save_bq_index``
    over a warm-loaded path with another model and other rows is seen
    by the next load."""
    from alphavantage_etl_spark.operators.similarity import (
        assign_cells_l2q,
        bq_encode,
        save_bq_index,
    )
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import load_bq_index

    from .conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings")
    cents6 = [[0] * 64, [100_000] * 64]
    path = str(tmp_path / "bq")

    def save(sums6, n_fit, where):
        corpus = emb.where(where)
        save_bq_index(
            assign_cells_l2q(corpus, cents6, n_probe=1).join(
                bq_encode(corpus, sums6, n_fit), on="vec_id"
            ),
            cents6,
            sums6,
            n_fit,
            path,
        )
        return {r["vec_id"] for r in corpus.collect()}

    ids_old = save([0] * 64, 10, "vec_id % 2 = 0")
    load_bq_index(spark, path)
    idx, c6, s6, n = load_bq_index(spark, path)
    assert (c6, s6, n) == (cents6, [0] * 64, 10)
    ids_new = save(list(range(64)), 20, "vec_id % 2 = 1")
    idx, c6, s6, n = load_bq_index(spark, path)
    assert (c6, s6, n) == (cents6, list(range(64)), 20)
    assert {r["vec_id"] for r in idx.collect()} == ids_new != ids_old


@pytest.mark.slow
def test_pq_fit_exact_guards_and_slices(spark):
    """X156: pq_fit_exact requires a declared dim divisible by m with
    subspaces under the wide ceiling; each subspace fit equals
    kmeans_fit_quantized over the SLICED vectors (the composition is m
    independent X144 fits, nothing more)."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        kmeans_fit_quantized,
        pq_fit_exact,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="dim is required"):
        pq_fit_exact(emb, m=4)
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit_exact(emb, m=5, dim=64)
    with pytest.raises(ValueError, match="ceiling"):
        pq_fit_exact(emb, m=1, dim=512)
    with pytest.raises(ValueError, match="codes"):
        pq_fit_exact(emb, m=4, codes=0, dim=64)

    fit = pq_fit_exact(emb, m=2, codes=4, iters=2, dim=64).collect()
    got = {
        (r["subspace"], r["code"], r["dim"]): (
            r["c6"], r["n_members"], r["inertia"]
        )
        for r in fit
    }
    assert len(got) == 2 * 4 * 32
    for s in range(2):
        sliced = emb.select(
            "vec_id",
            F.slice("embedding", s * 32 + 1, 32).alias("embedding"),
        )
        solo = kmeans_fit_quantized(sliced, n_cells=4, iters=2, dim=32)
        for r in solo.collect():
            assert got[(s, r["cell"], r["dim"])] == (
                r["c6"], r["n_members"], r["inertia"]
            )


def test_ann_join_pq_plan_codes_only(spark):
    """X157's 100 TB claim, pinned: served from a STORED coded index
    (localCheckpointed (id, cell, codes) frame — what an ingest-time
    write would load), the serving plan touches NO vector column on
    the corpus side: two static broadcast joins (probe cells + query
    q6 attach), one WindowGroupLimit-pre-limited candidate exchange,
    zero SortMergeJoin. And ADC ranks are what a driver-side replica
    computes."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        _pq_books_shared,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    books6 = _pq_books_shared(spark, SF_ORACLE)
    idx = (
        assign_cells_l2q(corpus, cents6, n_probe=1)
        .join(pq_encode_exact(corpus, books6), on="vec_id")
        .localCheckpoint()
    )
    qc = assign_cells_l2q(queries, cents6, n_probe=3)
    out = ann_join_pq(queries, k=4, query_cells=qc, corpus_index=idx,
                      books6=books6)
    rows = out.collect()
    assert rows
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2

    # driver-side ADC replica on a small sample of candidates
    import random

    rng = random.Random(157)
    sample = rng.sample(rows, min(10, len(rows)))
    # engine-side quantization (Python round() is half-even, the
    # engine's is half-up — don't re-implement, read it back)
    from alphavantage_etl_spark.operators.similarity import _q6_base

    q6 = {
        r["__id"]: list(r["__q6"])
        for r in _q6_base(queries, 64, "embedding", "vec_id").collect()
    }
    codes = {r["vec_id"]: list(r["__codes"]) for r in idx.collect()}
    for r in sample:
        want = sum(
            (q6[r["query_id"]][s * 16 + d] - books6[s][codes[r["corpus_id"]][s]][d])
            ** 2
            for s in range(4)
            for d in range(16)
        )
        assert r["adc_d2"] == want


def test_ann_sq8_codes_and_plan(spark):
    """X160: sq8 codes live on the 0..255 grid (constant dimensions
    encode 0; out-of-bounds NEW data clamps), and the serving plan
    from a STORED coded index matches the X157 shape — two static
    broadcasts, one candidate exchange, no vector column on the
    corpus side."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_sq8,
        assign_cells_l2q,
        sq8_encode,
        sq8_fit,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    # grid properties on a hand frame: constant dim -> 0, extremes ->
    # 0/255, out-of-bounds new data clamps
    fit_df = spark.createDataFrame(
        [(0, [0.0, 1.0, 5.0]), (1, [1.0, 3.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    bounds = sq8_fit(fit_df, dim=3)
    assert bounds == [(0, 1000000), (1000000, 3000000), (5000000, 5000000)]
    enc = {
        r["vec_id"]: list(r["__sq8"])
        for r in sq8_encode(fit_df, bounds).collect()
    }
    assert enc[0] == [0, 0, 0] and enc[1] == [255, 255, 0]
    new_df = spark.createDataFrame(
        [(2, [-1.0, 2.0, 9.0])], "vec_id long, embedding array<float>"
    )
    assert list(sq8_encode(new_df, bounds).collect()[0]["__sq8"]) == [
        0, 128, 0,  # clamped low; mid-grid; constant dim stays 0
    ]

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    bounds6 = sq8_fit(corpus, dim=64)
    idx = (
        assign_cells_l2q(corpus, cents6, n_probe=1)
        .join(sq8_encode(corpus, bounds6), on="vec_id")
        .localCheckpoint()
    )
    out = ann_join_sq8(
        queries, k=5,
        query_cells=assign_cells_l2q(queries, cents6, n_probe=3),
        corpus_index=idx, bounds6=bounds6,
    )
    rows = out.collect()
    assert rows and {r["rank"] for r in rows} <= {1, 2, 3, 4, 5}
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2


def test_assign_cells_l2q_and_byo_quantizer_guards(spark):
    """X146 plumbing: integer-L2 assignment matches a hand replica
    (argmin and probe explode), and ann_join's bring-your-own-quantizer
    path requires BOTH cell frames when centroids are omitted."""
    import pytest

    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        assign_cells_l2q,
    )

    cents6 = [[0, 0], [1_000_000, 1_000_000]]
    df = spark.createDataFrame(
        [
            (0, [0.1, 0.0]),      # near cell 0
            (1, [0.9, 1.1]),      # near cell 1
            (2, [0.5, 0.5]),      # EXACT tie in d2 -> lowest cell (0)
            (3, None),            # unquantizable: dropped
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["__cell"]
        for r in assign_cells_l2q(df, cents6).collect()
    }
    assert got == {0: 0, 1: 1, 2: 0}
    # n_probe=2 explodes to both cells, nearest first by (d2, cell)
    two = sorted(
        (r["vec_id"], r["__cell"])
        for r in assign_cells_l2q(df, cents6, n_probe=2).collect()
    )
    assert two == [(0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)]
    with pytest.raises(ValueError, match="n_probe"):
        assign_cells_l2q(df, cents6, n_probe=3)
    with pytest.raises(ValueError, match="cents6"):
        assign_cells_l2q(df, [])

    cc = assign_cells_l2q(df, cents6)
    with pytest.raises(ValueError, match="bring-your-own-quantizer"):
        ann_join(df, df, k=1, corpus_cells=cc)  # query_cells missing
    with pytest.raises(ValueError, match="bring-your-own-quantizer"):
        ann_join(df, df, k=1, query_cells=cc)  # corpus_cells missing
    # mixing an external probe frame with centroid scoring = two
    # quantizers on one cell key -> raises instead of degrading
    with pytest.raises(ValueError, match="mutually exclusive"):
        ann_join(
            df, df, k=1, centroids=[[0.0, 0.0], [1.0, 1.0]],
            corpus_cells=cc, query_cells=cc,
        )
    # with both frames the join runs and self-retrieval ranks self first
    out = ann_join(
        df, df, k=1, corpus_cells=cc, query_cells=cc
    ).collect()
    hits = {r["query_id"]: r["corpus_id"] for r in out}
    assert hits[0] == 0 and hits[1] == 1


@pytest.mark.slow
def test_pq_residual_zero_centroid_equivalence(spark):
    """X164 anchor: with a single all-zero coarse centroid the residual
    IS the vector, so residual-mode fit / encode / ADC join must be
    bit-identical to the vanilla X156/X157 path (the only differences
    are the subsumed cell column and the no-op centroid lookup)."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
        pq_fit_exact,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings").where(F.col("vec_id") < 120)
    zero = [[0] * 64]
    van_fit = pq_fit_exact(emb, m=2, codes=4, iters=1, dim=64).collect()
    res_fit = pq_fit_exact(
        emb, m=2, codes=4, iters=1, dim=64, residual_cents6=zero
    ).collect()
    assert sorted(map(tuple, van_fit)) == sorted(map(tuple, res_fit))

    books = [[[0] * 32 for _ in range(4)] for _ in range(2)]
    for r in van_fit:
        books[r["subspace"]][r["code"]][r["dim"]] = int(r["c6"])
    van_codes = {
        r["vec_id"]: list(r["__codes"])
        for r in pq_encode_exact(emb, books).collect()
    }
    res_rows = pq_encode_exact(
        emb, books, residual_cents6=zero
    ).collect()
    assert all(r["__cell"] == 0 for r in res_rows)
    assert {r["vec_id"]: list(r["__codes"]) for r in res_rows} == van_codes

    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    qc = assign_cells_l2q(queries, zero, n_probe=1)
    idx_v = assign_cells_l2q(corpus, zero, n_probe=1).join(
        pq_encode_exact(corpus, books), on="vec_id"
    )
    idx_r = pq_encode_exact(corpus, books, residual_cents6=zero)
    van = ann_join_pq(
        queries, k=3, query_cells=qc, corpus_index=idx_v, books6=books
    ).collect()
    res = ann_join_pq(
        queries,
        k=3,
        query_cells=qc,
        corpus_index=idx_r,
        books6=books,
        residual_cents6=zero,
    ).collect()
    assert sorted(map(tuple, van)) == sorted(map(tuple, res))


@pytest.mark.slow
def test_pq_residual_guards_and_plan(spark):
    """X164 guards: residual_cents6 dimensionality must equal the
    declared dim on all three paths. Plan: residual serving keeps the
    X157 shape — served from a stored coded index, no vector column on
    the corpus side, two static broadcasts, ONE candidate exchange,
    zero SortMergeJoin (the centroid literal lookup adds no join)."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_pq,
        assign_cells_l2q,
        pq_encode_exact,
        pq_fit_exact,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        _pq_books_residual_shared,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    bad = [[0] * 32]
    with pytest.raises(ValueError, match="residual_cents6"):
        pq_fit_exact(emb, m=2, codes=2, iters=1, dim=64, residual_cents6=bad)
    books_stub = [[[0] * 32 for _ in range(2)] for _ in range(2)]
    with pytest.raises(ValueError, match="residual_cents6"):
        pq_encode_exact(emb, books_stub, residual_cents6=bad)
    with pytest.raises(ValueError, match="residual_cents6"):
        ann_join_pq(
            emb,
            k=1,
            query_cells=emb.select("vec_id", F.lit(0).alias("__cell")),
            corpus_index=emb.select(
                "vec_id",
                F.lit(0).alias("__cell"),
                F.array(F.lit(0), F.lit(0)).alias("__codes"),
            ),
            books6=books_stub,
            residual_cents6=bad,
        )

    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    books6 = _pq_books_residual_shared(spark, SF_ORACLE)
    idx = pq_encode_exact(
        corpus, books6, residual_cents6=cents6
    ).localCheckpoint()
    qc = assign_cells_l2q(queries, cents6, n_probe=2)
    out = ann_join_pq(
        queries,
        k=5,
        query_cells=qc,
        corpus_index=idx,
        books6=books6,
        residual_cents6=cents6,
    )
    assert out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2


def test_ann_join_filtered_pushdown_and_routing(spark, tmp_path):
    """X165: (a) served from a STORED materialized index, the metadata
    predicate is pushed into the index's parquet scan (PushedFilters
    carries the label filter — row groups prune before any vector data
    is read) and the serving plan keeps the X137 shape; (b) PRE-FILTER
    semantics: results equal ann_join over the pre-filtered frame, and
    every returned corpus row satisfies the predicate; (c) routing: in
    bare-(id,cell) mode the predicate applies to corpus_df instead,
    and a Column predicate works like a SQL string."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join,
        ann_join_filtered,
        assign_cells_l2q,
        save_ivf_index,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    path = str(tmp_path / "fidx")
    save_ivf_index(
        corpus.join(assign_cells_l2q(corpus, cents6, n_probe=1), on="vec_id"),
        [[float(x) for x in c] for c in cents6],
        path,
    )
    idx = spark.read.parquet(f"{path}/assignments")
    qc = assign_cells_l2q(queries, cents6, n_probe=3)

    out = ann_join_filtered(
        queries,
        emb,
        k=6,
        predicate="label % 2 = 0",
        corpus_cells=idx,
        query_cells=qc,
        materialized_cells=True,
    )
    rows = out.collect()
    assert rows
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in plan
    # the predicate reached the stored index's parquet scan
    assert "PushedFilters" in plan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*label[^\]]*\]", plan)
    assert pushed, f"label filter not pushed to scan:\n{plan}"

    # pre-filter equivalence + predicate holds on every hit
    labels = {r["vec_id"]: r["label"] for r in corpus.collect()}
    assert all(labels[r["corpus_id"]] % 2 == 0 for r in rows)
    want = ann_join(
        queries,
        emb,
        k=6,
        corpus_cells=idx.where("label % 2 = 0"),
        query_cells=qc,
        materialized_cells=True,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))

    # bare-(id,cell) routing: predicate applies to corpus_df; Column form
    bare = idx.select("vec_id", "__cell")
    got_bare = ann_join_filtered(
        queries,
        corpus,
        k=6,
        predicate=F.col("label") % 2 == 0,
        corpus_cells=bare,
        query_cells=qc,
    ).collect()
    assert sorted(map(tuple, got_bare)) == sorted(map(tuple, want))


@pytest.mark.slow
def test_pq_index_delete_compact_lifecycle(spark, tmp_path):
    """X166 end-to-end on a stored coded index: (a) tombstoned ids
    vanish from the default load and from serving while the raw table
    still holds them (apply_tombstones=False); (b) deleting unknown
    ids is a no-op; (c) compact folds tombstones into the assignments
    (physical row count drops, tombstone dir gone) and serving is
    IDENTICAL before/after the compact; (d) the tombstone anti-join
    broadcasts — no SortMergeJoin enters the serving plan."""
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
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    books6 = _pq_books_shared(spark, SF_ORACLE)
    path = str(tmp_path / "pqidx")
    save_pq_index(
        assign_cells_l2q(corpus, cents6, n_probe=1).join(
            pq_encode_exact(corpus, books6), on="vec_id"
        ),
        cents6,
        books6,
        path,
    )
    n0 = spark.read.parquet(f"{path}/assignments").count()
    doomed = {r["vec_id"] for r in corpus.where("vec_id % 10 = 3").collect()}
    assert doomed
    pq_index_delete(path, corpus.where("vec_id % 10 = 3"))
    # unknown ids: a no-op (anti-join matches nothing)
    pq_index_delete(
        path, spark.range(10_000_000, 10_000_005).toDF("vec_id")
    )

    idx, c6, b6 = load_pq_index(spark, path)
    live = {r["vec_id"] for r in idx.select("vec_id").collect()}
    assert live.isdisjoint(doomed) and len(live) == n0 - len(doomed)
    raw, _, _ = load_pq_index(spark, path, apply_tombstones=False)
    assert raw.count() == n0  # storage still holds the rows

    qc = assign_cells_l2q(queries, c6, n_probe=2)
    out = ann_join_pq(queries, k=4, query_cells=qc, corpus_index=idx,
                      books6=b6)
    before = sorted(map(tuple, out.collect()))
    assert before and not {t[1] for t in before} & doomed
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in plan

    kept, dropped = pq_index_compact(spark, path)
    assert (kept, dropped) == (n0 - len(doomed), len(doomed))
    import os

    assert not os.path.exists(f"{path}/tombstones")
    assert spark.read.parquet(f"{path}/assignments").count() == kept
    idx2, c62, b62 = load_pq_index(spark, path)
    qc2 = assign_cells_l2q(queries, c62, n_probe=2)
    after = sorted(
        map(
            tuple,
            ann_join_pq(
                queries, k=4, query_cells=qc2, corpus_index=idx2, books6=b62
            ).collect(),
        )
    )
    assert after == before
    # compacting again: no tombstones -> no-op (kept, 0)
    assert pq_index_compact(spark, path) == (kept, 0)


@pytest.mark.slow
def test_ann_bq_bits_and_plan(spark):
    """X167: mean-threshold bits are STRICTLY-above (a component equal
    to the mean encodes 0), the signed bit-63 lane packs as a negative
    word, guards raise, and the serving plan from a STORED bit index
    matches the standing coded-tier shape — two static broadcasts, one
    candidate exchange, no vector column on the corpus side."""
    import re

    from alphavantage_etl_spark.operators.similarity import (
        ann_join_bq,
        ann_join_bq_rerank,
        assign_cells_l2q,
        bq_encode,
        bq_fit,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    # hand frame: dim0 mean = 1.5 (bits 0/1), dim1 constant (mean ==
    # every component -> strictly-above is FALSE for all: bits 0/0),
    # dim2 split
    fit_df = spark.createDataFrame(
        [(0, [1.0, 2.0, -3.0]), (1, [2.0, 2.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    sums6, n = bq_fit(fit_df, dim=3)
    assert (sums6, n) == ([3000000, 4000000, 2000000], 2)
    enc = {
        r["vec_id"]: list(r["__bits"])
        for r in bq_encode(fit_df, sums6, n).collect()
    }
    # one word; vec1 sets bits 0 and 2 -> 5, vec0 sets none
    assert enc == {0: [0], 1: [5]}

    # signed lane: dim 64, a vector above-mean in dimension 63 packs a
    # NEGATIVE word (bit 63 = sign bit) and hamming still counts it
    hi = spark.createDataFrame(
        [(0, [0.0] * 63 + [9.0]), (1, [0.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    s64, n64 = bq_fit(hi, dim=64)
    e64 = {
        r["vec_id"]: list(r["__bits"])
        for r in bq_encode(hi, s64, n64).collect()
    }
    assert e64[0] == [-(1 << 63)] and e64[1] == [0]
    one_cell = [[0] * 64]
    idx64 = assign_cells_l2q(hi, one_cell, n_probe=1).join(
        bq_encode(hi, s64, n64), on="vec_id"
    )
    got = {
        (r["query_id"], r["corpus_id"]): r["hamming"]
        for r in ann_join_bq(
            hi, k=2,
            query_cells=assign_cells_l2q(hi, one_cell, n_probe=1),
            corpus_index=idx64, sums6=s64, n_fit=n64,
        ).collect()
    }
    assert got == {(0, 0): 0, (0, 1): 1, (1, 0): 1, (1, 1): 0}

    # guards
    with pytest.raises(ValueError, match="dim"):
        bq_fit(fit_df, dim=0)
    with pytest.raises(ValueError, match="sample_cap"):
        bq_fit(fit_df, dim=3, sample_cap=0)
    with pytest.raises(ValueError, match="sums6"):
        bq_encode(fit_df, [], 1)
    with pytest.raises(ValueError, match="n_fit"):
        bq_encode(fit_df, sums6, 0)
    with pytest.raises(ValueError, match="k must be"):
        ann_join_bq(
            fit_df, k=0, query_cells=fit_df, corpus_index=fit_df,
            sums6=sums6, n_fit=n,
        )
    with pytest.raises(ValueError, match="must carry"):
        ann_join_bq(
            fit_df, k=1, query_cells=fit_df, corpus_index=fit_df,
            sums6=sums6, n_fit=n,
        )
    with pytest.raises(ValueError, match="k_shortlist"):
        ann_join_bq_rerank(
            fit_df, fit_df, k=5, k_shortlist=2, query_cells=fit_df,
            corpus_index=fit_df, sums6=sums6, n_fit=n,
        )

    # sample_cap: thresholds learned on the md5-capped subset only
    sub_s, sub_n = bq_fit(fit_df, dim=3, sample_cap=1)
    assert sub_n == 1 and sub_s in ([1000000, 2000000, -3000000],
                                    [2000000, 2000000, 5000000])

    # serving plan from a stored bit index (contract fixture)
    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    csums, cn = bq_fit(corpus, dim=64)
    idx = (
        assign_cells_l2q(corpus, cents6, n_probe=1)
        .join(bq_encode(corpus, csums, cn), on="vec_id")
        .localCheckpoint()
    )
    out = ann_join_bq(
        queries, k=6,
        query_cells=assign_cells_l2q(queries, cents6, n_probe=3),
        corpus_index=idx, sums6=csums, n_fit=cn,
    )
    rows = out.collect()
    assert rows and {r["rank"] for r in rows} <= set(range(1, 7))
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2


@pytest.mark.slow
def test_ann_cascade_semantics_and_plan(spark):
    """X170: the cascade equals its hand-composed three stages
    bit-for-bit, the funnel-monotonicity guard raises, and the
    mid-stage scores exactly the given shortlist pairs with the X157
    ADC fold (spot-checked against ann_join_pq on shared candidates)."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_cascade,
        ann_join_bq,
        ann_join_pq,
        assign_cells_l2q,
        bq_encode,
        bq_fit,
        pq_encode_exact,
        pq_score_shortlist,
        topk_exact_rerank,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        _pq_books_shared,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    books6 = _pq_books_shared(spark, SF_ORACLE)
    sums6, n_fit = bq_fit(corpus, dim=64)
    cells = assign_cells_l2q(corpus, cents6, n_probe=1)
    bq_idx = cells.join(bq_encode(corpus, sums6, n_fit), on="vec_id")
    pq_codes = pq_encode_exact(corpus, books6)
    qc = assign_cells_l2q(queries, cents6, n_probe=2)

    got = ann_cascade(
        queries, corpus, k=3, k_mid=8, k_wide=24, query_cells=qc,
        bq_index=bq_idx, sums6=sums6, n_fit=n_fit,
        pq_codes=pq_codes, books6=books6,
    )
    rows = sorted(
        (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
        for r in got.collect()
    )
    assert rows and {r[3] for r in rows} <= {1, 2, 3}

    # hand-composed equivalent
    from pyspark.sql import Window

    wide = ann_join_bq(
        queries, k=24, query_cells=qc, corpus_index=bq_idx,
        sums6=sums6, n_fit=n_fit,
    ).select("query_id", "corpus_id")
    scored = pq_score_shortlist(wide, queries, pq_codes, books6)
    w = Window.partitionBy("query_id").orderBy("adc_d2", F.col("corpus_id"))
    mid = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= 8)
        .select("query_id", "corpus_id")
    )
    want = sorted(
        (r["query_id"], r["corpus_id"], r["sim"], r["rank"])
        for r in topk_exact_rerank(mid, queries, corpus, 3).collect()
    )
    assert rows == want

    # mid-stage ADC parity with ann_join_pq on shared candidate pairs:
    # restrict both to pairs in probed cells and compare adc_d2
    pq_idx = cells.join(pq_codes, on="vec_id")
    full = {
        (r["query_id"], r["corpus_id"]): r["adc_d2"]
        for r in ann_join_pq(
            queries, k=10**6, query_cells=qc, corpus_index=pq_idx,
            books6=books6,
        ).collect()
    }
    for r in scored.collect():
        key = (r["query_id"], r["corpus_id"])
        assert full[key] == r["adc_d2"]

    # guards
    with pytest.raises(ValueError, match="k_mid"):
        ann_cascade(
            queries, corpus, k=5, k_mid=3, k_wide=24, query_cells=qc,
            bq_index=bq_idx, sums6=sums6, n_fit=n_fit,
            pq_codes=pq_codes, books6=books6,
        )
    with pytest.raises(ValueError, match="must carry"):
        pq_score_shortlist(wide, queries, corpus, books6)


def test_bq_serve_plan_serving_only_bits_only(spark):
    """X171: serving from the PERSISTED bit index keeps the coded-tier
    serving plan (zero SortMergeJoin, two static broadcasts, one
    WindowGroupLimit-pre-limited candidate exchange) AND reads the
    corpus side from the stored assignments parquet — the raw vector
    column is scanned only on the QUERY side (every embeddings scan in
    the plan carries the query-slice pushed filter), so "the serving
    scan reads dim/8 bytes per row" holds end-to-end from storage.
    The second run reuses the session-scoped index (no rebuild), and
    the loaded model round-trips exactly."""
    import re

    from alphavantage_etl_spark.operators.similarity import bq_fit
    from alphavantage_etl_spark.queries import (
        _bq_index_serve_shared,
        q_bq_serve,
    )
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import load_bq_index

    from .conftest import SF_ORACLE

    first = q_bq_serve(spark, SF_ORACLE)
    assert first.collect()
    p1 = _bq_index_serve_shared(spark, SF_ORACLE)
    p2 = _bq_index_serve_shared(spark, SF_ORACLE)
    assert p1 == p2
    # model round-trip: stored == refit
    emb = load(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    _, _, ls, ln = load_bq_index(spark, p1)
    ws, wn = bq_fit(corpus, dim=64)
    assert (ls, ln) == (ws, wn)

    out = q_bq_serve(spark, SF_ORACLE)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "WindowGroupLimit" in final
    assert len(re.findall(r"BroadcastHashJoin", final)) == 2
    scans = [ln_ for ln_ in final.splitlines() if "FileScan parquet" in ln_]
    bit_scans = [ln_ for ln_ in scans if "__bits" in ln_]
    vec_scans = [ln_ for ln_ in scans if "embedding" in ln_]
    assert len(bit_scans) == 1
    assert "embedding" not in bit_scans[0]
    assert vec_scans, "query-side vector scans must exist"
    assert all("% 25) = 7" in ln_ for ln_ in vec_scans)


def test_ann_bq_wide_two_word_invariants(spark):
    """X172: the tiled 128-dim variant packs TWO words whose hammings
    are exactly 2x the one-word 64-dim hammings at the same shape
    (tiled dims carry tiled thresholds), with identical (query,
    corpus, rank) triples — the doubling invariant that makes the
    multi-word pack/xor/fold path self-checking."""
    from alphavantage_etl_spark.operators.similarity import (
        ann_join_bq,
        assign_cells_l2q,
        bq_encode,
        bq_fit,
    )
    from alphavantage_etl_spark.queries import (
        _learned_cents_shared,
        q_ann_bq_wide,
    )
    from alphavantage_etl_spark.sources import load

    from .conftest import SF_ORACLE

    wide = {
        (r["query_id"], r["corpus_id"]): (r["hamming"], r["rank"])
        for r in q_ann_bq_wide(spark, SF_ORACLE).collect()
    }
    assert wide

    emb = load(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") % 25 == 7)
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    sums6, n_fit = bq_fit(corpus, dim=64)
    idx = assign_cells_l2q(corpus, cents6, n_probe=1).join(
        bq_encode(corpus, sums6, n_fit), on="vec_id"
    )
    narrow = {
        (r["query_id"], r["corpus_id"]): (r["hamming"], r["rank"])
        for r in ann_join_bq(
            queries, k=4,
            query_cells=assign_cells_l2q(queries, cents6, n_probe=3),
            corpus_index=idx, sums6=sums6, n_fit=n_fit,
        ).collect()
    }
    assert set(wide) == set(narrow)
    for key, (h64, rank) in narrow.items():
        assert wide[key] == (2 * h64, rank)
