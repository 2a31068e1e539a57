"""Benchmark decontamination (X2/X9 adjunct): flag corpus documents whose
character-n-gram overlap with a held-out benchmark set exceeds a threshold.

The standard LLM-training hygiene pass: evaluation items that leak into the
training corpus inflate benchmark scores, so before training, every corpus
document is checked for n-gram overlap against the (small) benchmark suite
and flagged/quarantined above a threshold.

Shape at 100 TB: the benchmark side is small by nature (eval suites are
thousands of documents, not billions) — its exploded gram table broadcasts;
the corpus side explodes to one row per distinct gram but immediately
hash-joins against the broadcast and partially aggregates map-side, so
nothing corpus-sized ever shuffles and no corpus self-join exists (contrast
``ngram_jaccard_pairs``, which is quadratic within blocks by design).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Conservative bytes-of-exploded-gram-table per compressed source byte:
# text compresses ~3-4x in parquet, and each character position becomes one
# 8-byte xxhash64 long (plus row overhead) in the exploded gram relation.
_GRAM_EXPANSION = 32
# estimated broadcast-relation bytes per exploded bench gram row
# (bench_id long + __bn int + __gram long + HashedRelation overhead)
_GRAM_ROW_BYTES = 48


def _grams(df: DataFrame, text_col: str, id_col: str, out_id: str, k: int):
    """(out_id, __g: array<long>) — distinct lowercased character k-grams,
    xxhash64'd to longs.

    Same construction (and the same hashed-set trick) as
    ``dedup.ngram_jaccard_pairs``: |hashed A ∩ hashed B| = |A ∩ B| up to
    64-bit collisions (P < 1e-14 per document), so overlap COUNTS computed
    on hashed grams are oracle-exact against string-set intersection while
    the join keys stay primitive longs. lower() is projected ONCE per row
    before the transform — referencing it inside the lambda re-lowercases
    the document per gram index (O(len²), the measured 4x trap).
    """
    from ..functions.parallelism import spread_scan

    lowered = spread_scan(df.select(
        F.col(id_col).alias(out_id), F.lower(F.col(text_col)).alias("__lc")
    ))
    c = F.col("__lc")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(c.substr(i, F.lit(k))),
        )
    )
    return lowered.select(out_id, grams.alias("__g"))


def _should_broadcast(df: DataFrame, max_bytes: int) -> bool:
    """Supported-API size probe for the bench side: sum the on-disk bytes
    of the files backing ``df`` (``DataFrame.inputFiles()`` — stable public
    API, metadata-only) and compare the estimated exploded-gram size
    (``bytes * _GRAM_EXPANSION``) against ``max_bytes``.

    Deliberately conservative in every uncertain direction — each of these
    falls through to False, i.e. NO forced broadcast, leaving the strategy
    to Catalyst/AQE which still upgrades genuinely small sides at runtime:
    - non-local URI schemes (hdfs/s3/...): size lookup would need a
      filesystem client; skip rather than guess;
    - no input files resolvable (in-memory frames, complex plans);
    - any listing error.
    When ``df`` is a FILTER over a larger file the whole file's bytes are
    counted — an overestimate, so the probe under-broadcasts, never
    over-broadcasts (the failure mode that OOMs a driver).

    Replaces an earlier probe of Catalyst's optimizedPlan().stats() via
    ``_jdf`` — same decision on the bench fixtures, but no Spark-private
    JVM internals that a minor-version bump could break.
    """
    try:
        files = df.inputFiles()
        if not files:
            return False
        total = 0
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("file", ""):
                return False
            total += os.path.getsize(unquote(p.path))
        return total * _GRAM_EXPANSION <= max_bytes
    except Exception:
        return False


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.5,
    broadcast_bench: bool | None = None,
    broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """(corpus id, benchmark id, overlap) for every contaminated pair.

    overlap = |grams(corpus doc) ∩ grams(bench doc)| / |grams(BENCH doc)|
    — normalized by the BENCHMARK item, i.e. the containment of the
    benchmark item in the corpus document. This is the ratio that matters
    for decontamination: the canonical leak is a short eval item embedded
    verbatim inside a long training document, which scores ~1.0 here but
    ~|bench|/|doc| ≈ 0 under corpus-side normalization (the r2 defect:
    a bench item inside a 4x-longer doc scored 0.33 and escaped a 0.5
    threshold). Single int/int division -> bit-exact across engines.

    The benchmark grams are exploded and (when small) broadcast; corpus
    grams explode, join, and aggregate with map-side partial counts keyed
    on (corpus_id, bench_id). Grams are distinct per document, so the
    post-join count(*) IS the intersection size; the bench doc's gram
    count rides through the join so the ratio needs no second join.

    ``broadcast_bench``: True forces the hint, False leaves the join
    strategy entirely to Catalyst/AQE, None (default) applies the hint
    only when Catalyst's size estimate for the bench side is under
    ``broadcast_max_bytes`` — a real benchmark suite's exploded gram table
    can be 10^6-10^8 rows, where a forced broadcast would OOM the driver
    while AQE would degrade gracefully to a shuffle join (same policy as
    the star-join dims, PERF.md #8).
    """
    # explode_outer, NOT explode (r15, guide §1.2/§2.3): Catalyst infers
    # a size(__g) > 0 filter under a plain explode
    # (InferFiltersFromGenerate) and pushes it below _grams' spread_scan
    # repartition — which re-computes the ENTIRE gram pipeline inside
    # the narrow single-task scan stage, with lower(text) re-evaluated
    # per gram position (the O(len^2) lambda trap; measured 3.3 s of
    # 4.9 s total). explode_outer infers no filter; the one row it adds
    # per NULL/empty gram array carries a NULL __gram, dropped by the
    # cheap post-explode filter — the identical row multiset.
    corp = (
        _grams(corpus, text_col, id_col, "doc_id", k)
        .select("doc_id", F.explode_outer("__g").alias("__gram"))
        .where(F.col("__gram").isNotNull())
    )
    # r15 optimization (guide §1.4/§3.1 — compute the small side ONCE;
    # decide from its real size): the r14 broadcast probe re-scanned the
    # benchmark texts in a separate single-task aggregate job
    # (length(lower(text)) over the whole text column — measured 3.4 s
    # warm / 5.2 s cold at sf0.1, the query's dominant job). The bench
    # gram ARRAYS (pre-explode, one row per bench doc — the compact
    # form) are now built once in parallel (_grams spread_scans), kept
    # checkpointed, and the exact gram count read from the checkpoint
    # decides the join strategy; the join side explodes from the same
    # blocks, so the bench text column is scanned exactly once per run.
    # Join strategy only — results unchanged. A checkpoint, not a
    # persist: the CacheManager would match a later read of a rewritten
    # benchmark file to a cached frame and serve its old grams, while
    # checkpoint blocks are freed once the frame is garbage-collected.
    # The frame is bench-suite-sized (pre-explode), vanishing vs the
    # corpus at 100 TB.
    bench_g = _grams(benchmark, text_col, id_col, "bench_id", k)
    if broadcast_bench is None:
        bench_g = bench_g.localCheckpoint(eager=True)
        n_grams = bench_g.agg(F.sum(F.size("__g"))).collect()[0][0]
        broadcast_bench = (
            n_grams is not None
            and int(n_grams) * _GRAM_ROW_BYTES <= broadcast_max_bytes
        )
    bench = bench_g.select(
        "bench_id", F.size("__g").alias("__bn"), F.explode("__g").alias("__gram")
    )
    if broadcast_bench:
        bench = F.broadcast(bench)
    shared = (
        corp.join(bench, "__gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("__shared"), F.first("__bn").alias("__bn"))
    )
    return shared.select(
        "doc_id",
        "bench_id",
        (F.col("__shared").cast("double") / F.col("__bn")).alias("overlap"),
    ).where(F.col("overlap") >= threshold)


def cross_split_leakage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str,
    block_cols: list[str],
    k: int = 5,
    threshold: float = 0.25,
) -> DataFrame:
    """Near-duplicate pairs that STRADDLE a train/valid/test boundary —
    the self-contamination complement of :func:`ngram_contamination`
    (which checks the corpus against an EXTERNAL benchmark): a held-out
    split whose items have near-verbatim twins in train measures
    memorization, not generalization, so these pairs must be found and
    one side dropped (or the pair co-assigned) BEFORE training.

    Exact character-k-gram Jaccard over block-bounded candidate pairs —
    the same verifier arithmetic as ``dedup.ngram_jaccard_pairs``
    (xxhash64'd shingles, single int/int division) with the split
    carried THROUGH the self-join as a ride-along column: no corpus-
    sized id->split join afterwards, and the ``split_a != split_b``
    predicate sits in the join condition where it prunes same-split
    pairs before any intersection is computed. At 100 TB the blocking
    discipline is the usual one: run MinHash-LSH first and verify only
    candidates, or block on (lang, length-bucket) as here.

    Output: (id_a, id_b, split_a, split_b, jaccard), id_a < id_b,
    jaccard >= threshold.
    """
    lowered = df.select(
        F.col(id_col).alias("__id"),
        F.col(split_col).alias("__split"),
        *block_cols,
        F.lower(F.col(text_col)).alias("__lc"),
    )
    c = F.col("__lc")
    n = F.length(c)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(c.substr(i, F.lit(k))),
        )
    )
    sh = lowered.select("__id", "__split", *block_cols, shingles.alias("__sh"))
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.__id") < F.col("b.__id")) & (
        F.col("a.__split") != F.col("b.__split")
    )
    for bc in block_cols:
        cond = cond & (F.col(f"a.{bc}") == F.col(f"b.{bc}"))
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__split").alias("split_a"),
            F.col("b.__split").alias("split_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
