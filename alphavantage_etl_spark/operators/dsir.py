"""Data Selection via Importance Resampling (DSIR) — score every raw
document by how target-like its hashed bag-of-words distribution is,
then resample the raw corpus proportionally to the weights. The
standard recipe for tilting a 100 TB web crawl toward a small curated
in-domain set without training a classifier (Xie et al., 2023,
"Data Selection for Language Models via Importance Resampling").

Reference scope: none in the reference ETL; this extends the corpus-
curation family (X9 `curate`, X11 sampling) with distribution-level
selection — the step between "filter by surface quality" (X4) and
"train on everything".

Model: add-one-smoothed unigram bag-of-hashed-features. Tokens hash
into ``buckets`` cells (the paper's hashed n-gram trick: vocabulary
becomes a FIXED-size table regardless of corpus size); each corpus
induces a multinomial ``p(b) = (cnt(b) + 1) / (N + B)``; a document's
log importance weight is ``sum_tokens log(p_target(b)/p_raw(b))``.
Unigrams here; the paper's unigram+bigram variant is the same plan with
a second explode unioned in.

Scale design (100 TB):
- Both models are ONE corpus explode into a map-side partial
  aggregation each; the resulting tables are BUCKET-sized (<= B rows,
  bounded regardless of corpus size). Their full-outer merge and the
  N/B totals are bucket-table-local — no extra corpus scan.
- Per-bucket log-ratios are computed once per BUCKET (not per token),
  half-even-quantized to 1e-9 (`bround(ln(..), 9)` — the lm_perplexity
  discipline: one transcendental per distinct value, rounded before any
  summation), then summed per document as exact integers in
  decimal(38,0) — fold-order-immune, so the result is identical on any
  partitioning.
- Scoring explodes the raw corpus once and joins the bucket-sized
  ratio table (AQE broadcasts it). Grand total: three corpus explodes
  (target model, raw model, scoring) when scoring the raw corpus
  itself, each shuffle bounded by B.
- The resample step reuses `sampling.weighted_sample` (content-
  addressed Efraimidis-Spirakis top-n): pass ``exp(log_weight)`` or
  rank on the log weight directly — no new machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_Q = 9  # log-ratio quantization decimals (1e-9 units)


def _bucket(col, buckets: int, salt: str):
    """Engine-portable token bucket: first 32 bits of md5('salt:token'),
    mod buckets — the sampling.split_bucket convention (md5, not
    xxhash64, so DuckDB/Python reproduce the assignment exactly)."""
    h = F.md5(F.concat_ws(":", F.lit(salt), col))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets)


def _doc_buckets(
    docs: DataFrame, id_col: str, text_col: str, buckets: int, salt: str
) -> DataFrame:
    """(id, bucket) — one row per lowercased whitespace token."""
    toks = F.explode(
        F.split(F.lower(F.col(text_col)), r"\s+")
    ).alias("__tok")
    return (
        docs.select(F.col(id_col), toks)
        .where(F.col("__tok") != "")
        .select(F.col(id_col), _bucket(F.col("__tok"), buckets, salt).alias("bucket"))
    )


def hashed_feature_counts(
    docs: DataFrame, text_col: str, buckets: int = 1024, salt: str = "dsir"
) -> DataFrame:
    """Bucket-sized model table: (bucket, cnt). One explode, map-side
    partial aggregation, shuffle bounded by ``buckets``."""
    ids = docs.select(F.lit(0).alias("__id"), text_col)
    return (
        _doc_buckets(ids, "__id", text_col, buckets, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 1024,
    salt: str = "dsir",
    score: DataFrame | None = None,
) -> DataFrame:
    """(id, n_feats, log_weight) — per-document total log importance
    ratio under hashed unigram models (higher = more target-like;
    resample with probability proportional to ``exp(log_weight)``).

    ``score`` is the frame to weigh; it defaults to ``raw`` itself (the
    paper's select-from-raw shape). Pass a NEW batch to score it against
    models fitted on earlier corpora — the incremental-ingest shape.

    Buckets unseen in one corpus score with count 0 there (the add-one
    reserved mass); tokens whose bucket is unseen in BOTH corpora (only
    possible when ``score`` is a third frame) fall back to the constant
    ``ln((N_raw+B)/(N_target+B))``.
    """
    t_cnt = hashed_feature_counts(target, text_col, buckets, salt)
    r_cnt = hashed_feature_counts(raw, text_col, buckets, salt)
    # bucket-sized merge: full outer so a bucket present in either model
    # gets its exact smoothed ratio. Totals, the ratio column and the
    # unseen fallback all read it; exchange reuse runs each corpus
    # explode once (final plan: 3 Generates, one per corpus scan). No
    # persist: the CacheManager would match a later read of a rewritten
    # file to the cached table and serve the old weights.
    merged = (
        t_cnt.withColumnRenamed("cnt", "cnt_t")
        .join(r_cnt.withColumnRenamed("cnt", "cnt_r"), on="bucket", how="full")
        .select(
            "bucket",
            F.coalesce("cnt_t", F.lit(0)).alias("cnt_t"),
            F.coalesce("cnt_r", F.lit(0)).alias("cnt_r"),
        )
    )
    totals = merged.agg(
        F.sum("cnt_t").alias("__nt"), F.sum("cnt_r").alias("__nr")
    )
    quant = F.lit(10.0**_Q)
    ratio = (
        merged.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.bround(
                    F.log(
                        (F.col("cnt_t") + 1).cast("double")
                        / (F.col("__nt") + F.lit(buckets)).cast("double")
                    )
                    - F.log(
                        (F.col("cnt_r") + 1).cast("double")
                        / (F.col("__nr") + F.lit(buckets)).cast("double")
                    ),
                    _Q,
                )
                * quant
            )
            .cast("decimal(38,0)")
            .alias("q_ratio"),
        )
    )
    fallback = totals.select(
        F.round(
            F.bround(
                F.log((F.col("__nr") + F.lit(buckets)).cast("double"))
                - F.log((F.col("__nt") + F.lit(buckets)).cast("double")),
                _Q,
            )
            * quant
        )
        .cast("decimal(38,0)")
        .alias("q_unseen")
    )
    feats = _doc_buckets(
        raw if score is None else score, id_col, text_col, buckets, salt
    )
    return (
        feats.join(ratio, on="bucket", how="left")
        .crossJoin(F.broadcast(fallback))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum(F.coalesce(F.col("q_ratio"), F.col("q_unseen"))).alias("__s"),
        )
        .select(
            id_col,
            "n_feats",
            (F.col("__s").cast("double") / F.lit(10.0**_Q)).alias("log_weight"),
        )
    )


def dsir_resample(
    raw: DataFrame,
    weights: DataFrame,
    id_col: str,
    n: int,
    salt: str = "dsir-resample",
) -> DataFrame:
    """Importance-resample ``n`` raw documents with inclusion probability
    proportional to ``exp(log_weight)``: the content-addressed Gumbel
    top-k trick — ``key = log_weight + gumbel(u)`` with ``u`` a stable
    md5 uniform, equivalent to weighted sampling WITHOUT replacement by
    exponentiated weights but immune to double overflow for large
    |log_weight|. Deterministic on any engine/partitioning; top-n plans
    as TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    from .sampling import split_bucket

    b = split_bucket(id_col, salt, 10_000)
    u = (b.cast("double") + F.lit(0.5)) / F.lit(10_000.0)
    gumbel = -F.log(-F.log(u))
    key = F.bround(F.col("log_weight") + gumbel, _Q)
    return (
        raw.join(weights, on=id_col)
        .withColumn("gkey", key)
        .orderBy(F.desc("gkey"), F.col(id_col))
        .limit(n)
    )
