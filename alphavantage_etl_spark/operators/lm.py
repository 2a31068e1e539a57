"""Character n-gram language-model perplexity proxy — the CCNet-style
corpus quality filter: score each document by how "expected" its
character sequences are under an n-gram model, then gate or bucket on
the score. Low average log-probability = out-of-distribution text
(boilerplate soup, encoding damage, wrong language, spam).

Reference scope: none in the reference ETL; this extends the quality-
scoring family (X4 `with_quality_score`, X11 `calibrate_by_group`) with
the distributional signal those surface heuristics (length, punctuation,
stopwords) cannot see.

Model: add-one-smoothed unigram model over character n-grams,
``p(g) = (count(g) + 1) / (N + V)`` with N = total gram occurrences in
the training corpus and V = |distinct grams| + 1 (the +1 reserves mass
for unseen grams, scored with count 0). A backed-off conditional model
scores better but needs two tables; the unigram-of-ngrams form is the
standard cheap proxy and keeps the whole operator two aggregations.

Scale design (100 TB):
- Training is TF-IDF's cost shape: one corpus explode into a map-side
  partial aggregation; the model table is VOCABULARY-sized (<= alphabet^n
  rows, bounded regardless of corpus size). N and V derive in-plan from
  one tiny aggregate of the model table — no extra corpus scan.
- Scoring explodes the corpus once and joins the model table (AQE
  broadcasts it when it fits). Per-gram log-probabilities are computed
  ONCE PER DISTINCT GRAM in the model table, quantized half-even to 1e-9
  (`bround(ln(p), 9)` — the weighted_sample pow-rounding discipline: one
  transcendental per distinct value, rounded before any summation), and
  summed per document as exact integers in decimal(38,0). One final
  division chain produces the per-doc average — immune to fold order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_Q = 9  # log-prob quantization decimals (1e-9 units)


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) — one row per overlapping lowercased char n-gram.

    Note for very long documents: per-position `substring` on UTF8
    strings re-scans from the string head (O(len) per position); at
    fixture doc lengths (~300 chars) this is negligible, and the CDC
    byte-hoist pattern (encode once, byte-slice) applies if needed.
    """
    # hoist lower() to a projected column: a lambda capturing the
    # expression would re-lowercase the whole string per gram position
    # (the CDC bounds-hoist lesson)
    from ..functions.parallelism import spread_scan

    low = spread_scan(
        df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lc"))
    )
    c = F.col("__lc")
    grams = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: F.substring(c, i, n),
        ),
        lambda g: F.length(g) == n,
    )
    return low.select(F.col(id_col), F.explode(grams).alias("gram"))


def train_char_lm(
    docs: DataFrame, text_col: str, n: int = 3, id_col: str | None = None
) -> DataFrame:
    """Vocabulary-sized model table: (gram, cnt)."""
    ids = docs.select(
        F.monotonically_increasing_id().alias("__id"), text_col
    ) if id_col is None else docs.select(F.col(id_col).alias("__id"), text_col)
    return (
        _doc_grams(ids, "__id", text_col, n)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_perplexity_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame | None = None,
    n: int = 3,
) -> DataFrame:
    """(id, n_grams, avg_logp) — average smoothed log-probability per
    document (closer to 0 = more in-distribution; perplexity is
    ``exp(-avg_logp)``). ``model`` defaults to self-training on ``docs``
    (the common bootstrap when no curated reference corpus exists yet);
    pass a `train_char_lm` table from a reference corpus for the CCNet
    shape. Grams absent from the model score with count 0 (the reserved
    smoothing mass).

    Nothing is cached: the self-trained model feeds the totals and the
    score join of one plan, and both read its one aggregation exchange
    (exchange reuse), so the corpus is exploded twice in total (train +
    score), the TF-IDF discipline. Callers scoring MANY corpora against
    one reference should train once via `train_char_lm` and pass `model`.
    """
    if model is None:
        model = train_char_lm(docs, text_col, n=n, id_col=id_col)
    totals = model.agg(
        F.sum("cnt").alias("__n"), (F.count(F.lit(1)) + 1).alias("__v")
    )
    scored_model = model.crossJoin(F.broadcast(totals)).select(
        "gram",
        F.round(
            F.bround(
                F.log(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("__n") + F.col("__v")).cast("double")
                ),
                _Q,
            )
            * F.lit(10.0**_Q)
        )
        .cast("decimal(38,0)")
        .alias("q_logp"),
    )
    # unseen-gram fallback needs the same totals; keep them in scope via a
    # second broadcast join (one tiny frame, zero corpus cost)
    fallback = totals.select(
        F.round(
            F.bround(
                F.log(
                    F.lit(1.0) / (F.col("__n") + F.col("__v")).cast("double")
                ),
                _Q,
            )
            * F.lit(10.0**_Q)
        )
        .cast("decimal(38,0)")
        .alias("q_unseen")
    )
    grams = _doc_grams(docs, id_col, text_col, n)
    return (
        grams.join(scored_model, on="gram", how="left")
        .crossJoin(F.broadcast(fallback))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("q_logp"), F.col("q_unseen"))).alias("__s"),
        )
        .select(
            id_col,
            "n_grams",
            (
                F.col("__s").cast("double")
                / F.col("n_grams")
                / F.lit(10.0**_Q)
            ).alias("avg_logp"),
        )
    )


def bigram_next_tokens(
    df: DataFrame,
    text_col: str,
    top_contexts: int = 20,
    top_next: int = 3,
) -> DataFrame:
    """(context, context_n, next_token, n, prob, rank): the ``top_next``
    most likely next tokens for each of the corpus's ``top_contexts``
    most frequent context tokens — the word-level bigram LM surface
    (autocomplete / corpus-fingerprint view) beside the char-level
    perplexity scorer above: perplexity SCORES documents against a
    model; this EXPOSES the model's head for inspection.

    prob = n(context, next) / n(context as a bigram left side) — a
    single exact int/int division, shipped unrounded. Ranks break count
    ties on the token string (fully deterministic).

    Scale design (100 TB): bigram counts are one explode + one hash
    aggregation (map-side combine on the pair). The per-context rank
    window runs ONLY over the bigrams of the broadcast-joined
    top_contexts list — a k-bounded slice, never the full bigram
    vocabulary; the top-contexts list itself lowers to
    TakeOrderedAndProject. Pair token slices zip via arrays_zip on a
    PROJECTED token column (the lambda-capture rule: never rebuild the
    token array per element).
    """
    if top_contexts < 1 or top_next < 1:
        raise ValueError("top_contexts and top_next must be >= 1")
    from ..functions.text import tokens as _tokens

    toked = df.select(
        _tokens(F.lower(F.col(text_col))).alias("__t")
    ).where(F.size("__t") >= 2)
    pairs = toked.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__t"), 1, F.size("__t") - 1).alias("w1"),
                F.slice(F.col("__t"), 2, F.size("__t") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    ctx = bi.groupBy("w1").agg(F.sum("n").alias("context_n"))
    top = ctx.orderBy(F.desc("context_n"), F.col("w1")).limit(top_contexts)
    w = Window.partitionBy("w1").orderBy(F.desc("n"), F.col("w2"))
    ranked = (
        bi.join(F.broadcast(top), "w1")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_next)
    )
    return ranked.select(
        F.col("w1").alias("context"),
        "context_n",
        F.col("w2").alias("next_token"),
        "n",
        (F.col("n").cast("double") / F.col("context_n").cast("double")).alias(
            "prob"
        ),
        F.col("rank").cast("long").alias("rank"),
    )
