"""In-engine BPE merge learning (X67) — tokenizer vocabulary induction.

Byte-pair encoding training is the canonical "learn the tokenizer from
the corpus" step of an LLM data pipeline. The algorithm is inherently
iterative (k greedy merges), but each iteration is pure DataFrame work
over the WORD-FREQUENCY table — which is VOCABULARY-bounded, not
corpus-bounded — so the expensive corpus is scanned exactly once and the
k rounds run over bounded model-adjacent state:

    corpus --one scan--> (word, freq) grid --k rounds--> merge table

Per round: adjacent-pair counts (one explode + partial-agg over the
vocab table, weighted by word frequency), a deterministic argmax
(count DESC, then lexicographic pair — TakeOrdered of ONE row), and a
greedy left-to-right rewrite of each word's token array expressed as a
``F.aggregate`` fold (replace-last-when-pair-matches — the merged symbol
differs from its parts, so non-overlap falls out naturally: "aaa" with
merge (a,a) -> [aa, a]). The per-round state is ``localCheckpoint``'d:
k nested fold expressions would otherwise stack in one plan and blow up
analysis/codegen (the iterative-lineage rule from connected components).

The learned merge table (k rows) and the final vocabulary segmentation
(|vocab| rows) are BOUNDED MODEL STATE — the centroid/codebook class.
Encoding a corpus with the learned model is a broadcast join of words
against the vocabulary segmentation (never a per-document fold), which
is how production BPE encoders work too (the segmentation of a word is
a pure function of the word).

Cross-engine exactness: pure integer counts, lexicographic tie-breaks,
string concatenation — no floats anywhere. The DuckDB oracle unrolls
the same k rounds as chained CTE stages with ``list_reduce`` replaying
the identical greedy fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    from ..functions.text import tokens as _tokens

    return (
        docs.select(
            F.explode(_tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(state: DataFrame) -> DataFrame:
    """(x, y, c): frequency-weighted adjacent-pair counts over the
    current token arrays. sequence(1, 0) steps DOWN (the repo-wide
    gotcha), so single-token words are guarded to an empty index list.
    """
    t = F.col("toks")
    n = F.size(t)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pair = F.explode(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(t, i).alias("x"),
                F.element_at(t, i + 1).alias("y"),
            ),
        )
    )
    return (
        state.select("freq", pair.alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("freq").alias("c"))
    )


def _merge_fold(x: str, y: str) -> "F.Column":
    """Greedy left-to-right rewrite of ``toks`` merging pair (x, y)."""
    xy = x + y
    return F.aggregate(
        F.col("toks"),
        F.array().cast("array<string>"),
        lambda acc, cur: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(x))
            & (cur == F.lit(y)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(xy)),
            ),
        ).otherwise(F.concat(acc, F.array(cur))),
    )


def _learn(docs: DataFrame, text_col: str, k: int):
    """Run k merge rounds; returns (merge list, final state frame).

    MEASURED NEGATIVE RESULT (r15, same-box A/B/B/A at sf0.1): replacing
    the per-round argmax collect with an in-plan one-row aggregate
    cross-joined back into the state was tried three ways and every
    variant lost to this collect loop (min-of-3 reps):
    - constant-key join: 39 jobs / 3.6 s (BroadcastExchange query-stage
      job per round after constant folding) vs 22 / 2.2 s here;
    - + shuffle_replicate_nl CartesianProduct: 33 jobs / 3.4 s (the
      post-checkpoint UnknownPartitioning(0) re-inserts an Exchange
      SinglePartition under each round's global aggregate);
    - + coalesce(1) re-assert: 13 jobs / 3.0-3.9 s — fewest jobs, but
      SinglePartition serializes the fold rewrite that runs 32-way
      parallel here (the rewrite is the compute, unlike pagerank's
      per-row arithmetic; a single-task fold is the straggler shape).
    The 1-row collect per round is latency, not data volume, and keeps
    the rewrite partitioned — the right shape at 100 TB too.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    chars = F.filter(
        F.split(F.col("word"), ""), lambda ch: ch != ""
    )
    state = (
        _word_freq(docs, text_col)
        .select("word", "freq", chars.alias("toks"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for r in range(1, k + 1):
        best = (
            _adjacent_pairs(state)
            .orderBy(F.desc("c"), F.col("x"), F.col("y"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y, c = best[0]["x"], best[0]["y"], best[0]["c"]
        merges.append((r, x, y, x + y, c))
        state = state.select(
            "word", "freq", _merge_fold(x, y).alias("toks")
        ).localCheckpoint(eager=True)
    return merges, state


def bpe_learn(docs: DataFrame, text_col: str, k: int = 8) -> DataFrame:
    """(merge_rank, lhs, rhs, merged, pair_count): the first ``k`` BPE
    merges learned from the corpus's word-frequency table, in learning
    order. Fewer than k rows when the vocabulary runs out of adjacent
    pairs. The table IS the tokenizer model — apply it with
    :func:`bpe_segment_vocab` + a broadcast join.
    """
    merges, _ = _learn(docs, text_col, k)
    spark = docs.sparkSession
    # JVM inline table when the learned tokens allow it (r14): a
    # pickled-RDD result frame pays a Python worker per action. Tokens
    # with quotes/backslashes fall back to the general path.
    from ..functions.vectors import inline_rows_df

    fields = [("merge_rank", "BIGINT"), ("lhs", "STRING"),
              ("rhs", "STRING"), ("merged", "STRING"),
              ("pair_count", "BIGINT")]
    try:
        out = inline_rows_df(spark, merges, fields)
    except ValueError:
        out = spark.createDataFrame(
            merges,
            "merge_rank long, lhs string, rhs string, merged string, "
            "pair_count long",
        )
    return out


def bpe_segment_vocab(
    docs: DataFrame, text_col: str, k: int = 8
) -> DataFrame:
    """(word, freq, segmentation): every vocabulary word's token
    sequence after the learned ``k`` merges, space-joined (engine-
    portable scalar output). Encoding a corpus is then one broadcast
    join of exploded words against this |vocab|-bounded table — the
    production-encoder shape; no per-document fold ever touches the
    corpus.
    """
    _, state = _learn(docs, text_col, k)
    out = state.select(
        "word",
        "freq",
        F.array_join("toks", " ").alias("segmentation"),
    )
    return out
