"""In-engine training of a hashed-feature linear text classifier —
full-batch logistic regression over bag-of-hashed-words features, the
fastText-/quality-classifier shape: label a small set of documents
(good/bad, in-domain/out), train on the cluster, score the whole corpus
with the resulting BUCKET-BOUNDED weight table.

Reference scope: none in the reference ETL; this extends the model-
fitting family (IVF k-means, PQ codebooks — operators/similarity.py)
with a supervised discriminative trainer, complementing the generative
DSIR ratio (operators/dsir.py).

Model: ``p(y=1|d) = sigmoid(w0 + sum_b w(b) * x_db)`` with
``x_db = cnt_db / n_d`` (L1-normalized hashed token counts — the
fastText averaging). Training is ``iters`` full-batch gradient steps
``w <- w - lr * (1/N) * sum_d (p_d - y_d) * x_db``; fixed iteration
count, no stochasticity — the output is a deterministic function of the
corpus.

Determinism discipline (the pagerank rules): weights live on a 1e-9
half-even grid; per-(doc,bucket) score and gradient terms quantize to
1e-12 BEFORE summation and sum as exact decimal(38,0) integers; the
sigmoid output re-quantizes to 1e-9 (quantum / double-ulp ratio ~1e7,
so a last-ulp `exp` difference between engines cannot flip a boundary).
Every iteration's weight table is bit-identical on any partitioning.

Scale design (100 TB):
- The (doc, bucket, x) feature frame is computed ONCE and persisted
  for the training loop, and released when it ends — two scans per
  gradient step (score join + gradient join) replay the persisted
  features, never re-tokenize the corpus. Explicitly the
  training trade: corpus-sized cached state for iteration speed; drop
  to recompute-per-step if storage-bound.
- Weights are <= buckets+1 rows (AQE broadcasts them into the score
  join); per-doc score and per-bucket gradient are each ONE partial
  aggregation; `localCheckpoint` per step kills iterative lineage.
- Scoring new corpora is one explode + broadcast join + per-doc agg —
  no shuffle beyond the doc-key partial agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dsir import _bucket

_QW = 9   # weight / probability grid decimals
_QT = 12  # per-term quantization decimals
_BIAS = -1  # reserved bucket id for the intercept (real buckets are >= 0)


def _features(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str | None,
    buckets: int,
    salt: str,
) -> DataFrame:
    """(id[, y], bucket, x) with x = cnt/n_tokens, plus one bias row
    (bucket = -1, x = 1.0) per document."""
    toks = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok")
    cols = [F.col(id_col)] + ([F.col(label_col)] if label_col else [])
    # NOT spread_scan'd (functions/parallelism.py): the tokenize cost
    # here is amortized over ``iters`` replays of the PERSISTED feature
    # frame, and widening that small cached frame costs more per-
    # iteration task scheduling than the one-off tokenize saves
    # (measured: 5.6 s -> 7.2 s at sf0.1 with the spread).
    tok = (
        docs.select(*cols, toks)
        .where(F.col("__tok") != "")
        .select(
            *cols, _bucket(F.col("__tok"), buckets, salt).alias("bucket")
        )
    )
    keys = [id_col] + ([label_col] if label_col else [])
    cnt = tok.groupBy(*keys, "bucket").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(id_col)
    feat = cnt.withColumn(
        "x", F.col("__c").cast("double") / F.sum("__c").over(w).cast("double")
    ).drop("__c")
    bias = (
        feat.select(*keys)
        .distinct()
        .withColumn("bucket", F.lit(_BIAS).cast("long"))
        .withColumn("x", F.lit(1.0))
    )
    return feat.unionByName(bias)


def _scores(feats: DataFrame, weights: DataFrame, id_col: str, extra) -> DataFrame:
    """(id[, extra], p) — sigmoid of the quantized-exact dot product."""
    qt = F.lit(10.0**_QT)
    term = F.round(F.bround(F.col("weight") * F.col("x"), _QT) * qt).cast(
        "decimal(38,0)"
    )
    return (
        feats.join(F.broadcast(weights), on="bucket", how="left")
        .withColumn("weight", F.coalesce("weight", F.lit(0.0)))
        .groupBy(id_col, *extra)
        .agg(F.sum(term).alias("__qs"))
        .select(
            id_col,
            *extra,
            F.bround(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("__qs").cast("double") / qt))),
                _QW,
            ).alias("p"),
        )
    )


def train_logreg_hashed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    buckets: int = 1024,
    iters: int = 3,
    lr: float = 1.0,
    salt: str = "lr",
) -> DataFrame:
    """(bucket, weight) after ``iters`` full-batch gradient steps; bucket
    -1 holds the intercept. ``label_col`` must be 0/1 (cast applied)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # r14 optimization (guide §2.1): hash-partition the persisted feature
    # frame by document id ONCE — the union with the bias rows erases
    # the build-time partitioning, so without this every gradient step
    # re-shuffled the corpus-sized cached frame TWICE (score groupBy +
    # error join). InMemoryTableScan preserves outputPartitioning, and
    # HashPartitioning(id) satisfies every per-iteration requirement
    # (groupBy(id, y), join on id — err inherits the same partitioning
    # through the score aggregate), leaving only the bucket-keyed
    # gradient aggregation (<= buckets rows after map-side partials) on
    # the shuffle path. Values unchanged: all sums are quantized-exact
    # decimal folds, partition-order-immune by the module contract.
    feats = _features(
        docs.withColumn("__y", F.col(label_col).cast("double")),
        id_col,
        text_col,
        "__y",
        buckets,
        salt,
    ).repartition(F.col(id_col)).persist()
    n_docs = feats.select(id_col).distinct().count()  # driver scalar
    qt = F.lit(10.0**_QT)

    spark = docs.sparkSession
    # JVM inline row (r14): a pickled-RDD-backed seed frame launches a
    # Python worker in the first iteration's scoring stage
    from ..functions.vectors import inline_rows_df

    weights = inline_rows_df(
        spark, [(_BIAS, 0.0)], [("bucket", "BIGINT"), ("weight", "DOUBLE")]
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        scored = _scores(feats, weights, id_col, ["__y"])
        err = scored.select(
            id_col, (F.col("p") - F.col("__y")).alias("__e")
        )
        grad_term = F.round(
            F.bround(F.col("__e") * F.col("x"), _QT) * qt
        ).cast("decimal(38,0)")
        grads = (
            feats.join(err, on=id_col)
            .groupBy("bucket")
            .agg(F.sum(grad_term).alias("__qg"))
            .select(
                "bucket",
                (
                    F.col("__qg").cast("double") / qt / F.lit(float(n_docs))
                ).alias("__g"),
            )
        )
        weights = (
            grads.join(weights, on="bucket", how="full")
            .select(
                "bucket",
                F.bround(
                    F.coalesce("weight", F.lit(0.0))
                    - F.lit(lr) * F.coalesce("__g", F.lit(0.0)),
                    _QW,
                ).alias("weight"),
            )
            .localCheckpoint(eager=True)
        )
    # every step's weights are checkpointed, so the features can go: a
    # persist left behind would also answer a later read of a rewritten
    # input path with the old rows (the CacheManager matches file scans
    # by path)
    feats.unpersist()
    return weights


def predict_logreg(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 1024,
    salt: str = "lr",
) -> DataFrame:
    """(id, p, pred) — score any corpus with a trained weight table:
    one explode + broadcast join + per-doc partial agg. ``p`` sits on
    the 1e-9 grid; ``pred = p >= 0.5``."""
    feats = _features(docs, id_col, text_col, None, buckets, salt)
    return _scores(feats, weights, id_col, []).select(
        id_col, "p", (F.col("p") >= 0.5).alias("pred")
    )


def gini_stump(
    df: DataFrame,
    label_col: str,
    feature_col: str,
    max_grid: int = 1_000_000,
) -> DataFrame:
    """One-row (n, n_pos, best_threshold, gini_parent, gini_split,
    gain): the best single-feature decision stump by Gini impurity —
    the feature-screening primitive behind tree learners and
    curation-filter design: "how much does ONE integer feature
    (length, token count, quality grade) already separate the label",
    and at which threshold. A gain near 0 means the feature is noise
    for this label; the threshold is the natural cut for a cheap
    rule-based pre-filter.

    For every candidate cut t (each distinct feature value, split
    ``feature <= t`` left), weighted Gini

        split(t) = (nL/n)*(1 - (posL^2+negL^2)/nL^2)
                 + (nR/n)*(1 - (posR^2+negR^2)/nR^2)

    is minimized; gain = gini(parent) - split(best). Gini is PURE
    rational arithmetic — unlike entropy gain there is no logarithm,
    so every score is a fixed-order IEEE expression over exact
    integers (squares in decimal(38,0); long squares overflow at
    corpus scale) and the argmin is engine-identical, tie-broken by
    threshold ascending. Outputs ship unrounded (target_encode rule).
    The last grid value (empty right side) is not a candidate; a
    single-valued feature yields zero rows. NULL label/feature rows
    are excluded.

    Scale (100 TB): the histogram-class design — one map-side-combined
    groupBy onto the distinct-feature-value grid; the cumulative
    window and the TakeOrdered argmin run over that grid only. The
    feature must be integer-quantized with bounded cardinality (the
    curriculum-grid contract); the bound is ENFORCED lazily in-plan
    (the mann_whitney_u guard: one auxiliary count over the same grid
    subtree, exchange-reused, assert_true at action time — coarsening
    would move candidate cuts, so the guard raises, never degrades).
    """
    if max_grid < 2:
        raise ValueError(f"max_grid must be >= 2, got {max_grid}")
    y = F.col(label_col).cast("long")
    base = df.where(
        F.col(feature_col).isNotNull() & y.isNotNull()
    ).select(
        F.col(feature_col).cast("long").alias("__v"), y.alias("__y")
    )
    grid = base.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__p")
    )
    guard = grid.agg(F.count(F.lit(1)).alias("__ng"))
    grid = (
        grid.join(F.broadcast(guard))
        .where(
            F.assert_true(
                F.col("__ng") <= max_grid,
                F.lit(
                    "gini_stump: feature grid exceeds max_grid="
                    f"{max_grid}; quantize the feature coarser"
                ),
            ).isNull()
        )
        .drop("__ng")
    )
    tot = grid.agg(
        F.sum("__n").alias("__N"), F.sum("__p").alias("__P")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "__v",
        F.sum("__n").over(w).alias("__nl"),
        F.sum("__p").over(w).alias("__pl"),
    ).crossJoin(F.broadcast(tot))
    cand = cum.where(F.col("__nl") < F.col("__N"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dd = lambda x: x.cast("double")  # noqa: E731

    def sq2(pos, neg):
        return dec(pos) * dec(pos) + dec(neg) * dec(neg)

    nl, pl = F.col("__nl"), F.col("__pl")
    ql = nl - pl
    nr = F.col("__N") - nl
    pr = F.col("__P") - pl
    qr = nr - pr
    gini_l = F.lit(1.0) - dd(sq2(pl, ql)) / (dd(nl) * dd(nl))
    gini_r = F.lit(1.0) - dd(sq2(pr, qr)) / (dd(nr) * dd(nr))
    split = (dd(nl) / dd(F.col("__N"))) * gini_l + (
        dd(nr) / dd(F.col("__N"))
    ) * gini_r
    gini_parent = F.lit(1.0) - dd(
        sq2(F.col("__P"), F.col("__N") - F.col("__P"))
    ) / (dd(F.col("__N")) * dd(F.col("__N")))
    scored = cand.select(
        F.col("__N").alias("n"),
        F.col("__P").alias("n_pos"),
        F.col("__v").alias("best_threshold"),
        gini_parent.alias("gini_parent"),
        split.alias("gini_split"),
        (gini_parent - split).alias("gain"),
    )
    return scored.orderBy("gini_split", "best_threshold").limit(1)
