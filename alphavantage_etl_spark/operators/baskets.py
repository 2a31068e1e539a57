"""Market-basket co-occurrence analysis — pairwise support and lift over
(basket, item) rows: the association-rule readout ("parts ordered
together", "docs co-cited", "events co-occurring in a session") that
drives recommendations and bundling.

Reference scope: none in the reference ETL; extends the event/join
analytics family (X7, X26) with the classic affinity workload.

Model: presence-based (an item counts once per basket); for a pair
``lift(a,b) = P(a,b) / (P(a) P(b)) = s_ab * N / (s_a * s_b)`` — lift > 1
means co-occurrence beyond independence. ``min_support`` gates the
hapax-pair pathology exactly like PMI's min-count (a pair seen once can
have arbitrarily extreme lift).

Scale design (100 TB):
- The pair generation is a self-join ON THE BASKET KEY: per-basket
  quadratic, bounded by basket size squared — real baskets are small
  (TPC-H orders: <= 7 lineitems). A degenerate mega-basket (one "order"
  with 10^6 items) is the same hazard class as a hot LSH bucket, so
  ``max_basket`` drops baskets above the cap BEFORE the join (the
  quadratic never materializes; dropped baskets are a documented,
  deterministic exclusion).
- Everything else is bounded: item supports are one hash agg, N is one
  tiny agg broadcast in-plan, the pair table is distinct-pair-bounded
  with map-side combine, top-k is TakeOrderedAndProject.
- Lift is ONE fixed-order double expression over exact integer counts,
  half-even-rounded to 1e-9 — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pair_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
    k: int = 20,
    max_basket: int | None = 1000,
) -> DataFrame:
    """(item_a, item_b, n_pair, lift) — top-``k`` item pairs by lift
    (ties: item ids), among pairs co-occurring in >= ``min_support``
    baskets. ``item_a < item_b`` canonically."""
    # r14 optimization (guide §2.4/§5): `items` feeds FIVE consumers
    # (sizes, the semi-join left side, n_b, supp, both pair-join sides)
    # — unpersisted, the plan recomputed the corpus scan + distinct per
    # consumer (measured before: 10 parquet scans, 19 Exchanges,
    # 53.4 MB shuffle read). One `repartition(__b)` BEFORE the
    # distinct-as-aggregate makes HashPartitioning(__b) the layout of
    # everything downstream: the (b,i) distinct, the per-basket size
    # aggregation, the semi-join, the n_b distinct and the a⋈b
    # self-join ALL satisfy their clustering requirement from that one
    # exchange (a subset-key partitioning satisfies clustering on the
    # full grouping set), so only `supp` (item-keyed) and the pair
    # aggregation shuffle at all — and those carry map-side-combined
    # partials, not rows. Partition count comes from
    # spark.sql.shuffle.partitions / AQE, no local constants. Values
    # unchanged: identical aggregates, identical join semantics.
    # r15 refinement (guide §2.4/§5): the r14 form persisted the
    # UNFILTERED (b,i) frame and applied max_basket as a separate sizes
    # aggregate + semi-join — a subtree that hung BELOW the cache, so
    # every one of the four downstream consumers re-ran the aggregate and
    # the join against the cache (measured: 26 AQE stage jobs, ~20 of
    # them 32-task cache re-scans). The basket size is a window count
    # over the SAME HashPartitioning(__b) the repartition already
    # established (no new exchange, one within-partition sort). Values
    # unchanged — the window count over the deduped (b,i) rows IS the
    # sizes aggregate, and the filter drops the identical baskets.
    # Nothing is cached: the four consumers read the one repartition
    # exchange (exchange reuse), which measured 10 jobs against 16 for
    # the persisted form (sf0.01, 4 cores) and serves a rewritten
    # lineitem file afresh.
    items = (
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .repartition("__b")
        .distinct()
    )
    if max_basket is not None:
        items = (
            items.withColumn(
                "__sz", F.count(F.lit(1)).over(Window.partitionBy("__b"))
            )
            .where(F.col("__sz") <= max_basket)
            .drop("__sz")
        )
    n_b = items.select("__b").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    supp = items.groupBy("__i").agg(F.count(F.lit(1)).alias("__s"))
    a = items.select("__b", F.col("__i").alias("item_a"))
    b = items.select("__b", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, on="__b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_support)
    )
    sa = supp.select(F.col("__i").alias("item_a"), F.col("__s").alias("__sa"))
    sb = supp.select(F.col("__i").alias("item_b"), F.col("__s").alias("__sb"))
    lift = F.bround(
        (F.col("n_pair").cast("double") * F.col("__n").cast("double"))
        / (F.col("__sa").cast("double") * F.col("__sb").cast("double")),
        9,
    )
    return (
        pairs.join(sa, on="item_a")
        .join(sb, on="item_b")
        .crossJoin(F.broadcast(n_b))
        .select("item_a", "item_b", "n_pair", lift.alias("lift"))
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(k)
    )
