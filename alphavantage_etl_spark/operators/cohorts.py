"""Event-analytics operators: cohort retention and ordered-funnel analysis.

Reference scope: the reference's event surface stops at daily OHLC bars
(av_etl.py aggregation semantics); these are the two standard product-
analytics rollups over the same event stream — "of the users who arrived
in week W, how many were still active k weeks later" and "how many users
completed step1 -> step2 -> ... in order".

Scale design (100 TB):
- ``cohort_retention`` is two hash aggregations on the entity key (the
  per-user first-seen week, then the distinct (user, week) activity set)
  joined on the key and re-aggregated on the bounded (cohort, offset)
  grid. Every shuffle is on user_id or on the output grid (|weeks|^2
  rows) — nothing quadratic, no window function.
- ``funnel_steps`` computes the whole ordered chain in ONE aggregation:
  per user, each step's event times collapse to a sorted array inside
  the groupBy (map-side partial), and the in-order chain walk is a fold
  over array columns (`filter(arr, t -> t > prev)[0]`) — higher-order
  functions in whole-stage codegen, no per-step self-join, no window.
  A user's per-step arrays are bounded by that user's own event count;
  hot users are the same bounded-hot-key consideration as sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def cohort_retention(
    events: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention counts.

    A user's cohort is the ISO week (Monday-truncated date) of their
    first event; for every (cohort_week, week_offset) cell the count is
    DISTINCT users from that cohort active in that later week. Offset 0
    is the cohort week itself, so each cohort's offset-0 row equals the
    cohort size.
    """
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    cohorts = events.groupBy(key_col).agg(
        F.min(week).alias("cohort_week")
    )
    activity = (
        events.select(key_col, week.alias("active_week")).dropDuplicates()
    )
    return (
        activity.join(cohorts, on=key_col)
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("users"))
    )


def funnel_steps(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Strict-order funnel: per step, how many users reached it.

    A user reaches step i when an event of type ``steps[i]`` exists
    STRICTLY AFTER the time they reached step i-1 (first such event
    counts). One aggregation builds each step's sorted event-time array
    per user; the chain walk is array `filter` + `element_at` — no
    self-joins. Returns (step_idx, step_name, users) with users
    monotonically non-increasing by construction.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    per_user = events.groupBy(key_col).agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.when(F.col(type_col) == s, F.col(ts_col))
                )
            ).alias(f"_ts_{i}")
            for i, s in enumerate(steps)
        ]
    )
    def _after(prev):
        # factory, not a default-arg lambda: pyspark counts default args
        # toward the SQL lambda's arity (a 2-arg filter lambda binds the
        # element INDEX to the second name — silently wrong here)
        return lambda t: t > prev

    # try_element_at: a user who never fires a step has an empty array,
    # which must read as NULL (ANSI element_at raises)
    reached = F.try_element_at(F.col("_ts_0"), F.lit(1))
    chain = [reached]
    for i in range(1, len(steps)):
        reached = F.try_element_at(
            F.filter(F.col(f"_ts_{i}"), _after(chain[-1])), F.lit(1)
        )
        chain.append(reached)
    stepped = per_user.select(
        *[c.alias(f"_r_{i}") for i, c in enumerate(chain)]
    )
    counts = stepped.agg(
        *[
            F.count(F.col(f"_r_{i}")).alias(f"_n_{i}")
            for i in range(len(steps))
        ]
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step_idx"),
                F.lit(s).alias("step_name"),
                F.col(f"_n_{i}").alias("users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(pairs).alias("f")).select(
        "f.step_idx", "f.step_name", "f.users"
    )


def transition_matrix(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order Markov transition counts/rates between consecutive
    events of each key: (from_type, to_type, n, p) where p is the row-
    normalized transition probability. The behavioral-analytics companion
    of the funnel: the funnel asks "did the ordered path happen", the
    transition matrix asks "what usually happens next".

    One window pass on the entity key (lag of the type column) feeding
    one bounded aggregation (|types|^2 output rows); p derives from a
    window-free second aggregate joined back — both aggs are
    vocabulary-sized. The single division making p is IEEE-deterministic
    from exact integer counts.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        events.withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return (
        counts.join(F.broadcast(totals), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("__tot").cast("double")).alias("p"),
        )
    )


def conversion_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion: str = "purchase",
) -> DataFrame:
    """Per-channel conversion attribution — (channel, first_touch,
    last_touch, linear_credit) over every converting user journey.

    A journey is the run of a user's non-conversion events ("touches")
    since their previous conversion; each touch's journey index is the
    count of conversions seen so far (one cumulative-sum window), and a
    journey attributes only if its closing conversion exists. First/last
    touch are ``min_by``/``max_by`` on the (ts, id) order key; linear
    credit splits each journey's 1.0 evenly across its touches (exact
    int/int ratios, half-even-quantized to 1e-9 and summed as exact
    decimal integers — the repo's standard discipline for sums of
    per-group doubles, immune to partial-agg merge order).

    Scale (100 TB): one per-user window Exchange (the cumulative
    conversion count), then every aggregation is keyed on (user,
    journey) or on the |channels|-bounded output grid; the journey
    semi-join is (user, journey)-keyed. No self-join of the event
    stream, no per-conversion scan.
    """
    okey = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
    w = Window.partitionBy(user_col).orderBy(okey)
    is_conv = F.col(type_col) == conversion
    e = events.select(
        user_col, ts_col, id_col, type_col,
        F.sum(is_conv.cast("long")).over(w).alias("__cc"),
    )
    # a touch with j prior conversions belongs to journey j+1; journey j
    # exists iff a conversion row has inclusive-cumulative count j
    touches = e.where(F.col(type_col) != conversion).select(
        user_col, type_col, ts_col, id_col,
        (F.col("__cc") + 1).alias("__j"),
    )
    convs = e.where(is_conv).select(user_col, F.col("__cc").alias("__j"))
    tj = touches.join(convs, [user_col, "__j"], "semi")
    okey2 = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
    per_j = tj.groupBy(user_col, "__j").agg(
        F.min_by(type_col, okey2).alias("__first"),
        F.max_by(type_col, okey2).alias("__last"),
        F.count(F.lit(1)).alias("__total"),
    )
    share = (
        tj.groupBy(user_col, "__j", type_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .join(per_j.select(user_col, "__j", "__total"), [user_col, "__j"])
        .select(
            F.col(type_col).alias("channel"),
            F.round(
                F.bround(
                    F.col("__cnt").cast("double")
                    / F.col("__total").cast("double"),
                    9,
                )
                * F.lit(1e9)
            )
            .cast("decimal(38,0)")
            .alias("__q"),
        )
        .groupBy("channel")
        .agg(
            (F.sum("__q").cast("double") / F.lit(1e9)).alias("linear_credit")
        )
    )
    firsts = per_j.groupBy(F.col("__first").alias("channel")).agg(
        F.count(F.lit(1)).alias("first_touch")
    )
    lasts = per_j.groupBy(F.col("__last").alias("channel")).agg(
        F.count(F.lit(1)).alias("last_touch")
    )
    return (
        share.join(firsts, "channel", "full")
        .join(lasts, "channel", "full")
        .select(
            "channel",
            F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
            F.coalesce("linear_credit", F.lit(0.0)).alias("linear_credit"),
        )
    )


# plan-depth block size for the markov power iteration: bounds driver
# analysis cost without paying a scheduling round-trip per iteration
_MARKOV_CKPT_EVERY = 4
# Grid rows up to which the markov power iteration runs in-plan over one
# packed row (row-count-based, never core-count-tied). The in-plan fold
# pays ~|grid| x |states| element ops per iteration on one task (map
# element_at is a linear scan), so 64k grid rows bounds the worst case
# near 2^28 element ops per run.
_INPLAN_GRID_ROWS = 65536


def _markov_power_inplan(
    grid: DataFrame, iters: int, START: str, CONV: str, NULL: str
) -> DataFrame:
    """The small-model markov power loop: ONE row per removal variant
    ``rm`` — an array of (state, out-edges, direct) plus a map<state,
    double> probability vector — iterated with pure-Project expressions
    (no joins, no exchanges; see the caller's note). Removal variants
    never interact until the final base/removed split, so sharding the
    packed state by ``rm`` keeps every map lookup O(|states|) (Spark map
    element_at is a linear scan, so a single map over (rm, s) keys would
    cost O(|rm| * |states|) PER LOOKUP — the per-rm shape bounds the
    worst gated model at ~E x S x iters element ops instead of that
    squared). Arithmetic is the join loop's, term for term:

    - edge contribution  round(bround(P * p_prev[rm, t], 9) * 1e9) as
      decimal(38,0), summed exactly (the aggregate fold's decimal adds
      are the join loop's spark.sql.sum — both exact, both
      order-immune);
    - a state with no out-edges folds to decimal 0 -> 0.0, which equals
      the join loop's NULL-left-join coalesce;
    - a target state missing from the vector contributes coalesce-0,
      which equals the inner join dropping the edge (cannot happen for
      this grid — every non-absorbing target is also a source — but the
      guard keeps the fold NULL-safe);
    - new p = bround(sum/1e9 + direct, 9), exactly the join loop's.
    """
    edges = F.collect_list(
        F.when(
            ~F.col("t").isin(CONV, NULL),
            F.struct(F.col("t").alias("s"), F.col("p").alias("p")),
        )
    )
    direct = F.max(F.when(F.col("t") == CONV, F.col("p")))
    packed = (
        grid.groupBy("rm", "f")
        .agg(edges.alias("es"), direct.alias("d"))
        .groupBy("rm")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("f").alias("s"),
                    F.col("es").alias("es"), F.col("d").alias("d"),
                )
            ).alias("g")
        )
    )
    keys = F.transform(F.col("g"), lambda x: x["s"])
    dec0 = F.lit(0).cast("decimal(38,0)")

    def step(pm):
        def val(x):
            q = F.aggregate(
                x["es"],
                dec0,
                lambda acc, e: acc
                + F.coalesce(
                    F.round(
                        F.bround(e["p"] * F.element_at(pm, e["s"]), 9)
                        * F.lit(1e9)
                    ).cast("decimal(38,0)"),
                    dec0,
                ),
            )
            return F.bround(
                F.coalesce(q.cast("double") / F.lit(1e9), F.lit(0.0))
                + F.coalesce(x["d"], F.lit(0.0)),
                9,
            )

        return F.map_from_arrays(keys, F.transform(F.col("g"), val))

    # iteration 1 closed-form: p0 = 0 makes every edge term exactly 0
    # (round(bround(p*0, 9)*1e9) = 0), so p1 = bround(0.0 + coalesce(d,
    # 0.0), 9) — the same value the join loop produces for it = 0.
    # Each subsequent iteration is ONE Project per step, checkpointed
    # EVERY iteration: pm must be a scan attribute when the next step's
    # lambdas capture it — CollapseProject would otherwise inline the
    # previous map EXPRESSION into the fold lambda, and an expression
    # captured by a lambda re-evaluates per element (the r4 CDC-hoist
    # trap), which nests exponentially across iterations (measured: a
    # lazy 8-deep chain did not finish; per-iteration one-task
    # checkpoints of |rm| rows are ~50 ms jobs).
    cur = packed.select(
        "rm", "g",
        F.map_from_arrays(
            keys,
            F.transform(
                F.col("g"),
                lambda x: F.bround(F.coalesce(x["d"], F.lit(0.0)), 9),
            ),
        ).alias("pm"),
    ).coalesce(1).localCheckpoint(eager=True)
    for it in range(1, iters):
        cur = cur.select("rm", "g", step(F.col("pm")).alias("pm"))
        if (it + 1) < iters:
            cur = cur.localCheckpoint(eager=True)
    # final split, mirroring the join loop's out construction: the
    # start-state probability per variant, base row broadcast across
    # channel rows ((|channels|+1)-sized frames)
    sp = cur.select(
        "rm", F.element_at(F.col("pm"), F.lit(START)).alias("sp")
    ).localCheckpoint(eager=True)
    base = sp.where(F.col("rm") == "-").select(F.col("sp").alias("base_p"))
    return (
        sp.where(F.col("rm") != "-")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("rm").alias("channel"),
            "base_p",
            F.col("sp").alias("p_removed"),
            F.when(
                F.col("base_p") > 0,
                F.bround(
                    (F.col("base_p") - F.col("sp")) / F.col("base_p"), 9
                ),
            ).alias("removal_effect"),
        )
    )


def markov_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion: str = "purchase",
    iters: int = 16,
) -> DataFrame:
    """(channel, base_p, p_removed, removal_effect): data-driven
    multi-touch attribution via an absorbing Markov chain (Anderl et
    al., "Mapping the Customer Journey"): journeys become transition
    counts over states {(start), channels..., (conv), (null)}, the
    chain's conversion probability from (start) is solved by ``iters``
    truncated power iterations, and a channel's REMOVAL EFFECT is the
    relative drop in that probability when every transition INTO the
    channel is redirected to (null) — "how much conversion would we
    lose if this channel vanished", the credit that first/last/linear
    heuristics cannot see.

    Journey segmentation matches :func:`conversion_attribution` (touches
    since the previous conversion; the closing conversion — or its
    absence — decides the absorbing endpoint). All |channels|+1 chain
    variants (none-removed plus one per channel) are solved in ONE
    iteration loop by carrying the removal as a key column.

    Determinism discipline (the PageRank rules): transition
    probabilities are exact count ratios; each per-edge contribution
    ``P(s,t) * p(t)`` is half-even-quantized to 1e-9 BEFORE summation,
    summed as exact decimal(38,0) integers, and the updated probability
    re-quantizes to 1e-9 — every iteration's state is bit-identical on
    any partitioning and any engine. The DuckDB oracle replays the
    identical arithmetic through a recursive CTE with the removal as an
    extra grid dimension.

    Scale design (100 TB): the event stream is touched ONCE (the same
    windowed journey build as ``conversion_attribution``); everything
    iterative runs over the (|channels|+1) x |states|^2-bounded
    transition grid — model state, not data. Driver holds nothing but
    control flow.
    """
    from .dedup import free_blocks

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    START, CONV, NULL = "(start)", "(conv)", "(null)"
    okey = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
    w = Window.partitionBy(user_col).orderBy(okey)
    wu = Window.partitionBy(user_col)
    is_conv = F.col(type_col) == conversion
    # r14 optimization (guide §2.4/§1.2 — remove passes): the journey
    # build used to read the event window subtree TWICE (a touches ⋈
    # convs self-join to tag closing conversions) and then read the
    # joined frame twice more (a steps ∪ ends union) — four evaluations
    # of the corpus-sized window stack per run. A journey ``__j`` has a
    # closing conversion iff ``__j <= total conversions of the user``
    # (the k-th conversion closes journey k, so conv journeys are
    # exactly 1..K): that is ONE extra unordered window sum on the SAME
    # user partitioning — no join — and the per-touch step plus the
    # last-touch absorber emit from ONE pass as a 1-or-2 element
    # explode instead of a union. Identical transition multiset for any
    # input whose (ts, id) order key is unique per user — the total-
    # order assumption lag/lead already make — oracle-re-proved at
    # 3 SFs.
    e = events.select(
        user_col, ts_col, id_col, type_col,
        F.sum(is_conv.cast("long")).over(w).alias("__cc"),
        F.sum(is_conv.cast("long")).over(wu).alias("__nconv"),
    )
    touches = e.where(F.col(type_col) != conversion).select(
        user_col, type_col, ts_col, id_col, "__nconv",
        (F.col("__cc") + 1).alias("__j"),
    )
    # r15 optimization (guide §2.1 — remove the exchange outright): the
    # r14 form ran lag/lead over Window.partitionBy(user, __j), which
    # re-shuffled AND re-sorted the corpus-sized touch stream on a NEW
    # key — the plan's second-largest Exchange. But __j is a function of
    # the (user, okey) ordering the stream ALREADY has from the __cc
    # window: within a user, journeys are okey-contiguous runs of equal
    # __j. So lag/lead over the SAME (user, okey) window plus a
    # journey-boundary test on lag/lead(__j) produce the identical
    # prev/next-within-journey values — the Filter preserves the __cc
    # window's partitioning and sort order, so the second Window node
    # needs no exchange and no sort. Transition multiset unchanged for
    # any input whose (ts, id) order key is unique per user (the
    # assumption lag/lead already make); oracle-re-proved at 3 SFs.
    wt = Window.partitionBy(user_col).orderBy(okey)
    # one select, one shared spec -> ONE Window node (withColumn chains
    # interleave projections that block the CollapseWindow rule and
    # re-sort per column)
    seq = touches.select(
        "*",
        F.lag(type_col).over(wt).alias("__prev"),
        F.lag("__j").over(wt).alias("__pj"),
        F.lead("__j").over(wt).alias("__nj"),
    )
    frm = F.when(
        F.col("__pj") == F.col("__j"),
        F.coalesce(F.col("__prev"), F.lit(START)),
    ).otherwise(F.lit(START))
    # transitions: prev->cur for every touch (start for the first), and
    # cur->absorber for the last touch of the journey
    step = F.struct(frm.alias("f"), F.col(type_col).alias("t"))
    end = F.struct(
        F.col(type_col).alias("f"),
        F.when(F.col("__j") <= F.col("__nconv"), F.lit(CONV))
        .otherwise(F.lit(NULL))
        .alias("t"),
    )
    is_end = F.col("__nj").isNull() | (F.col("__nj") != F.col("__j"))
    counts = (
        seq.select(
            F.explode(
                F.when(is_end, F.array(step, end))
                .otherwise(F.array(step))
            ).alias("__e")
        )
        .select("__e.f", "__e.t")
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.groupBy("f").agg(F.sum("c").alias("n"))
    probs = counts.join(tot, "f").select(
        "f", "t", (F.col("c").cast("double") / F.col("n").cast("double")).alias("p")
    )
    channels = probs.select(F.col("f").alias("ch")).where(
        F.col("ch") != START
    ).distinct()
    rms = channels.select(F.col("ch").alias("rm")).unionByName(
        # one JVM literal row, not createDataFrame: the pickled-RDD form
        # puts a Python scan inside the grid checkpoint plan (r14)
        probs.sparkSession.range(1).select(F.lit("-").alias("rm"))
    )
    # removal rm: transitions INTO rm redirect to (null); re-aggregate
    grid = (
        probs.crossJoin(rms)
        .select(
            "rm", "f",
            F.when(F.col("t") == F.col("rm"), F.lit(NULL))
            .otherwise(F.col("t"))
            .alias("t"),
            "p",
        )
        .groupBy("rm", "f", "t")
        # r14 optimization (guide §2.1): everything from here on is
        # MODEL-sized ((|channels|+1) x |states|^2 rows). coalesce(1)
        # before each checkpoint makes the iteration state
        # SinglePartition, which satisfies every join/aggregation
        # distribution — each power iteration collapses from ~4
        # exchanges x 32 scheduled tasks to one single-task stage
        # (measured 162 jobs -> ~20 for iters=16). Values unchanged:
        # the per-edge contributions are 1e-9-quantized decimal sums,
        # partition-order-immune by the module contract.
        .agg(F.sum("p").alias("p"))
        .coalesce(1)
        .localCheckpoint(eager=True)
        # r15: re-assert SinglePartition over the checkpoint scan (it
        # reports UnknownPartitioning(0)) so the grouped aggregates
        # below run exchange-free. NOTE (r15 measurement): this does NOT
        # make the fallback JOIN loop exchange-free — Spark 4.1 inserts
        # Exchange hashpartitioning(..., 32) under SortMergeJoin even
        # when both children are SinglePartition (verified with a
        # minimal probe, AQE on and off) — which is why the small-model
        # path below leaves joins entirely.
        .coalesce(1)
    )
    # p(rm, state): conversion probability per non-absorbing state.
    # r15 optimization (guide §2.1/§5 — model state belongs in
    # expressions once it is model-sized): when the grid fits
    # _INPLAN_GRID_ROWS, the whole power iteration runs as nested
    # expressions over ONE packed row — each iteration is a pure
    # Project, which has NO required distribution, so the loop cannot
    # pay a single exchange or join. The r14 join loop was measured at
    # 51 jobs / ~7 s: Spark 4.1 inserts Exchange hashpartitioning under
    # SortMergeJoin even for SinglePartition children (minimal-probe
    # verified), so each of its iteration blocks paid several AQE
    # query-stage jobs. The in-plan form replays the IDENTICAL
    # arithmetic (per-edge bround 1e-9 quantization, exact
    # decimal(38,0) sums — order-immune by the module contract, so the
    # fold order of the packed arrays cannot matter) and is
    # oracle-re-proved hash-exact at 3 SFs. The grid count is one cheap
    # action over the checkpoint blocks just materialized.
    if grid.count() <= _INPLAN_GRID_ROWS:
        out = _markov_power_inplan(grid, iters, START, CONV, NULL)
        free_blocks(grid)
        return out
    # Large-model fallback: the r14 DataFrame join loop, checkpointed
    # every _MARKOV_CKPT_EVERY iterations (A/B'd in r14: per-iteration
    # checkpoints 8.2 s / 162 jobs, fully-lazy 16-deep join plan 11.7 s
    # of driver analysis, depth-4 blocks 8.1 s / 55 jobs). Values are
    # identical in both paths.
    states = grid.select("rm", F.col("f").alias("s")).distinct()
    p = states.select("rm", "s", F.lit(0.0).alias("p"))
    direct = grid.where(F.col("t") == CONV).select(
        "rm", F.col("f").alias("s"), F.col("p").alias("d")
    )
    trans = grid.where(~F.col("t").isin(CONV, NULL))
    for it in range(iters):
        contrib = F.round(F.bround(trans["p"] * F.col("pp"), 9) * F.lit(1e9)).cast(
            "decimal(38,0)"
        )
        acc = (
            trans.hint("merge")
            .join(
                p.select("rm", F.col("s").alias("t"), F.col("p").alias("pp")),
                ["rm", "t"],
            )
            .groupBy("rm", F.col("f").alias("s"))
            .agg(F.sum(contrib).alias("__q"))
        )
        new_p = (
            states.hint("merge")
            .join(acc, ["rm", "s"], "left")
            .hint("merge")
            .join(direct, ["rm", "s"], "left")
            .select(
                "rm", "s",
                F.bround(
                    F.coalesce(F.col("__q").cast("double") / F.lit(1e9), F.lit(0.0))
                    + F.coalesce("d", F.lit(0.0)),
                    9,
                ).alias("p"),
            )
        )
        p = new_p
        if (it + 1) % _MARKOV_CKPT_EVERY == 0 and (it + 1) < iters:
            # the trailing coalesce re-asserts SinglePartition over the
            # checkpoint scan (see the grid note above)
            p = p.coalesce(1).localCheckpoint(eager=True).coalesce(1)
    # final checkpoint: the base/removed split below reads p twice, and
    # this keeps that from re-running the tail of the recurrence
    p = p.localCheckpoint(eager=True)
    start_p = p.where(F.col("s") == START).select(
        "rm", F.col("p").alias("sp")
    )
    base = start_p.where(F.col("rm") == "-").select(
        F.col("sp").alias("base_p")
    )
    out = (
        start_p.where(F.col("rm") != "-")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("rm").alias("channel"),
            "base_p",
            F.col("sp").alias("p_removed"),
            F.when(
                F.col("base_p") > 0,
                F.bround(
                    (F.col("base_p") - F.col("sp")) / F.col("base_p"), 9
                ),
            ).alias("removal_effect"),
        )
    )
    free_blocks(grid)
    return out


def active_users(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    week: int = 7,
    month: int = 28,
) -> DataFrame:
    """(day, dau, wau, mau, stickiness): exact distinct active users per
    day and per trailing ``week``/``month``-day window, plus the
    DAU/MAU stickiness ratio — the canonical engagement rollup. Early
    days report their genuinely-partial windows (a day-3 WAU covers
    three days); trailing days never read past the corpus.

    Scale design (100 TB): the event stream collapses FIRST to the
    distinct (user, day) grid (one exact-distinct aggregation — the
    only corpus-sized shuffle); each grid row then explodes into the
    <= 1 + week + month future days it contributes to (a bounded
    constant multiplier over the GRID, not the events) and the per-day
    distinct counts aggregate over day-keyed partitions. No window
    functions, no per-day scans.

    ``stickiness`` is a pure int/int ratio — engine-exact unrounded.
    """
    if not 1 <= week <= month:
        raise ValueError(f"need 1 <= week <= month, got {week}, {month}")
    ud = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).cast("date").alias("d"),
        )
        .where(F.col("u").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    last_day = ud.agg(F.max("d").alias("m"))

    def contributions(w: int, name: str) -> DataFrame:
        days = F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), w - 1))
        ).alias("day")
        return (
            ud.select("u", days)
            .crossJoin(F.broadcast(last_day))
            .where(F.col("day") <= F.col("m"))
            .groupBy("day")
            .agg(F.count_distinct("u").alias(name))
        )

    dau = contributions(1, "dau")
    wau = contributions(week, "wau")
    mau = contributions(month, "mau")
    return (
        mau.join(wau, "day", "left")
        .join(dau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            "mau",
            (
                F.coalesce("dau", F.lit(0)).cast("double")
                / F.col("mau").cast("double")
            ).alias("stickiness"),
        )
    )


def conversion_latency(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion: str = "purchase",
) -> DataFrame:
    """(channel, n_conversions, p50_latency_s, p90_latency_s): how long
    journeys that STARTED on each channel take to convert — the latency
    complement of the attribution counts (a channel can win last-touch
    credit while initiating the slowest funnels). Latency = whole
    seconds from the journey's first touch to its closing conversion
    (``timestampdiff`` on naive timestamps — no epoch conversion, no
    session-timezone dependence); percentiles are exact interpolated
    quantiles over integer seconds, half-even-rounded to 1e-6 before
    comparison (the q_percentiles cross-engine discipline).

    Both endpoints are ``date_trunc``'d to whole seconds BEFORE the
    diff: engines disagree on sub-second boundaries (boundary-crossing
    counts vs truncated-microsecond division), but on whole-second
    stamps every definition yields the same integer.

    Journey segmentation is :func:`conversion_attribution`'s; journeys
    with no touches never appear (no first touch to measure from).

    Scale (100 TB): the same one-window journey build, then everything
    is (user, journey)- or |channels|-keyed; the percentile aggregation
    is one exact-percentile pass over the |conversions|-sized latency
    table, grouped on the bounded channel key.
    """
    okey = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
    w = Window.partitionBy(user_col).orderBy(okey)
    is_conv = F.col(type_col) == conversion
    e = events.select(
        user_col, ts_col, id_col, type_col,
        F.sum(is_conv.cast("long")).over(w).alias("__cc"),
    )
    touches = e.where(F.col(type_col) != conversion).select(
        user_col, type_col, ts_col, id_col, (F.col("__cc") + 1).alias("__j")
    )
    convs = e.where(is_conv).select(
        user_col, F.col("__cc").alias("__j"), F.col(ts_col).alias("__cts")
    )
    okey2 = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"))
    per_j = touches.groupBy(user_col, "__j").agg(
        F.min_by(type_col, okey2).alias("channel"),
        F.min(ts_col).alias("__fts"),
    )
    lat = per_j.join(convs, [user_col, "__j"]).select(
        "channel",
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', __fts),"
            " date_trunc('second', __cts))"
        ).alias("__s"),
    )
    return lat.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.bround(F.expr("percentile(__s, 0.5)"), 6).alias("p50_latency_s"),
        F.bround(F.expr("percentile(__s, 0.9)"), 6).alias("p90_latency_s"),
    )


def retention_decay(
    events: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """(cohort_week, n, slope, intercept): exponential retention decay
    per weekly cohort — the log-linear OLS fit of
    ``ln(retained / cohort_size)`` against week offset (offsets >= 1),
    whose slope is the weekly log-decay rate (half-life =
    ln 2 / -slope). Cohorts with fewer than two post-week points return
    NULL slope/intercept. The single scalar per cohort that "retention
    is improving" claims should be measured against, instead of
    eyeballing curve tails.

    Pure composition of two existing oracle-backed operators:
    :func:`cohort_retention` builds the (cohort, offset, users) grid,
    and ``trend.group_trend`` fits it with the X31 exact-sufficient-
    statistics discipline (ln ratios quantized to 1e-9 ticks per row
    BEFORE the exact decimal sums — merge-order-immune, the
    transcendental-output rule). Everything after the retention grid is
    |cohorts| x |weeks|-bounded.
    """
    from .trend import group_trend

    ret = cohort_retention(events, key_col, ts_col)
    base = ret.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("users").alias("__base")
    )
    pts = (
        ret.where(F.col("week_offset") >= 1)
        .join(base, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.log(
                F.col("users").cast("double") / F.col("__base").cast("double")
            ).alias("__lnr"),
        )
    )
    return group_trend(
        pts, "cohort_week", "week_offset", "__lnr", y_scale=10**9
    )

def rfm_scores(
    orders: DataFrame,
    customer_col: str,
    ts_col: str,
    value_col: str,
    nbins: int = 5,
) -> DataFrame:
    """(customer, recency_days, frequency, monetary, r_score, f_score,
    m_score, segment): the classic RFM customer segmentation — each
    dimension scored 1..nbins by exact within-corpus percentile bins
    (5 = most recent / most frequent / highest spend), ``segment`` the
    concatenated "RFM" digit string a campaign list filters on.

    Recency anchors at the CORPUS max timestamp (reproducible — "now"
    would change every run) and is scored on the NEGATED day count so
    high scores mean recent, matching the other two dimensions.

    Scoring uses broadcast percentile BOUNDS (the winsorize/PSI fence
    discipline: exact interpolated percentiles rounded half-even to
    1e-6, score = 1 + #bounds <= value) — never an ntile window over
    the customer table, which would single-partition the corpus'
    entity set. Ties at a bound score identically by construction.

    Scale: one aggregation to customer grain, one 1-row bounds
    aggregate per dimension (broadcast), one projection.
    """
    if nbins < 2:
        raise ValueError(f"nbins must be >= 2, got {nbins}")
    cents = F.round(F.col(value_col).cast("double") * 100).cast("long")
    per_cust = (
        orders.where(F.col(customer_col).isNotNull())
        .groupBy(F.col(customer_col).alias("customer"))
        .agg(
            F.max(F.col(ts_col).cast("date")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents).alias("__cents"),
        )
    )
    anchor = per_cust.agg(F.max("__last").alias("__anchor"))
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "customer",
        F.datediff("__anchor", "__last").cast("long").alias("recency_days"),
        "frequency",
        (F.col("__cents").cast("double") / 100.0).alias("monetary"),
    )
    probs = ", ".join(str(i / nbins) for i in range(1, nbins))

    def bounds_of(col: str):
        return base.agg(
            F.expr(
                f"transform(percentile({col}, array({probs})),"
                " b -> bround(b, 6))"
            ).alias(f"__b_{col}")
        )

    scored = (
        base.crossJoin(F.broadcast(bounds_of("recency_days")))
        .crossJoin(F.broadcast(bounds_of("frequency")))
        .crossJoin(F.broadcast(bounds_of("monetary")))
    )

    def score(col: str, invert: bool):
        v = F.col(col).cast("double")
        hits = F.size(
            F.filter(F.col(f"__b_{col}"), lambda b: v >= b)
        )
        s = 1 + hits
        # recency: small day counts are GOOD -> flip the bin index
        return (F.lit(nbins + 1) - s if invert else s).cast("long")

    r, fq, m = (
        score("recency_days", True),
        score("frequency", False),
        score("monetary", False),
    )
    return scored.select(
        "customer",
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_score"),
        fq.alias("f_score"),
        m.alias("m_score"),
        F.concat_ws(
            "",
            r.cast("string"),
            fq.cast("string"),
            m.cast("string"),
        ).alias("segment"),
    )
