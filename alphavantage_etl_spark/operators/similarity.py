"""Vector similarity search (X3): a brute-force baseline and exact,
oracle-checkable retrieval tiers.

Brute force: :func:`cosine_topk` scores the query against every vector via
native array expressions (functions.vectors) and ``ORDER BY sim DESC LIMIT
k`` — Catalyst plans that as TakeOrderedAndProject: each partition keeps a
k-heap, the driver merges heaps; no global sort ever materializes. At 100 TB
this is a full scan but a perfectly parallel one — the right baseline to
verify recall against. :func:`embedding_near_dups` is the pairwise twin:
cosine near-duplicate pairs within blocks (labels, or IVF cells trained by
:func:`train_ivf_cells` when no block column is given).

Retrieval tiers, each trained on the u6 integer grid so every model and
ranking replays exactly in DuckDB:

- exact IVF: :func:`kmeans_fit_quantized` cells, :func:`assign_cells_l2q`
  and :func:`ann_join` (candidates from shared cells, exact cosine rerank);
- PQ: :func:`pq_fit_exact` / :func:`pq_encode_exact` and integer-ADC
  :func:`ann_join_pq`;
- SQ8: :func:`sq8_fit` / :func:`sq8_encode` and :func:`ann_join_sq8`;
- BQ: :func:`bq_fit` / :func:`bq_index` and Hamming :func:`ann_join_bq`;
- :func:`topk_exact_rerank` turns any coded tier's shortlist into exact
  cosine top-k (``ann_join_sq8_rerank``, ``ann_join_bq_rerank``).

Persisted indexes: ``save_ivf_index`` / ``save_pq_index`` /
``save_bq_index`` write a model plus flat ``assignments/`` that the
``streaming.pipeline`` loaders serve (its index streams build the same
layout batch by batch); ``pq_index_delete`` / ``pq_index_compact``
tombstone and fold rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import away_round
from ..functions.vectors import (
    _render_lit,
    _sql_ref,
    cosine_similarity,
    dot,
    inline_rows_df,
    l2_norm,
    sql_array_lit,
)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float] | Column,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """ids + similarities of the k nearest vectors to ``query_vec``.

    Deterministic: ties broken by id. ``round_to`` (half-even) makes the
    score hash-comparable across engines whose fold order differs.
    """
    q = (
        sql_array_lit([float(x) for x in query_vec])
        if isinstance(query_vec, list)
        else query_vec
    )
    sim = cosine_similarity(F.col(vec_col), q)
    if round_to is not None:
        sim = F.bround(sim, round_to)
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    round_to: int | None = 6,
    target_cell_size: int = 1024,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks.

    ``dim`` (r14): the declared dimensionality, when the caller knows it.
    Unrolls the pairwise dot/norm into codegen'd straight-line arithmetic
    (``functions.vectors.dot``) — bit-identical, ~2-4x faster on the
    pair-heavy stage, with the HOF fallback preserving ragged-row
    semantics. The pair stage is the operator's dominant cost (sum of
    |cell|^2 dot products), so this is the guide §4.2 per-task-work fix.

    ``block_col`` is the coarse quantizer (IVF-style): only same-cell pairs
    are scored, so the self-join shuffles on the block key and the pair count
    is sum over cells of |cell|^2 instead of |D|^2. The cross-cell miss rate
    is the standard IVF recall trade-off; raise recall by probing
    neighboring cells (union of per-probe runs).

    ``block_col=None`` derives the cells AUTOMATICALLY with the cells-∝-N
    discipline (``train_ivf_cells(n_cells="auto")`` at ``target_cell_size``
    vectors per cell, then nearest-centroid assignment): a FIXED cell
    population under growing data makes the within-cell pairing quadratic
    (measured 8-15x wall at 10x data in PERF.md's negative controls), while
    cells ∝ N holds per-cell work flat. Pass an explicit column for
    natural blocking (labels, source shard) or a pre-assigned quantizer.

    Output: (id_a, id_b, sim), id_a < id_b, sim >= threshold (rounded
    half-even to ``round_to`` first so cross-engine hashes agree).
    """
    if block_col is None:
        n = df.count()
        cents = train_ivf_cells(
            df,
            n_cells=resolve_n_cells(n, target_cell_size),
            vec_col=vec_col,
            id_col=id_col,
        )
        df = _assign_cells(df, cents, vec_col)
        block_col = "__cell"
    # Norms are computed ONCE per vector here, not once per pair — the
    # pairwise stage then only pays for the dot product. The final
    # arithmetic (dot / (na * nb)) is unchanged, so results stay bit-equal
    # to the naive form (and to the oracle).
    sel = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        F.col(vec_col).alias("__v"),
        l2_norm(vec_col, dim).alias("__n"),
    )
    # r15 (guide §2.2 — AQE coalesces by BYTES, this stage costs CPU):
    # the pair stage's input is a few MB, so AQE's post-shuffle
    # coalescing merged the block shuffle down to ~2 partitions and ran
    # the sum-of-|cell|^2 dot products nearly serially (measured: a
    # 2-task 1.9 s stage inside q_negative_samples). An explicit-N
    # repartition (REPARTITION_BY_NUM is never AQE-coalesced) pins the
    # pair stage at the session's shuffle width — the same width the
    # exchange would have had at data scale, from conf, never a local
    # constant. Both self-join sides read the one repartitioned frame,
    # so exchange reuse keeps it a single shuffle.
    par = int(sel.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sel = sel.repartition(par, "__blk")
    a, b = sel.alias("a"), sel.alias("b")
    na, nb = F.col("a.__n"), F.col("b.__n")
    sim = F.when(
        (na > 0) & (nb > 0),
        dot("a.__v", "b.__v", dim) / (na * nb),
    )
    if round_to is not None:
        sim = F.bround(sim, round_to)
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            sim.alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label, per-dimension centroid and population variance of an
    embedding column: (label, dim, n, centroid, variance).

    The aggregation half of vector analytics — class centroids (IVF seed
    quality, per-domain embedding drift, cluster dispersion audits).

    Bit-exact across engines by the integer-quantization contract used for
    all multi-term float sums in this repo (queries.py module docstring):
    each component is quantized to micro-units (round(x·10⁶) as BIGINT),
    summed EXACTLY as integers (immune to partial-agg merge order), and
    converted back by one double division; variance follows as the fixed
    IEEE expression ssq/(n·10¹²) − centroid² — every op deterministic given
    identical integer inputs. Bounds: each squared term u6² must fit a
    BIGINT, which holds for |x| ≤ ~3·10³ (u6² < 2⁶³); the SUMS are carried
    as decimal(38,0) — the repo's exact-sum pattern — so neither ssq
    (≤ n·10¹⁸, fine to n ≈ 10²⁰ rows per (label, dim) group) nor s can
    overflow at any realistic scale. (The r2 version summed ssq as BIGINT,
    which overflows after ~9 unit-norm·10³-magnitude rows — ANSI failure
    or silent wrap at scale.)

    Shape at 100 TB: posexplode fans each vector into dim rows that
    immediately partial-aggregate map-side — the shuffle carries at most
    |labels| × dim aggregate rows per task, never the exploded data.
    """
    u6 = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    exploded = df.select(
        F.col(label_col).alias("label"), F.posexplode(u6).alias("dim", "__u6")
    )
    agg = exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__u6").cast("decimal(38,0)")).alias("__s"),
        F.sum((F.col("__u6") * F.col("__u6")).cast("decimal(38,0)")).alias(
            "__ssq"
        ),
    )
    centroid = F.col("__s").cast("double") / (F.col("n") * F.lit(1_000_000))
    variance = (
        F.col("__ssq").cast("double") / (F.col("n") * F.lit(1_000_000_000_000))
        - centroid * centroid
    )
    return agg.select(
        "label", "dim", "n",
        centroid.alias("centroid"), variance.alias("variance"),
    )


def resolve_n_cells(
    n_rows: int, target_cell_size: int = 1024, max_cells: int = 1 << 20
) -> int:
    """The cells-∝-N discipline as code: cell count that keeps the
    expected cell population at ``target_cell_size`` vectors as the
    corpus grows, so within-cell pairwise work stays flat instead of
    quadratic (PERF.md's fixed-cells negative controls measured 8-15x
    wall at 10x data — this is the mitigation users get without reading
    PERF.md). ``max_cells`` bounds the driver-side centroid model state.
    """
    if target_cell_size < 1:
        raise ValueError(f"target_cell_size must be >= 1, got {target_cell_size}")
    return max(1, min(max_cells, -(-n_rows // target_cell_size)))


def train_ivf_cells(
    df: DataFrame,
    n_cells: int | str = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_cell_size: int = 1024,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: k-means centroids via Lloyd
    iterations expressed as DataFrame ops.

    The centroids themselves are MODEL STATE — n_cells x dim floats — and
    live driver-side between iterations (the same shape MLlib uses); the
    per-vector work (assignment, partial sums) is fully distributed. Init
    is a deterministic hash-ordered sample, so training is reproducible.

    ``n_cells="auto"`` applies the cells-∝-N discipline
    (:func:`resolve_n_cells` at ``target_cell_size``): one ``count()``
    action, then cells grow with the corpus instead of staying fixed —
    the measured difference between flat and quadratic scaling in
    PERF.md. An explicit integer keeps the fixed-cells behavior for
    callers that manage the trade themselves.

    Scale: each iteration is one broadcast join (centroid literals) + one
    partial-aggregated groupBy on cell id. For 1B vectors x 16 iterations
    that is 16 scans — amortized by training on a sample, which this
    accepts via ``df`` being any (sampled) frame.
    """
    if n_cells == "auto":
        n_cells = resolve_n_cells(df.count(), target_cell_size)
    elif not isinstance(n_cells, int):
        raise ValueError(f"n_cells must be an int or 'auto', got {n_cells!r}")
    centroids = [
        list(r[vec_col])
        for r in df.select(vec_col, id_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_cells)
        .collect()
    ]
    for _ in range(iters):
        assigned = _assign_cells(df, centroids, vec_col)
        dim = len(centroids[0])
        sums = assigned.groupBy("__cell").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"__s{i}")
                for i in range(dim)
            ],
        )
        new = {
            int(r["__cell"]): [r[f"__s{i}"] / r["__n"] for i in range(dim)]
            for r in sums.collect()
        }
        # empty cells keep their previous centroid
        centroids = [new.get(c, centroids[c]) for c in range(len(centroids))]
    return centroids


# Upper bound on n_cells * dim for the literal-inlined centroid array in
# _assign_cells. Each float literal becomes Catalyst expression-tree and
# generated-Java code; past ~10^4 literals the codegen method approaches
# the JVM's 64KB bytecode-per-method limit and analysis time balloons.
# Above the bound the centroids travel as DATA through one broadcast
# single-row join instead — identical arithmetic, bit-identical cells.
_INLINE_MAX_LITERALS = 8192


def _assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    inline_max: int = _INLINE_MAX_LITERALS,
) -> DataFrame:
    """Nearest-centroid (cosine) assignment as a single projection.

    The centroids are model state (n_cells x dim floats) and the argmax is
    ``array_max`` over per-centroid (sim, -cell) structs. Assignment is a
    narrow map — NO data shuffle, no keyed join — and duplicate rows keep
    their multiplicity (the previous broadcast-join + groupBy-all-columns
    form shuffled the full embedding array as part of the grouping key and
    silently merged identical rows). Ties and zero vectors break to the
    lowest cell id, deterministically.

    Small models (n_cells * dim <= ``inline_max``) inline as a literal
    ``array<struct<cell, cvec>>``; larger ones — the cells-∝-N discipline
    at the 10^5-cells x high-dim extreme — ride a broadcast ONE-ROW cross
    join so the array arrives as data, not generated code (the JVM's
    64KB-per-method codegen limit). Both paths evaluate the identical
    expression over the identical array value, so assignments are
    bit-identical (pinned by test).

    NOT spread_scan'd (functions/parallelism.py): at fixture scale the
    per-row n_cells-dot-product cost is small and the assignment
    output usually shuffles right after (cell groupBy), so the extra
    repartition measured neutral-to-negative (semantic_dedup
    3.9 -> 5.0 s); at cluster scale the input is already wide.
    """
    if len(centroids) * len(centroids[0]) <= inline_max:
        cents = F.array(
            *[
                F.struct(
                    F.lit(i).alias("cell"),
                    sql_array_lit([float(x) for x in c]).alias("cvec"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        carrier = df
    else:
        spark = df.sparkSession
        cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        cent_df = spark.createDataFrame(
            [(cent_rows,)],
            "__cents array<struct<cell: int, cvec: array<double>>>",
        )
        carrier = df.crossJoin(F.broadcast(cent_df))
        cents = F.col("__cents")
    scored = F.transform(
        cents,
        lambda s: F.struct(
            F.coalesce(
                cosine_similarity(F.col(vec_col), s["cvec"]), F.lit(-2.0)
            ).alias("sim"),
            (-s["cell"]).alias("neg_cell"),
        ),
    )
    best = F.array_max(scored)
    out = carrier.withColumn("__cell", (-best["neg_cell"]).cast("int"))
    if carrier is not df:
        out = out.drop("__cents")
    return out


def _cell_scores(
    vec: Column,
    norm: Column,
    centroids: list[list[float]],
    round_to: int | None,
) -> Column:
    """array<struct<sim, neg_cell>> of ROUNDED cosine scores against every
    centroid — the shared scoring for :func:`ann_join`'s two sides.
    Rounding (half-even) happens BEFORE any argmax/top-n so near-ties
    quantize to exact ties broken by cell id identically in any engine
    (the cross-engine determinism discipline of cosine_topk, applied to
    cell ASSIGNMENT, where an unrounded quotient can order differently
    per fold order). Zero/NULL vectors coalesce to -2.0 (below any
    cosine) so they deterministically land in the lowest cell.

    ``norm`` is the caller's PRE-PROJECTED l2 norm COLUMN: expressions a
    ``transform`` lambda captures re-evaluate per element (the r4 CDC
    lesson), so an inline norm fold would run |cells| times per row.
    Build shape matters too: the centroid matrix rides ONE nested
    ``F.lit`` and the per-centroid loop is ONE ``transform`` over cell
    indices — the first cut built 8x64 per-element ``F.lit`` calls plus
    a cosine fold per centroid and spent a measured ~3-5 s of pure
    DRIVER py4j time constructing the plan before any execution.
    Centroid norms are exact Python-side floats (model state, like the
    centroids themselves)."""
    import math

    cvecs = sql_array_lit([[float(x) for x in c] for c in centroids])
    cnorms = [math.sqrt(math.fsum(float(x) * float(x) for x in c)) for c in centroids]
    cn = sql_array_lit(cnorms)
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))

    def score(i: Column) -> Column:
        cvec = F.element_at(cvecs, i + 1)
        cnorm = F.element_at(cn, i + 1)
        sim = F.when((norm > 0) & (cnorm > 0), dot(vec, cvec) / (norm * cnorm))
        if round_to is not None:
            sim = F.bround(sim, round_to)
        return F.struct(
            F.coalesce(sim, F.lit(-2.0)).alias("sim"),
            (-i).alias("neg_cell"),
        )

    return F.transform(idx, score)


def _u6_quantized(vec_col: str) -> Column:
    """The engine-wide u6 vector quantization (``round(x * 1e6)`` as
    long, per component) — ONE definition shared by quantizer training
    (:func:`kmeans_fit_quantized`) and serving
    (:func:`assign_cells_l2q`): X146's correctness rests on both sides
    using the IDENTICAL exact metric, so the quantization must not be
    able to drift between copies."""
    return F.expr(
        f"transform({_sql_ref(vec_col)}, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
    )


def _l2q_scored(q6_col: str, cents6: list[list[int]]) -> Column:
    """``array<struct<d2, cell>>`` of EXACT integer squared-L2 scores
    of a projected u6 column against every quantized centroid — the
    shared train/serve scoring for the same reason as
    :func:`_u6_quantized`. ``q6_col`` must name a projected COLUMN, not
    an expression (a captured expression re-evaluates per element —
    the CDC bounds-hoist rule)."""
    # ONE SQL string, literal matrix included (the sql_array_lit form):
    # this expression is rebuilt at every plan construction — fit loops
    # once per iteration, serving once per request — and building the
    # lambdas through the Python HOF API costs one py4j round trip per
    # node
    cmat = _render_lit([[int(v) for v in c] for c in cents6])
    return F.expr(
        f"transform({cmat}, (c, i) -> struct(aggregate(zip_with("
        f"{_sql_ref(q6_col)}, c, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, x) -> acc + x) AS d2, i AS cell))"
    )


def assign_cells_l2q(
    df: DataFrame,
    cents6: list[list[int]],
    n_probe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, __cell)`` assignment by EXACT integer squared-L2 over
    1e-6-quantized vectors — the :func:`kmeans_fit_quantized` metric
    applied at serving time, so a learned quantizer's assignments are
    bit-identical across engines (the cosine scoring of
    :func:`_cell_scores` cannot be: its centroid norms are Python
    ``fsum`` floats no SQL engine replays). ``n_probe > 1`` explodes
    each row to its n nearest cells by (d2 asc, cell asc) — the
    query-side probe list for :func:`ann_join`'s ``query_cells`` path.
    Rows with NULL vectors, NULL components, or a dimensionality other
    than the centroids' are dropped (unquantizable — the
    kmeans_fit_quantized rule). One narrow projection; no shuffle."""
    if not cents6:
        raise ValueError("cents6 must be non-empty")
    if not 1 <= n_probe <= len(cents6):
        raise ValueError(
            f"n_probe must be in [1, {len(cents6)}], got {n_probe}"
        )
    dim = len(cents6[0])
    if any(len(c) != dim for c in cents6):
        # a ragged centroid would zip_with to NULL d2 and sort
        # nondeterministically instead of failing loudly
        raise ValueError(
            "assign_cells_l2q: cents6 rows disagree on dimensionality"
        )
    base = _q6_base(df, dim, vec_col, id_col)
    scored = _l2q_scored("__q6", cents6)
    probes = F.slice(F.sort_array(scored), 1, n_probe)
    return base.select(
        F.col("__id").alias(id_col), F.explode(probes).alias("__p")
    ).select(id_col, F.col("__p")["cell"].cast("int").alias("__cell"))


def ann_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    centroids: list[list[float]] | None = None,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
    corpus_cells: DataFrame | None = None,
    query_cells: DataFrame | None = None,
    corpus_multi_cell: bool = False,
    materialized_cells: bool | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Cross-table ANN retrieval join — the batch-retrieval building
    block the self-join k-NN graph does not cover: every QUERY vector
    probes the CORPUS's IVF index (its ``n_probe`` nearest cells),
    candidates come from shared cells only, and an EXACT cosine rerank
    on the candidates yields per-query top-``k``. Returns
    ``(query_id, corpus_id, sim, rank)``, rank 1..k by (sim desc,
    corpus_id) — ties and scores deterministic via ``round_to``.

    Scale shape (the reason this is not a per-query top-k in a loop):
    the corpus — the 100 TB side — crosses exactly ONE equi-join on the
    cell id against the exploded query×probe frame (|Q| × n_probe
    rows; the planner broadcasts it from stats, unhinted per the
    engine's no-forced-broadcast rule), so the corpus is never
    shuffled; the rerank then touches only candidate rows (≈ |Q| ×
    n_probe × cell_size with cells-∝-N sizing), and the final top-k
    window shuffles candidates alone on the query id. Recall is the
    IVF trade, tuned by ``n_probe`` without changing the plan; a hot
    cell skews the candidate join — resize with cells-∝-N
    (:func:`resolve_n_cells`) before reaching for salting.

    ``corpus_cells`` (an ``(id_col, __cell)`` frame from
    :func:`build_ivf_index` / :func:`load_ivf_index`) skips the
    per-run corpus re-assignment — the persisted-index path, the
    minhash signature-table precedent applied to IVF: at ingest the
    assignment is computed once and every later query batch joins
    against the stored cells. A bare ``(id, cell)`` frame costs one
    id-keyed join to reunite with the vectors — fine when both sides
    are bucketed or the index is broadcastable, a corpus-sized shuffle
    otherwise; the 100 TB layout is the MATERIALIZED form: pass a
    ``corpus_cells`` frame that CARRIES ``vec_col`` (the assignment
    stored as a column of the vector table at ingest) and the id join
    is skipped entirely — one scan, and the cell id becomes a
    partition-pruning candidate. CONTRACT (materialized form): the
    carrying frame IS the corpus — ``corpus_df`` is ignored entirely,
    including any filter on it. A caller holding a FULL-table
    materialized index and a FILTERED ``corpus_df`` would silently
    retrieve rows outside the intended corpus (on a self-split, even
    the query rows); apply the filter to the carrying frame itself.
    ``materialized_cells`` pins the intent explicitly: ``True``
    requires the frame to carry ``vec_col`` (raises otherwise),
    ``False`` forces the id join even when a vector column is present
    (e.g. the stored frame happens to carry extra columns), and the
    default ``None`` infers from the frame's columns — convenient, but
    an accidental ``vec_col`` column flips the semantics, so
    production callers should pass the flag. CONTRACT: the frame must
    assign each
    corpus id to exactly ONE cell (the argmin contract every in-engine
    builder honors). A replicated index — a corpus id stored in
    several cells, e.g. :func:`assign_cells_l2q` with corpus-side
    ``n_probe > 1`` — duplicates a ``(query_id, corpus_id)`` candidate
    whenever a query probes two of its cells, and since the top-k
    window breaks ties on ``corpus_id`` alone the duplicate would
    occupy TWO ranks. Pass ``corpus_multi_cell=True`` for such
    frames: candidates are collapsed to one row per pair (exact — the
    duplicates carry the identical sim, computed from the same two
    vectors) via a map-side-combinable max before ranking. Off by
    default because the collapse is one extra candidate-only shuffle
    the single-cell path should not pay.

    ``query_cells`` (an exploded ``(id_col, __cell)`` probe frame, one
    row per (query, probed cell) — e.g. :func:`assign_cells_l2q` with
    its own ``n_probe``; this function's ``n_probe`` argument is
    encoded in the frame and unused) replaces the cosine probe
    computation the same way: bring-your-own-quantizer. It REQUIRES
    ``corpus_cells`` from the same quantizer and ``centroids=None`` —
    mixing an external probe frame with centroid scoring would put two
    different partitionings on one cell key and silently degrade
    retrieval, so the combination raises. The quantizer's arithmetic
    is whatever produced the frames (the X146 learned-k-means path
    uses exact integer L2 so the whole retrieval is
    oracle-replayable).

    Zero/NULL-norm rows: cosine is undefined, so such QUERY rows rank
    nothing meaningful and such CORPUS rows are unrankable — both are
    dropped UPSTREAM of the join (a per-row norm check, far cheaper
    than letting a NULL-sim filter fold the whole rerank expression
    into the join condition where it would evaluate twice). Each side's
    norm is PROJECTED ONCE and reused by the filter, every cell score,
    and the rerank — never re-folded per centroid or per candidate."""
    if query_cells is not None and centroids is not None:
        # no legitimate combination: with query probes from an external
        # quantizer, centroids could only assign the CORPUS by a
        # DIFFERENT metric — two partitionings on one cell key silently
        # degrades retrieval instead of erroring
        raise ValueError(
            "ann_join: query_cells and centroids are mutually exclusive "
            "— cell frames and centroid scoring are different "
            "quantizers; pass corpus_cells from the same quantizer as "
            "query_cells (n_probe is encoded in the query_cells frame)"
        )
    if centroids is None:
        if corpus_cells is None or query_cells is None:
            raise ValueError(
                "ann_join: centroids may be omitted only when BOTH "
                "corpus_cells and query_cells are supplied (the "
                "bring-your-own-quantizer path)"
            )
    else:
        if not centroids:
            raise ValueError("centroids must be non-empty")
        if not 1 <= n_probe <= len(centroids):
            raise ValueError(
                f"n_probe must be in [1, {len(centroids)}], got {n_probe}"
            )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if corpus_multi_cell and corpus_cells is None:
        raise ValueError(
            "ann_join: corpus_multi_cell=True is meaningless without "
            "corpus_cells — the in-engine centroid assignment is argmin "
            "(one cell per corpus id) by construction"
        )
    if materialized_cells is not None and corpus_cells is None:
        raise ValueError(
            "ann_join: materialized_cells is meaningless without "
            "corpus_cells"
        )
    if materialized_cells and vec_col not in (corpus_cells.columns):
        raise ValueError(
            f"ann_join: materialized_cells=True but corpus_cells does "
            f"not carry {vec_col!r} — pass the vector-carrying index "
            "frame, or use the bare (id, cell) form"
        )
    from pyspark.sql import Window

    q0 = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col, dim).alias("__qn"),
    ).where(F.col("__qn") > 0)
    if query_cells is not None:
        q = None  # joined per-candidate below — see the cand branch
    else:
        q = q0.select(
            "query_id",
            "__qvec",
            "__qn",
            F.slice(
                F.sort_array(
                    _cell_scores(
                        F.col("__qvec"), F.col("__qn"), centroids, round_to
                    ),
                    asc=False,
                ),
                1,
                n_probe,
            ).alias("__probes"),
        ).select(
            "query_id", "__qvec", "__qn", F.explode("__probes").alias("__p")
        ).select(
            "query_id",
            "__qvec",
            "__qn",
            (-F.col("__p")["neg_cell"]).cast("int").alias("__cell"),
        )
    if corpus_cells is not None:
        use_materialized = (
            materialized_cells
            if materialized_cells is not None
            else vec_col in corpus_cells.columns
        )
        if use_materialized:
            # MATERIALIZED index: the assignment stored WITH the
            # vectors — one scan, the id join below never happens, and
            # corpus_df is IGNORED (docstring CONTRACT). This is the
            # 100 TB layout: a separate (id, cell) table costs a
            # corpus-sized id-keyed join to reunite with the vectors
            # unless both are bucketed; storing the cell as a column of
            # the vector table at ingest removes the join entirely (and
            # makes the cell id a partition-pruning candidate for
            # single-cell probes)
            c0 = corpus_cells
        else:
            # prune to the (id, cell) pair before the join: a stored
            # frame may carry extra columns (including vec_col when
            # materialized_cells=False overrides the inference), which
            # would collide with corpus_df's
            c0 = corpus_df.join(
                corpus_cells.select(id_col, "__cell"), on=id_col, how="inner"
            )
        c = c0.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("__cvec"),
            l2_norm(vec_col, dim).alias("__cn"),
            F.col("__cell").cast("int").alias("__cell"),
        ).where(F.col("__cn") > 0)
    else:
        c = corpus_df.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).alias("__cvec"),
            l2_norm(vec_col, dim).alias("__cn"),
        ).where(F.col("__cn") > 0)
        best = F.array_max(
            _cell_scores(F.col("__cvec"), F.col("__cn"), centroids, round_to)
        )
        c = c.withColumn("__cell", (-best["neg_cell"]).cast("int"))
    sim = dot("__qvec", "__cvec", dim) / (F.col("__qn") * F.col("__cn"))
    if round_to is not None:
        sim = F.bround(sim, round_to)
    if query_cells is not None:
        # JOIN ORDER is the plan property here: the bare probe frame
        # (scan + projection — the planner can SIZE it) joins the
        # corpus side on the cell key first, then the candidate rows
        # attach their query vectors by id. Pre-joining vectors onto
        # the probes would make the cell join's build side a JOIN
        # OUTPUT with no size estimate — the initial plan picks
        # SortMergeJoin and the corpus side's shuffle map stage
        # materializes before AQE can convert (a full corpus write).
        # Both joins here broadcast STATICALLY from scan stats, no
        # forced hint, corpus never exchanges — the X137 property.
        qcells = query_cells.select(
            F.col(id_col).alias("query_id"),
            F.col("__cell").cast("int").alias("__cell"),
        )
        cand = (
            c.join(qcells, on="__cell", how="inner")
            .join(q0, on="query_id", how="inner")
            .select("query_id", "corpus_id", sim.alias("sim"))
        )
    else:
        cand = c.join(q, on="__cell", how="inner").select(
            "query_id", "corpus_id", sim.alias("sim")
        )
    if corpus_multi_cell:
        # exact collapse: duplicates of a pair carry the identical sim
        # (same two vectors), so max() is a no-op on values and the
        # shuffle partial-aggregates map-side
        cand = cand.groupBy("query_id", "corpus_id").agg(
            F.max("sim").alias("sim")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.col("corpus_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", "rank")
    )


def ann_join_filtered(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    predicate: Column | str,
    **ann_kwargs,
) -> DataFrame:
    """Filtered ANN retrieval (X165) — per-query top-``k`` among the
    corpus rows satisfying a metadata ``predicate`` (a Column or SQL
    string over the corpus side's columns): the vector-database
    "filtered search" primitive a curation pipeline needs constantly
    ("nearest neighbors among docs with lang='en' / license=permissive
    / ts < cutoff").

    Semantics are PRE-FILTER: ineligible rows are removed BEFORE the
    cell join, so the k results are exactly the top-k of the eligible
    subset within the probed cells — never a post-filtered top-k whose
    result count silently shrinks below k when neighbors fail the
    predicate (the overfetch-and-hope failure mode). The trade is the
    standard one: under heavy filtering a probed cell may hold few
    eligible rows — raise ``n_probe``, not ``k``.

    Scale shape: filtering the corpus side FIRST is also the plan
    property — the predicate lands below the cell equi-join, and when
    the corpus side is a STORED materialized index (an assignments
    table carrying vectors + metadata, the 100 TB layout), Catalyst
    pushes it into the parquet scan itself (``PushedFilters`` —
    pinned by test), so a selective filter prunes row groups before a
    single byte of vector data is read. Routing follows
    :func:`ann_join`'s index modes: with a MATERIALIZED
    ``corpus_cells`` (the carrying frame IS the corpus) the predicate
    applies to that frame; in every other mode it applies to
    ``corpus_df``. For the compressed tiers, filter the loaded coded
    index the same way and pass it to :func:`ann_join_pq` /
    :func:`ann_join_sq8` — their corpus side is the (coded) index
    frame itself, no routing needed."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    corpus_cells = ann_kwargs.get("corpus_cells")
    vec_col = ann_kwargs.get("vec_col", "embedding")
    materialized = ann_kwargs.get("materialized_cells")
    use_materialized = corpus_cells is not None and (
        materialized
        if materialized is not None
        else vec_col in corpus_cells.columns
    )
    if use_materialized:
        ann_kwargs = dict(ann_kwargs, corpus_cells=corpus_cells.where(pred))
    else:
        corpus_df = corpus_df.where(pred)
    return ann_join(queries_df, corpus_df, k, **ann_kwargs)


def _annotate_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """``df`` plus its ``__cell`` assignment under the ROUNDED scoring
    (argmax sim, ties to lowest cell) — the :func:`ann_join` twin of
    :func:`_assign_cells` (which scores unrounded for the pure-Spark
    paths where cross-engine tie parity is not needed). Zero-norm rows
    keep the deterministic lowest cell (callers that must drop them
    filter on their own norm column, as :func:`ann_join` does)."""
    tmp = df.withColumn("__cs_norm", l2_norm(F.col(vec_col)))
    best = F.array_max(
        _cell_scores(F.col(vec_col), F.col("__cs_norm"), centroids, round_to)
    )
    return tmp.withColumn("__cell", (-best["neg_cell"]).cast("int")).drop(
        "__cs_norm"
    )


# The widest dimensionality the WIDE exact k-means plan serves: its
# update aggregate is ``dim`` sum columns and its centroid matrix an
# ``n_cells x dim`` plan literal, so the PLAN grows with dim. Fits past
# it take the narrow form (:func:`_lloyd_iterate_narrow`); quantizers
# (cents6) and PQ subspaces that serving scores as literals must stay
# within it.
_WIDE_MAX_DIM = 256


def _kmeans_init(
    frame: DataFrame, k: int, who: str, what: str
) -> list[list[int]]:
    """The exact k-means init: the ``__q6`` of the ``k`` rows with the
    smallest ``(__id, __q6)`` (trivially replayed in SQL; the vector
    breaks duplicate-id ties so init stays deterministic even with
    duplicate ids). Fewer than ``k`` rows raise."""
    rows = frame.orderBy("__id", "__q6").limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"{who}: {len(rows)} usable vectors < {what}={k}")
    return [list(r["__q6"]) for r in rows]


def _cell_sums(assigned: DataFrame, dim: int) -> DataFrame:
    """The WIDE cell-sum aggregate of ``(__q6, __cell)`` rows: one
    ``(cell, n, sums)`` row per non-empty cell with ``sums[d]`` the
    exact integer component sum — ``dim`` explicit sum columns, one
    map-side-combinable groupBy. The per-iteration update of
    :func:`_lloyd_iterate` and the mergeable :func:`kmeans_state`."""
    return (
        assigned.groupBy("__cell")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.element_at(F.col("__q6"), i + 1)).alias(f"__s{i}")
                for i in range(dim)
            ],
        )
        .select(
            F.col("__cell").cast("int").alias("cell"),
            F.col("__n").cast("long").alias("n"),
            F.array(*[F.col(f"__s{i}") for i in range(dim)]).alias("sums"),
        )
    )


def _refit(cents: list[list[int]], stats) -> list[list[int]]:
    """The exact Lloyd refit: each ``(cell, n, sums)`` with ``n > 0``
    moves to its mean re-quantized with away-from-zero rounding (the
    Spark/DuckDB ``round(double)`` rule); every other cell keeps its
    centroid."""
    new = [list(c) for c in cents]
    for c, n, sums in stats:
        if n > 0:
            new[c] = [away_round(int(s) / n) for s in sums]
    return new


def _lloyd_iterate(
    base: DataFrame, cents: list[list[int]], iters: int, dim: int
) -> list[list[int]]:
    """``iters`` rounds of the WIDE exact quantized Lloyd update over a
    pre-quantized ``__q6`` frame — the update form of
    :func:`_exact_kmeans` up to ``_WIDE_MAX_DIM``. Each round: ONE
    narrow scan with the centroid matrix as a single nested literal, the
    :func:`_cell_sums` aggregate on the argmin cell, an O(|cents|)
    collect and the :func:`_refit`."""
    for _ in range(iters):
        best = F.array_min(_l2q_scored("__q6", cents))
        rows = _cell_sums(
            base.select("__q6", best["cell"].alias("__cell")), dim
        ).collect()
        cents = _refit(cents, rows)
    return cents


def _cents6_frame(spark, cents6: list[list[int]]) -> DataFrame:
    """The centroid matrix as a ONE-ROW ``(__cents array<array<long>>)``
    frame — the joined-matrix carrier of the narrow (high-dim) fit
    path. A single-row local relation cross-joins as a
    BroadcastNestedLoopJoin straight from stats (no hint — the engine's
    no-forced-broadcast rule), so the matrix reaches every task without
    entering the PLAN as a literal: plan width stays constant at any
    dimensionality, which is the entire point past ``_WIDE_MAX_DIM``."""
    # range(1)+literal, not createDataFrame (r14): the pickled-RDD local
    # relation launches a Python worker inside every stage that scans it
    # — once per Lloyd iteration in the narrow fit
    return spark.range(1).select(
        sql_array_lit([[int(v) for v in c] for c in cents6]).alias("__cents")
    )


def _l2q_scored_attr(q6_attr: Column, cents_attr: Column) -> Column:
    """:func:`_l2q_scored` with the centroid matrix as a COLUMN (joined
    from a :func:`_cents6_frame` row) instead of a plan literal — the
    identical exact integer squared-L2 arithmetic, constant expression
    size at any dim. Both attrs must be projected COLUMNS (the
    CDC bounds-hoist rule). ``named_struct``, not ``struct`` with
    aliases: when the matrix is a non-foldable column the analyzer
    drops lambda-internal aliases (fields come out ``col1``/``y_N``)
    and the caller's ``["cell"]`` extraction fails — a literal-matrix
    transform keeps them, which is why :func:`_l2q_scored` never hit
    this."""
    return F.transform(
        cents_attr,
        lambda c, i: F.named_struct(
            F.lit("d2"),
            F.aggregate(
                F.zip_with(q6_attr, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.lit("cell"),
            i,
        ),
    )


def _narrow_update_agg(
    base: DataFrame, cents: list[list[int]]
) -> DataFrame:
    """One narrow Lloyd update aggregate: ``(__cell, __d, __n, __s)``
    — exact member count and integer component sums per (cell, dim
    index) of the argmin assignment of ``base``'s ``__q6`` rows under
    ``cents``. PLACEMENT MATTERS: the argmin rides a one-element
    ``inline()`` generator, NOT a plain projection next to
    ``posexplode`` — Catalyst places sibling projections ABOVE a
    Generate, which would re-evaluate the whole scoring expression per
    EXPLODED row: ×dim redundant work and allocation (measured: OOMs a
    1 GiB heap on 500 rows at dim 512). A generator INPUT is evaluated
    once per input row, and generators never merge, so the score is
    computed exactly once and the second Generate only explodes the
    carried array. Exposed for the plan-pin test."""
    best = F.array_min(_l2q_scored_attr(F.col("__q6"), F.col("__cents")))
    assigned = base.crossJoin(
        _cents6_frame(base.sparkSession, cents)
    ).select(
        F.inline(
            F.array(
                F.struct(
                    best["cell"].alias("__cell"),
                    F.col("__q6").alias("__v"),
                )
            )
        )
    )
    return (
        assigned.select("__cell", F.posexplode("__v").alias("__d", "__x"))
        .groupBy("__cell", "__d")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__x").alias("__s"))
    )


def _lloyd_iterate_narrow(
    base: DataFrame, cents: list[list[int]], iters: int, dim: int
) -> list[list[int]]:
    """The posexplode NARROW twin of :func:`_lloyd_iterate` for
    past-the-ceiling dims (the r12 verdict's missing capability): the
    same exact integer Lloyd update — bit-identical results — with both
    plan-width growth vectors removed. Per round: the centroid matrix
    rides a one-row cross join (:func:`_cents6_frame` — broadcast from
    stats, never a literal), assignment is an argmin over the matrix
    COLUMN (constant expression size), and the update aggregate is
    ``posexplode(__q6)`` to ``(cell, d, x)`` rows feeding ONE
    map-side-combinable ``(cell, d)`` groupBy — ``dim`` sum COLUMNS
    become ``dim`` ROWS per cell. The explode inflates rows ×dim inside
    the stage but partial aggregation combines them before the
    exchange, so shuffle traffic is O(partitions × cells × dim) and the
    collect O(cells × dim) model state. The wide form beats this at
    coarse dims (no explode, one row per cell); past ``_WIDE_MAX_DIM``
    the wide PLAN (dim aggregate columns, cells×dim literals) stops
    compiling sanely and this form is the scale path."""
    for _ in range(iters):
        n: dict[int, int] = {}
        sums: dict[int, list[int]] = {}
        for r in _narrow_update_agg(base, cents).collect():
            c = int(r["__cell"])
            n[c] = int(r["__n"])
            sums.setdefault(c, [0] * dim)[int(r["__d"])] = int(r["__s"])
        cents = _refit(cents, ((c, n[c], sums[c]) for c in n))
    return cents


def _exact_kmeans(
    base: DataFrame,
    cents: list[list[int]],
    iters: int,
    dim: int,
) -> list[tuple[int, int, int, int, int]]:
    """The exact quantized k-means trainer of the oracle-checkable fits
    (:func:`kmeans_fit_quantized`, each :func:`pq_fit_exact` subspace):
    ``iters`` Lloyd rounds over ``base``'s ``__q6`` from the
    :func:`_kmeans_init` centroids ``cents`` — :func:`_lloyd_iterate`
    up to ``_WIDE_MAX_DIM``, :func:`_lloyd_iterate_narrow` past it —
    then ONE final-assignment aggregate for each cell's ``n_members``
    and ``inertia`` (the exact integer sum of members' squared L2
    distances; 0 for an empty cell). Returns one ``(cell, dim, c6,
    n_members, inertia)`` row per centroid component.
    :func:`split_hot_cells`' sub-fits run the same init and wide loop
    without the stats (its cells are within ``_WIDE_MAX_DIM``)."""
    narrow = dim > _WIDE_MAX_DIM
    cents = (_lloyd_iterate_narrow if narrow else _lloyd_iterate)(
        base, cents, iters, dim
    )
    if narrow:
        best = F.array_min(
            _l2q_scored_attr(F.col("__q6"), F.col("__cents"))
        )
        scored = base.crossJoin(_cents6_frame(base.sparkSession, cents))
    else:
        best = F.array_min(_l2q_scored("__q6", cents))
        scored = base
    final = {
        int(r["__cell"]): (int(r["__n"]), int(r["__inertia"]))
        for r in scored.select(
            best["cell"].alias("__cell"), best["d2"].alias("__d2")
        )
        .groupBy("__cell")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__d2").alias("__inertia"))
        .collect()
    }
    return [
        (c, d, v, *final.get(c, (0, 0)))
        for c, cent in enumerate(cents)
        for d, v in enumerate(cent)
    ]


def _fit_sample(
    base: DataFrame, sample_cap: int, sample_salt: str
) -> DataFrame:
    """The bounded deterministic TRAINING SAMPLE shared by every
    quantizer fit (r13 verdict missing #2): the ``sample_cap`` rows of
    a ``(__id, __q6)`` frame with the smallest content-addressed key
    ``(md5(salt ':' id), id)`` — the engine-portable md5 ordering the
    sampling operators pinned (operators/sampling.py), so a SQL oracle
    replays the exact subset with ``ORDER BY md5(...) LIMIT cap``.

    Scale: ONE narrow top-k pass over the corpus (TakeOrderedAndProject
    holds ``cap`` rows per partition — no sort, no shuffle of the
    corpus), after which every fit iteration costs O(sample) regardless
    of corpus size. This is the FAISS training rule re-expressed
    declaratively: a coarse quantizer gains nothing statistically from
    more than ~256 training points per centroid (faiss
    ClusteringParameters.max_points_per_centroid), so at 100 TB the
    alternative — every Lloyd iteration scanning the full corpus — is
    pure waste (the measured 4.01x fit slope vs 1.02-1.15x for every
    serving path)."""
    key = F.md5(
        F.concat_ws(":", F.lit(sample_salt), F.col("__id").cast("string"))
    )
    # __q6 breaks duplicate-id ties so the sample stays deterministic
    # even with duplicate ids (the kmeans init-ordering rule)
    return (
        base.select("__id", "__q6", key.alias("__sk"))
        .orderBy("__sk", "__id", "__q6")
        .limit(sample_cap)
        .select("__id", "__q6")
    )


def kmeans_fit_quantized(
    df: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    sample_cap: int | None = None,
    sample_salt: str = "fit",
) -> DataFrame:
    """Lloyd's k-means over EXACTLY quantized vectors — the
    oracle-checkable twin of :func:`train_ivf_cells` (X144).

    :func:`train_ivf_cells` accumulates raw double component sums, whose
    value depends on partition fold order — fine for training a coarse
    quantizer, impossible to pin cross-engine. This variant makes every
    step exact and order-independent so the whole fit is bit-identical
    across engines and oracle-checkable as a DuckDB recursive CTE (the
    Bradley-Terry / power-method precedent):

    - components quantize to 1e-6 integers once (``round(x * 1e6)`` —
      the engine-wide u6 convention);
    - init = the ``n_cells`` vectors with the SMALLEST ids (trivially
      replayed in SQL; a hash-ordered sample would pin the fit to
      xxhash64);
    - assignment = integer squared-L2 argmin, ties to the lowest cell
      (|u6| <= ~1e7 x 64 dims stays far under int64);
    - update = per-cell integer component sums / exact counts, the mean
      re-quantized with away-from-zero rounding (Spark/DuckDB
      ``round(double)`` — NOT Python's half-even ``round``); component
      sums must stay below 2^53 for the exact-double division — holds
      to ~10^9 rows per cell at unit-scale embeddings;
    - empty cells keep their previous centroid.

    Returns one row per (cell, dim): ``cell``, ``dim``, ``c6`` (the
    final quantized centroid component), plus the final-assignment
    ``n_members`` and integer ``inertia`` (sum of members' squared
    distances) for that cell — the convergence/balance QC a quantizer
    build gates on. Rows with NULL vectors, NULL components, or a
    different dimensionality than the fit's are dropped (documented —
    an unquantizable vector can neither vote nor be assigned).

    ``dim``: pass the declared dimensionality to apply the ragged-row
    filter BEFORE init selection — a ragged row among the smallest ids
    is then SKIPPED and the next id seeds instead (the rule a SQL
    oracle's ``WHERE len(v) = dim`` prefilter replays; the contract
    queries pass the fixture's 64). With ``dim=None`` the first usable
    row DEFINES the dimensionality and a disagreeing init row RAISES —
    the safer default when no declared schema exists, because silently
    skipping would hide a corrupt feed.

    Scale: each iteration is ONE narrow scan of the quantized frame
    (localCheckpointed once) with the n_cells x dim centroid matrix
    inlined as a single nested literal (the r11 ann_join driver-cost
    lesson), one map-side-combinable groupBy on the cell id, and an
    O(n_cells) collect — the approved O(model)-state class. Corpus is
    never shuffled except by the dim+2-column cell aggregation.

    DIMENSIONALITY ROUTING (the module constant ``_WIDE_MAX_DIM``,
    256): the WIDE form's per-iteration aggregate is ``dim`` explicit
    sum columns and its centroid state an ``n_cells x dim`` nested
    literal, so that PLAN — not the data — grows with dim x iters;
    PERF.md measures the fixture fit as plan/codegen-dominated
    already at dim=64. Fine for coarse-quantizer dims, wrong at
    production 1024-4096-dim embeddings (4k-column aggregates,
    32k-literal matrices). Past ``_WIDE_MAX_DIM`` the fit
    TRANSPARENTLY switches to the NARROW form
    (:func:`_lloyd_iterate_narrow`): centroid matrix joined from a
    one-row frame instead of a literal, update via a posexplode
    ``(cell, dim_idx)`` groupBy instead of dim sum columns —
    constant plan width, bit-identical results (exact integer
    arithmetic either way; property-pinned). The wide form stays
    the choice below the ceiling because it avoids the ×dim
    in-stage explode. The PQ alternative (:func:`pq_fit_exact` — m
    independent subspace fits within the ceiling) remains the right
    call when the DOWNSTREAM index is PQ; this path is for a single
    full-dim coarse quantizer.

    BOUNDED-SAMPLE TRAINING (``sample_cap``, r14; r13 verdict missing
    #2): with ``sample_cap=N`` the fit trains on the N rows with the
    smallest content-addressed ``(md5(sample_salt ':' id), id)`` key
    (:func:`_fit_sample`) — deterministic, engine-portable, and
    oracle-replayable as ``ORDER BY md5(...) LIMIT N``. Every Lloyd
    iteration then costs O(sample) independent of corpus size (the
    FAISS ~256-points-per-centroid training rule: pass
    ``sample_cap=256 * n_cells``), and the returned
    ``n_members``/``inertia`` describe the TRAINING SAMPLE — the
    convergence/balance QC the fit itself gates on; assigning the full
    corpus is the downstream ingest step (:func:`build_ivf_index` /
    :func:`assign_cells_l2q`), exactly once, not once per iteration.
    Requires a declared ``dim`` (the prefilter-before-sample rule: the
    oracle's ``WHERE len(v) = dim`` must apply before the LIMIT) and
    ``sample_cap >= n_cells``. With ``sample_cap=None`` (default) the
    fit scans the full frame — unchanged r13 behavior.
    """
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    q6 = _u6_quantized(vec_col)
    usable = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), q6.alias("__q6"))
        .where(~F.exists(F.col("__q6"), lambda x: x.isNull()))
    )
    if dim is not None:
        # declared-dim mode: ragged rows filtered BEFORE init selection
        # (the SQL-oracle prefilter rule — a ragged small-id row skips)
        usable = usable.where(F.size("__q6") == dim)
    if sample_cap is not None:
        if dim is None:
            raise ValueError(
                "kmeans_fit_quantized: sample_cap requires a declared "
                "dim (prefilter-before-sample rule)"
            )
        if sample_cap < n_cells:
            raise ValueError(
                f"kmeans_fit_quantized: sample_cap={sample_cap} < "
                f"n_cells={n_cells}"
            )
        # checkpoint the sample so the corpus-wide top-k pass runs ONCE
        # (init selection and the iteration base both read it)
        usable = _fit_sample(usable, sample_cap, sample_salt).localCheckpoint()
    cents = _kmeans_init(usable, n_cells, "kmeans_fit_quantized", "n_cells")
    if dim is None:
        dim = len(cents[0])
    if any(len(c) != dim for c in cents):
        raise ValueError(
            "kmeans_fit_quantized: init vectors disagree on dimensionality"
        )
    # NO spread_scan on this checkpoint (r14, measured): although the
    # frame is reused by every Lloyd iteration, the per-row integer fold
    # here is too cheap for 32-task scheduling to beat the single-split
    # read — the A/B measured q_kmeans_fit 2.9 -> 4.3 s WITH the spread. (A
    # quantize-once checkpoint of the (id, q6) frame was also tried and
    # measured flat on the hd fixture / ~0.7 s WORSE on the wide form —
    # reverted.) The exact integer update is partition-immune either
    # way.
    base = (
        usable.select("__q6")
        .where(F.size("__q6") == dim)
        .localCheckpoint()
    )

    rows = _exact_kmeans(base, cents, iters, dim)
    # JVM inline table, not createDataFrame: a pickled-RDD-backed result
    # frame pays a Python worker launch on EVERY downstream action
    # (inline_rows_df rationale, r14)
    return inline_rows_df(
        df.sparkSession,
        rows,
        [("cell", "INT"), ("dim", "INT"), ("c6", "BIGINT"),
         ("n_members", "BIGINT"), ("inertia", "BIGINT")],
    )


def pq_fit_exact(
    df: DataFrame,
    m: int = 4,
    codes: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    sample_cap: int | None = None,
    sample_salt: str = "fit",
    residual_cents6: list[list[int]] | None = None,
) -> DataFrame:
    """EXACT per-subspace product-quantization codebook fit (X156) —
    integer means and a min-(id, slice) init, so every codebook replays
    cross-engine — and the SECOND high-dim strategy the
    :func:`kmeans_fit_quantized` ceiling names, composed as a single
    callable: the vector splits into ``m`` contiguous subspaces of
    ``dim/m`` components; each subspace gets its own independent
    ``codes``-centroid exact quantized Lloyd fit (the X144 arithmetic
    verbatim — u6 quantization, min-(id, slice) init, integer
    squared-L2 argmin with ties to the lowest code, away-rounded
    means, empty codes carry). Because every subspace fit is exact,
    the whole codebook is bit-identical across engines; a SQL oracle
    replays it as ``m`` independent recursive CTEs over sliced q6.

    Returns one row per (subspace, code, dim): ``subspace``, ``code``,
    ``dim`` (the component index WITHIN the subspace), ``c6``, plus
    final-assignment ``n_members`` and integer ``inertia`` per
    (subspace, code) — the balance/convergence QC a codebook build
    gates on.

    ``dim`` is REQUIRED (PQ is a production path with a declared
    schema; the ragged-row prefilter rule needs it) and must divide by
    ``m``. ``dim/m`` must stay within the wide plan ceiling
    (``_WIDE_MAX_DIM``, 256) — that is PQ's whole point: a 4096-dim
    embedding fits as m=16 subspaces of 256, each a constant-size
    plan. A d_sub above the ceiling means ``m`` is misconfigured, so it
    raises rather than silently degrading.

    Scale: the corpus quantizes ONCE (localCheckpointed, shared by all
    m fits); each subspace iteration is one narrow scan of the sliced
    frame with a codes x d_sub literal matrix, one map-side-combinable
    groupBy on the code, an O(codes) collect — m x iters O(model)
    collects total; the corpus never shuffles.

    ``sample_cap``: bounded deterministic training sample, the
    :func:`kmeans_fit_quantized` contract verbatim (ONE sample drawn
    by ``(md5(sample_salt ':' id), id)`` top-cap, shared by all m
    subspace fits; per-(subspace, code) QC describes the sample;
    requires ``sample_cap >= codes``). FAISS's PQ training rule is the
    same ~256 points per code — at 100 TB nobody fits 8-code
    subspace codebooks on the full corpus.

    ``residual_cents6`` (X164): fit the codebooks on RESIDUALS
    ``q6 - cents6[argmin cell]`` instead of absolute vectors — the
    FAISS IVFPQ default (``by_residual=true``), which centers every
    cell's members near the origin so the ``codes`` codewords spend
    their capacity on local structure instead of re-describing the
    coarse partition; at equal ``m``/``codes`` the ADC approximation
    tightens (measured recall delta in PERF.md). The coarse quantizer
    must be the SAME ``cents6`` later passed to
    :func:`pq_encode_exact` / :func:`ann_join_pq` — mixing quantizers
    across fit/encode/serve silently corrupts distances, the
    pq_index_stream frozen-model rule. The training sample (when
    ``sample_cap`` is set) is drawn BEFORE residualizing — the sample
    key is content-addressed on the id alone, so the subset is the
    same rows either way and the oracle replays it unchanged.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if codes < 1:
        raise ValueError(f"codes must be >= 1, got {codes}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if dim is None:
        raise ValueError(
            "pq_fit_exact: dim is required (declared-schema prefilter "
            "rule — see kmeans_fit_quantized's dim contract)"
        )
    if dim % m:
        raise ValueError(f"pq_fit_exact: dim={dim} not divisible by m={m}")
    d_sub = dim // m
    if d_sub > _WIDE_MAX_DIM:
        raise ValueError(
            f"pq_fit_exact: d_sub={d_sub} exceeds the wide-plan ceiling "
            f"{_WIDE_MAX_DIM} — raise m (PQ exists precisely to keep "
            "subspaces small)"
        )
    base = _q6_base(df, dim, vec_col, id_col)
    if sample_cap is not None:
        if sample_cap < codes:
            raise ValueError(
                f"pq_fit_exact: sample_cap={sample_cap} < codes={codes}"
            )
        base = _fit_sample(base, sample_cap, sample_salt)
    if residual_cents6 is not None:
        if _validate_cents6(residual_cents6, "pq_fit_exact") != dim:
            raise ValueError(
                "pq_fit_exact: residual_cents6 dimensionality "
                f"{len(residual_cents6[0])} != dim={dim}"
            )
        base = _residual_q6(base, residual_cents6).select("__id", "__q6")
    base = base.localCheckpoint()

    def fit_subspace(s: int):
        sub = base.select(
            "__id", F.slice("__q6", s * d_sub + 1, d_sub).alias("__q6")
        )
        cents = _kmeans_init(sub, codes, "pq_fit_exact", "codes")
        return _exact_kmeans(sub, cents, iters, d_sub)

    # the m fits are INDEPENDENT (disjoint slices of one checkpointed
    # frame), so they submit from concurrent driver threads and the
    # scheduler interleaves their tiny jobs — each fit is collect-
    # latency-bound (iters+2 sequential O(model) round trips), so this
    # cuts wall ~m-fold without changing a single computed value
    # (results keyed by subspace index, assembled in order). The
    # inheritable target carries the caller's job group, other local
    # properties and job tags onto the pool threads (pinned-thread mode
    # gives a plain thread none of them).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    fit = inheritable_thread_target(df.sparkSession)(fit_subspace)
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        fitted = pool.map(fit, range(m))
        rows = [(s, *r) for s, sub_rows in enumerate(fitted) for r in sub_rows]
    return inline_rows_df(
        df.sparkSession,
        rows,
        [("subspace", "INT"), ("code", "INT"), ("dim", "INT"),
         ("c6", "BIGINT"), ("n_members", "BIGINT"), ("inertia", "BIGINT")],
    )


def _validate_books6(
    books6: list[list[list[int]]], who: str
) -> tuple[int, int, int]:
    """``(m, codes, d_sub)`` of an exact PQ codebook, or raise."""
    if not books6 or not books6[0] or not books6[0][0]:
        raise ValueError(f"{who}: books6 must be non-empty m x codes x d_sub")
    m, codes, d_sub = len(books6), len(books6[0]), len(books6[0][0])
    if any(len(b) != codes for b in books6) or any(
        len(c) != d_sub for b in books6 for c in b
    ):
        raise ValueError(f"{who}: books6 rows disagree on shape")
    return m, codes, d_sub


def pq_encode_exact(
    df: DataFrame,
    books6: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual_cents6: list[list[int]] | None = None,
) -> DataFrame:
    """``(id_col, __codes array<int>)`` — each row's EXACT PQ code
    word under a :func:`pq_fit_exact` codebook: per subspace, the
    integer-L2 argmin code over the u6-quantized slice (ties to the
    lowest code — the X144 rule). The ingest-time companion of
    :func:`ann_join_pq`: at 100 TB the coded corpus is m SMALL INTS
    per row instead of dim floats (m=16 bytes-ish vs 16 KB for a
    4096-dim float vector), and serving never touches the raw vectors.
    One narrow projection, no shuffle; slices are PROJECTED columns
    before scoring (the bounds-hoist rule).

    ``residual_cents6`` (X164): encode the RESIDUAL ``q6 -
    cents6[argmin cell]`` under a residual-trained codebook
    (:func:`pq_fit_exact` with the SAME ``cents6``), and return
    ``(id_col, __cell, __codes)`` — the cell rides along because a
    residual code is meaningless without the cell it displaces from,
    and the ingest that builds the coded index needs the pair anyway;
    the separate :func:`assign_cells_l2q` pass is subsumed (same
    argmin, computed once)."""
    m, _, d_sub = _validate_books6(books6, "pq_encode_exact")
    dim = m * d_sub
    base = _q6_base(df, dim, vec_col, id_col)
    carry: list[str] = []
    if residual_cents6 is not None:
        if _validate_cents6(residual_cents6, "pq_encode_exact") != dim:
            raise ValueError(
                "pq_encode_exact: residual_cents6 dimensionality "
                f"{len(residual_cents6[0])} != dim={dim}"
            )
        base = _residual_q6(base, residual_cents6)
        carry = ["__cell"]
    sliced = base.select(
        "__id",
        *carry,
        *[
            F.slice("__q6", s * d_sub + 1, d_sub).alias(f"__q{s}")
            for s in range(m)
        ],
    )
    return sliced.select(
        F.col("__id").alias(id_col),
        *carry,
        F.array(
            *[
                F.array_min(_l2q_scored(f"__q{s}", books6[s]))[
                    "cell"
                ].cast("int")
                for s in range(m)
            ]
        ).alias("__codes"),
    )


def ann_join_pq(
    queries_df: DataFrame,
    k: int,
    query_cells: DataFrame,
    corpus_index: DataFrame,
    books6: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual_cents6: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-PQ retrieval join (X157) — the 100 TB serving composition
    where candidates are ranked by EXACT integer ADC (asymmetric
    distance computation) against the PQ-coded index instead of an
    exact rerank against raw vectors: ``corpus_index`` is an
    ``(id_col, __cell, __codes)`` frame (the IVF assignment plus the
    :func:`pq_encode_exact` code word, joined once at ingest), so the
    serving scan carries a few bytes per corpus row and NEVER reads
    the vector column — the FAISS IVFPQ layout re-expressed as two
    equi-joins. ``query_cells`` is the exploded probe frame
    (:func:`assign_cells_l2q` with its n_probe). Per candidate,
    ``adc_d2`` = sum over subspaces of the exact integer squared-L2
    between the query's u6 slice and the candidate code's centroid —
    pure integer arithmetic, so ranks are bit-stable cross-engine
    (ties by corpus id). Returns ``(query_id, corpus_id, adc_d2,
    rank)``, rank 1..k by (adc_d2 asc, corpus_id).

    Scale shape: the coded index (the 100 TB side) crosses exactly ONE
    equi-join on the cell key against the bare probe frame, then
    candidates attach their query's q6 by id — both joins broadcast
    STATICALLY from scan stats (the X137 join-order rule: probes
    first, vectors second, so the build sides are sizeable scans, not
    join outputs); the only hash exchange carries WindowGroupLimit-
    pre-limited candidates. The codebook is an m x codes x d_sub
    nested literal — model state, a few KB. ADC recall is the PQ
    trade: distances are approximations of the true L2 (exact only to
    the reconstruction), tuned by m/codes without changing the plan;
    compose with a raw-vector rerank of the top-k' when exactness
    matters (:func:`topk_exact_rerank`, as ``q_pq_rerank`` does).

    ``residual_cents6`` (X164): serve a RESIDUAL-coded index (built
    with the same ``cents6`` via :func:`pq_fit_exact` /
    :func:`pq_encode_exact` in residual mode). ADC becomes the exact
    integer squared-L2 between the QUERY'S residual w.r.t. the
    candidate's cell and the candidate's codeword — the FAISS IVFPQ
    per-probed-cell LUT re-expressed as one extra ``element_at`` into
    the KB-scale centroid literal inside the same fold; the plan shape
    (one cell equi-join, codes-only corpus side) is unchanged."""
    m, _, d_sub = _validate_books6(books6, "ann_join_pq")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    need = {id_col, "__cell", "__codes"}
    if not need <= set(corpus_index.columns):
        raise ValueError(
            f"ann_join_pq: corpus_index must carry {sorted(need)}"
        )
    from pyspark.sql import Window

    dim = m * d_sub
    q0 = _q6_base(queries_df, dim, vec_col, id_col).select(
        F.col("__id").alias("query_id"), "__q6"
    )
    qcells = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col("__cell").cast("int").alias("__cell"),
    )
    c = corpus_index.select(
        F.col(id_col).alias("corpus_id"),
        F.col("__cell").cast("int").alias("__cell"),
        "__codes",
    )
    if residual_cents6 is not None:
        if _validate_cents6(residual_cents6, "ann_join_pq") != dim:
            raise ValueError(
                "ann_join_pq: residual_cents6 dimensionality "
                f"{len(residual_cents6[0])} != m*d_sub={dim}"
            )
        centlit = _render_lit([[int(v) for v in c] for c in residual_cents6])

        def qterm(j: str) -> str:
            # query residual w.r.t. the PROBED cell: one extra
            # element_at into the KB-scale centroid literal — the
            # per-probed-cell LUT, no plan-shape change
            return (
                f"element_at(__q6, {j}) - "
                f"element_at(element_at({centlit}, __cell + 1), {j})"
            )
    else:

        def qterm(j: str) -> str:
            return f"element_at(__q6, {j})"

    # r14 optimization (guide §4.2/§1.2): the ADC fold used to run
    # m x d_sub interpreted HOF evaluations PER CANDIDATE PAIR — the
    # dominant work of the join. This is the textbook FAISS ADC-LUT
    # factorization instead: the per-subspace distance table
    # ``lut[s][code] = sum_d (qterm(s,d) - book[s][code][d])^2`` is
    # computed ONCE per (query, probed cell) row on the |Q| x n_probe
    # probe frame (where the interpreted HOF cost is irrelevant), and
    # each candidate pays exactly m codegen ``element_at`` lookups —
    # the identical exact integers in the identical inner fold order
    # (d ascending, then s ascending), so every adc_d2 is unchanged.
    # Plan shape: the probe frame absorbs the q6 attach (qcells ⋈ q0,
    # query-sized), the coded corpus still crosses exactly ONE cell
    # equi-join, broadcasts stay static-from-stats, and the only hash
    # exchange still carries the WindowGroupLimit-pre-limited
    # candidates. The table is ONE SQL string (the sql_array_lit form):
    # through the Python HOF API each lambda node would be its own py4j
    # round trip, paid at every serve request's plan construction.
    books = [_render_lit([list(map(int, c_)) for c_ in b]) for b in books6]
    lut = F.expr(
        "array("
        + ", ".join(
            f"transform({books[s]}, cv -> aggregate("
            f"transform(sequence(1, {d_sub}), d -> "
            f"{qterm(f'CAST({s * d_sub} + d AS INT)')} - "
            "element_at(cv, CAST(d AS INT))), 0L, "
            "(acc, x) -> acc + x * x))"
            for s in range(m)
        )
        + ")"
    )
    ql = qcells.join(q0, on="query_id", how="inner").select(
        "query_id", "__cell", lut.alias("__lut")
    )
    adc_unrolled = " + ".join(
        f"element_at(element_at(__lut, {s + 1}), "
        f"element_at(__codes, {s + 1}) + 1)"
        for s in range(m)
    )
    adc = F.expr(
        f"CASE WHEN size(__codes) = {m} THEN 0L + {adc_unrolled} "
        "ELSE aggregate(zip_with(__codes, __lut, (cd, tbl) -> "
        "element_at(tbl, cd + 1)), 0L, (acc, x) -> acc + x) END"
    )
    # ql is a JOIN OUTPUT, so its stats estimate is unreliable — without
    # the explicit hint the static planner picks SortMergeJoin and the
    # COD corpus side pays a cell-key shuffle before AQE's broadcast
    # rescue (measured: one extra corpus-sized Exchange). The probe
    # frame is |Q| x n_probe rows of model-scale LUTs — known small, so
    # the hint is the guide §3.1 move; the corpus side never shuffles.
    cand = c.join(F.broadcast(ql), on="__cell", how="inner").select(
        "query_id", "corpus_id", adc.alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", F.col("corpus_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "adc_d2", "rank")
    )


def sq8_fit(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_cap: int | None = None,
    sample_salt: str = "fit",
) -> list[tuple[int, int]]:
    """Per-dimension u6 bounds ``[(lo6, hi6), ...]`` of a corpus — the
    model state of SQ8 scalar quantization (X160): each dimension gets
    an affine int8 grid over its observed range. One narrow scan,
    posexplode to (d, x), one map-side-combinable min/max aggregation,
    an O(dim) collect — the approved O(model) class. Exact integers in,
    exact integers out.

    ``sample_cap``: bounds learned on the bounded deterministic
    training sample (the :func:`kmeans_fit_quantized` contract;
    :func:`_fit_sample`) instead of the full corpus — out-of-sample
    components land outside the learned range and CLAMP at encode
    time (:func:`sq8_encode`'s standing rule for new data), the
    standard scalar-quantization trade for an O(sample) fit.

    INT64 HEADROOM (r13 ADVICE): :func:`ann_join_sq8` scores with the
    255-SCALED reconstruction ``lo*255 + code*span``, so each inner-
    product term is ~255x larger than the squared-L2 terms elsewhere —
    the u6 magnitude bound is ``dim * 255 * max(|lo|,|hi|)^2 < 2^63``
    (queries assumed from the fitted distribution, |q6| <= that same
    max), i.e. max component magnitude ~7.6e6 u6 (|x| ~7.6 raw) at
    dim=64 and ~9.5e5 u6 at dim=4096 — far tighter than the ~3e3
    raw-unit u6 bound the squared-L2 operators document. This fit
    RAISES when the observed bounds break it rather than letting
    serving silently overflow and misrank."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    base = _q6_base(df, dim, vec_col, id_col)
    if sample_cap is not None:
        if sample_cap < 1:
            raise ValueError(f"sq8_fit: sample_cap={sample_cap} < 1")
        base = _fit_sample(base, sample_cap, sample_salt)
    rows = (
        base.select(F.posexplode("__q6").alias("__d", "__x"))
        .groupBy("__d")
        .agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi"))
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"sq8_fit: no usable vectors at dim={dim} "
            f"(got bounds for {len(rows)} dimensions)"
        )
    by_d = {int(r["__d"]): (int(r["__lo"]), int(r["__hi"])) for r in rows}
    bounds = [by_d[d] for d in range(dim)]
    bmax = max((max(abs(lo), abs(hi)) for lo, hi in bounds), default=0)
    if dim * 255 * bmax * bmax >= 2**63:
        raise ValueError(
            f"sq8_fit: bounds magnitude {bmax} u6 at dim={dim} exceeds "
            "ann_join_sq8's int64 inner-product headroom "
            "(dim * 255 * bmax^2 >= 2^63) — rescale the embeddings or "
            "use the PQ tier"
        )
    return bounds


def sq8_encode(
    df: DataFrame,
    bounds6: list[tuple[int, int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, __sq8 array<int>)`` — each u6 component mapped onto
    its dimension's 0..255 affine grid: ``round((x - lo) * 255 /
    (hi - lo))``, clamped (new data may fall outside the fit bounds),
    and 0 where the dimension is constant. The rounding is the
    engine-wide away-from-zero ``round(double)`` (numerators here are
    clamped non-negative, so Spark/DuckDB agree exactly); the
    numerator ``(x - lo) * 255`` stays a small exact integer, so the
    whole encode is bit-stable cross-engine. One narrow projection, no
    shuffle; bounds ride as two O(dim) literals."""
    dim = len(bounds6)
    if dim < 1:
        raise ValueError("sq8_encode: bounds6 must be non-empty")
    lo_lit = sql_array_lit([int(b[0]) for b in bounds6])
    span_lit = sql_array_lit([int(b[1]) - int(b[0]) for b in bounds6])
    base = _q6_base(df, dim, vec_col, id_col)

    def code(x: Column, d: Column) -> Column:
        lo = F.element_at(lo_lit, d + 1)
        span = F.element_at(span_lit, d + 1)
        raw = F.round(
            ((x - lo) * 255).cast("double") / span.cast("double")
        ).cast("int")
        clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(255))
        return F.when(span == 0, F.lit(0)).otherwise(clamped)

    return base.select(
        F.col("__id").alias(id_col),
        F.transform(F.col("__q6"), code).alias("__sq8"),
    )


def ann_join_sq8(
    queries_df: DataFrame,
    k: int,
    query_cells: DataFrame,
    corpus_index: DataFrame,
    bounds6: list[tuple[int, int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-SQ8 maximum-inner-product retrieval (X160) — the third
    compression tier of the serving stack (raw vectors -> X157 PQ
    codes -> SQ8 bytes): candidates come from shared IVF cells and are
    ranked by the EXACT INTEGER inner product between the query's u6
    vector and the candidate's 255-SCALED SQ8 reconstruction
    ``lo*255 + code*(hi-lo)`` — every term an exact int64, so ranking
    is bit-stable cross-engine (ties by corpus id; the uniform 255x
    scale cannot reorder). ``corpus_index`` is an ``(id_col, __cell,
    __sq8)`` frame (IVF assignment + :func:`sq8_encode`, joined once
    at ingest): the corpus-side scan carries one byte per dimension
    and never the raw vectors. Inner-product (MIPS) ranking, not
    cosine — SQ8 reconstructions have no exact integer norm; compose
    with a raw-vector rerank of the top-k' when cosine exactness
    matters (the X158 pattern). Returns ``(query_id, corpus_id,
    ip_score, rank)``, rank 1..k by (ip_score desc, corpus_id).

    Scale shape: identical to :func:`ann_join_pq` — one cell equi-join
    of the coded index against the bare probe frame, query vectors
    attach by id, both broadcasts static-from-stats, one
    WindowGroupLimit-pre-limited candidate exchange; bounds ride as
    two O(dim) literals.

    MAGNITUDE BOUND (r13 ADVICE): each ip term is ``q6 * (lo*255 +
    code*span)`` — ~255x the squared-L2 terms' size — so exactness
    needs ``dim * 255 * max(|lo6|,|hi6|)^2 < 2^63`` (|x| under ~7.6
    raw units at dim=64, ~0.95 at dim=4096, queries from the fitted
    distribution). :func:`sq8_fit` RAISES when its observed bounds
    break this; embeddings hotter than the fit sample can still
    overflow — rescale upstream or use the PQ tier."""
    dim = len(bounds6)
    if dim < 1:
        raise ValueError("ann_join_sq8: bounds6 must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    need = {id_col, "__cell", "__sq8"}
    if not need <= set(corpus_index.columns):
        raise ValueError(
            f"ann_join_sq8: corpus_index must carry {sorted(need)}"
        )
    from pyspark.sql import Window

    lo255_lit = sql_array_lit([int(b[0]) * 255 for b in bounds6])
    span_lit = sql_array_lit([int(b[1]) - int(b[0]) for b in bounds6])
    q0 = _q6_base(queries_df, dim, vec_col, id_col).select(
        F.col("__id").alias("query_id"), "__q6"
    )
    qcells = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col("__cell").cast("int").alias("__cell"),
    )
    c = corpus_index.select(
        F.col(id_col).alias("corpus_id"),
        F.col("__cell").cast("int").alias("__cell"),
        "__sq8",
    )
    ip = F.aggregate(
        F.transform(
            F.col("__q6"),
            lambda q, d: q
            * (
                F.element_at(lo255_lit, d + 1)
                + F.element_at(F.col("__sq8"), (d + 1).cast("int"))
                * F.element_at(span_lit, d + 1)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        c.join(qcells, on="__cell", how="inner")
        .join(q0, on="query_id", how="inner")
        .select("query_id", "corpus_id", ip.alias("ip_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip_score"), F.col("corpus_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "ip_score", "rank")
    )


def topk_exact_rerank(
    shortlist: DataFrame,
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine rerank of a candidate SHORTLIST — the second half
    of the X158 pattern as a reusable operator: ``shortlist`` is any
    ``(query_id, corpus_id)`` frame (an ADC top-k', an SQ8 MIPS
    top-k', an LSH bucket join...); ONLY its rows attach raw vectors
    (|Q| x k' — the broadcast side of both vector joins, so vector
    reads stay candidate-bounded at any corpus size), and the exact
    cosine (bround 6 — the engine-wide cosine output grid) ranks
    1..k by (sim desc, corpus_id). Zero-norm members drop (cosine
    undefined — the standing rule). Returns ``(query_id, corpus_id,
    sim, rank)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    from ..functions.vectors import dot, l2_norm

    qv = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col, dim).alias("__qn"),
    ).where(F.col("__qn") > 0)
    cv = corpus_df.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(vec_col, dim).alias("__cn"),
    ).where(F.col("__cn") > 0)
    sim = F.bround(
        dot("__qvec", "__cvec", dim) / (F.col("__qn") * F.col("__cn")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.col("corpus_id")
    )
    return (
        shortlist.select("query_id", "corpus_id")
        .join(qv, on="query_id")
        .join(cv, on="corpus_id")
        .select("query_id", "corpus_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", "rank")
    )


def ann_join_sq8_rerank(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    k_shortlist: int,
    query_cells: DataFrame,
    corpus_index: DataFrame,
    bounds6: list[tuple[int, int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SQ8 shortlist -> exact cosine rerank, composed (r13 verdict
    next #5): :func:`ann_join_sq8` is MIPS-only by documented design
    (no exact integer norm exists for the 255-scaled reconstruction),
    so a user needing COSINE exactness previously had to hand-compose
    the X158 pattern — this names it: the byte-tier index produces an
    inner-product top-``k_shortlist`` (codes-only corpus scan), then
    :func:`topk_exact_rerank` attaches raw vectors to the shortlist
    alone and ranks top-``k`` by exact cosine. Two recall levers,
    measured on the contract fixture (sf0.01, recall@3 vs brute
    cosine): ``n_probe`` dominates — 0.53 / 0.58 / 0.75 at probes
    2/3/4, INVARIANT to shortlist width 3..20, because the fixture's
    near-uniform norms make the MIPS candidate order nearly cosine
    order within probed cells; on a norm-skewed corpus (where MIPS
    and cosine genuinely disagree) ``k_shortlist`` becomes the lever.
    Either way the rerank makes the RETURNED scores exact cosine. Returns
    ``(query_id, corpus_id, sim, rank)``."""
    if k_shortlist < k:
        raise ValueError(
            f"k_shortlist={k_shortlist} must be >= k={k} (the shortlist "
            "bounds what the rerank can return)"
        )
    shortlist = ann_join_sq8(
        queries_df,
        k=k_shortlist,
        query_cells=query_cells,
        corpus_index=corpus_index,
        bounds6=bounds6,
        vec_col=vec_col,
        id_col=id_col,
    )
    return topk_exact_rerank(
        shortlist, queries_df, corpus_df, k, vec_col=vec_col, id_col=id_col,
        )


def pq_score_shortlist(
    shortlist: DataFrame,
    queries_df: DataFrame,
    corpus_index: DataFrame,
    books6: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual_cents6: list[list[int]] | None = None,
) -> DataFrame:
    """EXACT integer ADC scores for an explicit ``(query_id,
    corpus_id)`` SHORTLIST — the mid-stage primitive of the cascade
    funnel (X170): unlike :func:`ann_join_pq` (which generates
    candidates from shared IVF cells), this scores exactly the pairs
    it is given. The shortlist is the |Q| x k'-bounded broadcast side
    of both joins, so the coded index contributes a codes-only scan
    and code reads stay candidate-bounded at any corpus size; the
    ADC fold is the X157 expression verbatim (same codebook literal,
    same integer arithmetic — bit-stable cross-engine).
    ``residual_cents6``: score against a residual-coded index (the
    candidate's ``__cell`` must ride on ``corpus_index``). Returns
    ``(query_id, corpus_id, adc_d2)`` — unranked; rank/limit belongs
    to the caller (the cascade keeps its own k_mid)."""
    m, _, d_sub = _validate_books6(books6, "pq_score_shortlist")
    dim = m * d_sub
    need = {id_col, "__codes"}
    if residual_cents6 is not None:
        need.add("__cell")
    if not need <= set(corpus_index.columns):
        raise ValueError(
            f"pq_score_shortlist: corpus_index must carry {sorted(need)}"
        )
    q0 = _q6_base(queries_df, dim, vec_col, id_col).select(
        F.col("__id").alias("query_id"), "__q6"
    )
    ccols = [F.col(id_col).alias("corpus_id"), F.col("__codes")]
    if residual_cents6 is not None:
        ccols.append(F.col("__cell").cast("int").alias("__cell"))
    c = corpus_index.select(*ccols)
    booklit = sql_array_lit([[list(map(int, c_)) for c_ in b] for b in books6])
    if residual_cents6 is not None:
        if _validate_cents6(residual_cents6, "pq_score_shortlist") != dim:
            raise ValueError(
                "pq_score_shortlist: residual_cents6 dimensionality "
                f"{len(residual_cents6[0])} != m*d_sub={dim}"
            )
        centlit = sql_array_lit([[int(v) for v in c] for c in residual_cents6])

        def qterm(s, d):
            return F.element_at(
                F.col("__q6"), (s * d_sub + d).cast("int")
            ) - F.element_at(
                F.element_at(centlit, F.col("__cell") + 1),
                (s * d_sub + d).cast("int"),
            )
    else:

        def qterm(s, d):
            return F.element_at(
                F.col("__q6"), (s * d_sub + d).cast("int")
            )

    return (
        shortlist.select("query_id", "corpus_id")
        .join(c, on="corpus_id", how="inner")
        .join(q0, on="query_id", how="inner")
        .select(
            "query_id",
            "corpus_id",
            F.aggregate(
                F.zip_with(
                    F.col("__codes"),
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda code, s: F.aggregate(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(d_sub)),
                            lambda d: qterm(s, d)
                            - F.element_at(
                                F.element_at(
                                    F.element_at(booklit, s + 1), code + 1
                                ),
                                d.cast("int"),
                            ),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x * x,
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("adc_d2"),
        )
    )


# Signed-lane bit packing (X167): 64 bits per BIGINT word, bit j of
# word w = dimension 64*w + j. Bit 63 is the SIGN bit, so its "power"
# is -(2**63) — summing distinct per-bit terms then reproduces the
# two's-complement reinterpretation exactly in any engine with wrapping
# signed int64 (Spark) or one CASE for the top lane (DuckDB, whose
# `1::BIGINT << 63` raises). hamming/xor/bit_count are sign-agnostic.
_BQ_POW = [1 << j for j in range(63)] + [-(1 << 63)]


def bq_fit(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_cap: int | None = None,
    sample_salt: str = "fit",
) -> tuple[list[int], int]:
    """Per-dimension MEAN thresholds of a corpus as EXACT integer model
    state ``(sums6, n)`` — the fourth and smallest compression tier of
    the serving stack (X167 BQ, 1 BIT per dimension): classic
    mean-centered sign binarization (bit_d = 1 iff the component is
    strictly above its dimension's training mean), kept exact by never
    forming the mean — :func:`bq_encode` tests ``q6[d] * n > sums6[d]``
    in integers, so the bit is engine-portable with no division or
    float in sight. One narrow posexplode scan, one map-side-combinable
    sum aggregation, an O(dim) collect — the approved O(model) class.

    ``sample_cap``: thresholds learned on the bounded deterministic
    training sample (:func:`_fit_sample` — the standing quantizer-fit
    contract), making fit cost O(sample) independent of corpus size;
    ``n`` is then the SAMPLE count, which is what the bit test scales
    by.

    INT64 HEADROOM: the encode-side comparison term is ``q6 * n`` and
    the fit-side sum accumulates n components, so exactness needs
    ``n * max|q6| < 2^63`` — generous (n ~9.2e9 at the documented
    ~1e9-u6 component bound) but NOT unconditional at 100 TB row
    counts; this fit RAISES when the observed magnitudes break it.
    The production shape — a capped training sample — never gets
    close. Binary quantization is the Lucene/Vespa bit-vector tier
    re-expressed relationally; compose with an exact rerank
    (:func:`ann_join_bq_rerank`) exactly as SQ8/PQ do."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    base = _q6_base(df, dim, vec_col, id_col)
    if sample_cap is not None:
        if sample_cap < 1:
            raise ValueError(f"bq_fit: sample_cap={sample_cap} < 1")
        base = _fit_sample(base, sample_cap, sample_salt)
    rows = (
        base.select(F.posexplode("__q6").alias("__d", "__x"))
        .groupBy("__d")
        .agg(
            F.sum("__x").alias("__s"),
            F.count("__x").alias("__n"),
            F.max(F.abs("__x")).alias("__m"),
        )
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"bq_fit: no usable vectors at dim={dim} "
            f"(got sums for {len(rows)} dimensions)"
        )
    n = int(rows[0]["__n"])
    by_d = {int(r["__d"]): int(r["__s"]) for r in rows}
    mmax = max(int(r["__m"]) for r in rows)
    if mmax and n >= 2**63 // mmax:
        raise ValueError(
            f"bq_fit: n={n} rows x max|q6|={mmax} exceeds the int64 "
            "threshold-comparison headroom (n * max|q6| >= 2^63) — fit "
            "on a bounded sample (sample_cap)"
        )
    return [by_d[d] for d in range(dim)], n


def bq_encode(
    df: DataFrame,
    sums6: list[int],
    n_fit: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, __bits array<long>)`` — each row's mean-threshold
    sign bits under a :func:`bq_fit` model, packed 64 per signed
    BIGINT word (``ceil(dim/64)`` words; bit j of word w = dimension
    64w+j; the ``_BQ_POW`` signed-lane rule). The bit test is the
    exact integer ``q6[d] * n > sums6[d]`` — strictly-above-mean, no
    division, bit-stable cross-engine. Queries and corpus encode with
    the SAME model (symmetric binary — unlike PQ's asymmetric ADC).
    One narrow projection, no shuffle; thresholds ride as one O(dim)
    literal and the packing loop is constant-width
    ``transform(sequence)`` folds (the X154 narrow-plan rule), so plan
    size is independent of dim."""
    dim = len(sums6)
    if dim < 1:
        raise ValueError("bq_encode: sums6 must be non-empty")
    if n_fit < 1:
        raise ValueError(f"bq_encode: n_fit={n_fit} < 1")
    base = _q6_base(df, dim, vec_col, id_col)
    # r14 optimization (guide §4.2, the phase-1 unroll rule): the
    # aggregate(sequence)/transform packing loop is CodegenFallback —
    # every bit test ran through the interpreted evaluator (~dim boxed
    # evals per row). The model is Python-side ints, so the SAME sum of
    # distinct per-bit powers unrolls into ONE F.expr whole-stage-codegen
    # projection (single py4j round trip; thresholds inline as exact
    # BIGINT literals). Bit-identical by construction: integer addition
    # in the identical j=0..63 fold order, and _q6_base already
    # guarantees size(__q6) == dim with no NULL components, so ANSI
    # element_at can never see an out-of-range index.
    return base.select(
        F.col("__id").alias(id_col),
        F.expr(_bq_words_sql(sums6, n_fit)).alias("__bits"),
    )


def _bq_words_sql(sums6: list[int], n_fit: int) -> str:
    """Unrolled packed-word SQL for :func:`bq_encode` — an
    ``array(word_0, ..)`` literal expression over the projected
    ``__q6`` column; word w = left fold over j of
    ``CASE WHEN q6[64w+j] * n > sums6[64w+j] THEN 2^j ELSE 0``, the
    sign lane (j=63) emitted as ``-9223372036854775807L - 1L`` because
    the bare min-long literal does not parse as one token."""
    dim = len(sums6)
    words = (dim + 63) // 64
    n = int(n_fit)
    wexprs = []
    for w in range(words):
        terms = []
        for j in range(64):
            d = w * 64 + j
            if d >= dim:
                break
            p = _BQ_POW[j]
            pw = f"{p}L" if p > 0 else "(-9223372036854775807L - 1L)"
            terms.append(
                f"(CASE WHEN element_at(__q6, {d + 1}) * {n}L > "
                f"{int(sums6[d])}L THEN {pw} ELSE 0L END)"
            )
        wexprs.append("(0L + " + " + ".join(terms) + ")")
    return "array(" + ", ".join(wexprs) + ")"


def bq_index(
    df: DataFrame,
    cents6: list[list[int]],
    sums6: list[int],
    n_fit: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, __cell, __bits)`` — the full BQ index row in ONE
    projection over ONE corpus scan (r14 optimization, guide §2.4):
    the previous composition ``assign_cells_l2q(.., n_probe=1).join(
    bq_encode(..), on=id)`` equi-joined two row-wise projections of
    the SAME base — a corpus-sized id shuffle that computes nothing.
    Fusing the argmin cell (the shared :func:`_l2q_scored` metric,
    min by (d2, cell) exactly like the n_probe=1 sort — the
    :func:`_residual_q6` ``array_min`` form) with the unrolled word
    packing removes that exchange outright. Values are bit-identical
    to the composition; both inputs must share ``dim``."""
    dim = len(sums6)
    if not cents6 or len(cents6[0]) != dim:
        raise ValueError(
            "bq_index: cents6 and sums6 disagree on dimensionality "
            f"({len(cents6[0]) if cents6 else 0} vs {dim})"
        )
    base = _q6_base(df, dim, vec_col, id_col)
    best = F.array_min(_l2q_scored("__q6", cents6))
    return base.select(
        F.col("__id").alias(id_col),
        best["cell"].cast("int").alias("__cell"),
        F.expr(_bq_words_sql(sums6, n_fit)).alias("__bits"),
    )


def ann_join_bq(
    queries_df: DataFrame,
    k: int,
    query_cells: DataFrame,
    corpus_index: DataFrame,
    sums6: list[int],
    n_fit: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-BQ Hamming retrieval join (X167) — the 1-BIT tier of the
    serving stack (raw -> PQ sub-byte -> SQ8 byte -> BQ bit):
    candidates come from shared IVF cells and rank by the HAMMING
    distance between packed sign-bit words — ``sum over words of
    bit_count(xor(q_word, c_word))``, pure JVM bit ops inside one
    constant-width fold, every value an exact small integer, so
    ranking is bit-stable cross-engine (ties by corpus id).
    ``corpus_index`` is an ``(id_col, __cell, __bits)`` frame (IVF
    assignment + :func:`bq_encode`, joined once at ingest): the
    corpus-side scan carries ONE BIT per dimension — dim/8 bytes per
    row, 64x smaller than raw floats, 8x smaller than SQ8 — and never
    the raw vectors. Returns ``(query_id, corpus_id, hamming, rank)``,
    rank 1..k by (hamming asc, corpus_id).

    Scale shape: identical to :func:`ann_join_pq`/:func:`ann_join_sq8`
    — ONE cell equi-join of the bit index against the bare probe
    frame, query bits attach by id, both broadcasts static-from-stats,
    one WindowGroupLimit-pre-limited candidate exchange; the model
    rides as one O(dim) literal only on the ENCODE side (hamming needs
    no model at all). Hamming over mean-sign bits is a coarse cosine
    surrogate (it counts hyperoctant disagreements); compose with an
    exact rerank (:func:`ann_join_bq_rerank`) when scores must be
    cosine — the standing two-stage contract of every coded tier."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    need = {id_col, "__cell", "__bits"}
    if not need <= set(corpus_index.columns):
        raise ValueError(
            f"ann_join_bq: corpus_index must carry {sorted(need)}"
        )
    from pyspark.sql import Window

    qbits = bq_encode(
        queries_df, sums6, n_fit, vec_col=vec_col, id_col=id_col
    ).select(F.col(id_col).alias("query_id"), F.col("__bits").alias("__qb"))
    qcells = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col("__cell").cast("int").alias("__cell"),
    )
    c = corpus_index.select(
        F.col(id_col).alias("corpus_id"),
        F.col("__cell").cast("int").alias("__cell"),
        "__bits",
    )
    # r14 optimization (guide §4.2): the zip_with/aggregate fold is
    # CodegenFallback and evaluates once per CANDIDATE pair — the
    # dominant per-row work of the whole join (measured 11.6 s in one
    # single-task stage at sf0.1/dim=128 before the unroll+spread).
    # The word count is static (ceil(dim/64)), so the same left fold
    # unrolls to `words` codegen bit_count(xor) terms; a lazy CASE
    # keeps the HOF branch for ragged/foreign index rows so NULL
    # semantics are unchanged and ANSI element_at cannot fire.
    words = (len(sums6) + 63) // 64
    unrolled = " + ".join(
        f"CAST(bit_count(element_at(__qb, {i}) ^ element_at(__bits, {i})) "
        "AS BIGINT)"
        for i in range(1, words + 1)
    )
    hof = (
        "aggregate(zip_with(__qb, __bits, (a, b) -> "
        "CAST(bit_count(a ^ b) AS BIGINT)), 0L, (acc, x) -> acc + x)"
    )
    hamming = F.expr(
        f"CASE WHEN size(__qb) = {words} AND size(__bits) = {words} "
        f"THEN 0L + {unrolled} ELSE {hof} END"
    )
    cand = (
        c.join(qcells, on="__cell", how="inner")
        .join(qbits, on="query_id", how="inner")
        .select("query_id", "corpus_id", hamming.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy("hamming", F.col("corpus_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "hamming", "rank")
    )


def ann_join_bq_rerank(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    k_shortlist: int,
    query_cells: DataFrame,
    corpus_index: DataFrame,
    sums6: list[int],
    n_fit: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BQ Hamming shortlist -> exact cosine rerank, composed (X168):
    the bit tier's standing two-stage contract — :func:`ann_join_bq`
    produces a Hamming top-``k_shortlist`` from the 1-bit index
    (bits-only corpus scan), then :func:`topk_exact_rerank` attaches
    raw vectors to the |Q| x k' shortlist alone and ranks top-``k`` by
    exact cosine (bround 6). Hamming is the coarsest surrogate in the
    stack, so ``k_shortlist`` is the recall lever that matters here
    (wider shortlist -> the exact stage sees past hyperoctant ties).
    Measured on the contract fixture (sf0.1, recall@10 vs exact
    cosine, `scripts/bq_recall_r14.json`): at exhaustive probing the
    raw Hamming top-10 recalls 0.18 while rerank at shortlist
    20/40/80 recalls 0.27/0.40/0.55 — monotone in BOTH levers, and
    unlike SQ8 (whose shortlist width was inert on this fixture) the
    shortlist genuinely buys recall here, exactly the many-ties
    prediction. Returns ``(query_id, corpus_id, sim, rank)``."""
    if k_shortlist < k:
        raise ValueError(
            f"k_shortlist={k_shortlist} must be >= k={k} (the shortlist "
            "bounds what the rerank can return)"
        )
    shortlist = ann_join_bq(
        queries_df,
        k=k_shortlist,
        query_cells=query_cells,
        corpus_index=corpus_index,
        sums6=sums6,
        n_fit=n_fit,
        vec_col=vec_col,
        id_col=id_col,
    )
    return topk_exact_rerank(
        shortlist, queries_df, corpus_df, k, vec_col=vec_col, id_col=id_col,
        )


def ann_cascade(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    k_mid: int,
    k_wide: int,
    query_cells: DataFrame,
    bq_index: DataFrame,
    sums6: list[int],
    n_fit: int,
    pq_codes: DataFrame,
    books6: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The THREE-stage cascade funnel (X170) — the production serving
    composition that uses every tier of the compression ladder at the
    granularity it is cheapest: a WIDE Hamming shortlist from the
    1-bit index (:func:`ann_join_bq`, k_wide — the corpus-sized scan
    reads dim/8 bytes/row), an ADC mid-rerank of exactly those pairs
    against the PQ codes (:func:`pq_score_shortlist`, keep k_mid —
    code reads candidate-bounded), and an exact cosine top-k of the
    survivors (:func:`topk_exact_rerank` — raw-vector reads |Q| x
    k_mid-bounded). Monotone funnel: ``k <= k_mid <= k_wide``
    enforced. Each stage's scores are exact in their own metric, so
    the WHOLE chain is bit-replayable cross-engine; recall is tuned by
    (n_probe, k_wide, k_mid) without changing any plan shape — the
    Lucene bit-filter + rescoring / Milvus multi-stage pattern
    re-expressed as three equi-join compositions. Returns
    ``(query_id, corpus_id, sim, rank)``, rank 1..k by (sim desc,
    corpus_id)."""
    if not (1 <= k <= k_mid <= k_wide):
        raise ValueError(
            f"ann_cascade: need 1 <= k={k} <= k_mid={k_mid} <= "
            f"k_wide={k_wide} (each stage bounds the next)"
        )
    from pyspark.sql import Window

    wide = ann_join_bq(
        queries_df,
        k=k_wide,
        query_cells=query_cells,
        corpus_index=bq_index,
        sums6=sums6,
        n_fit=n_fit,
        vec_col=vec_col,
        id_col=id_col,
    ).select("query_id", "corpus_id")
    scored = pq_score_shortlist(
        wide, queries_df, pq_codes, books6, vec_col=vec_col, id_col=id_col
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", F.col("corpus_id"))
    mid = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k_mid)
        .select("query_id", "corpus_id")
    )
    return topk_exact_rerank(
        mid, queries_df, corpus_df, k, vec_col=vec_col, id_col=id_col,
        )


def build_ivf_index(
    corpus_df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """The persistable IVF assignment table ``(id_col, __cell)`` for
    :func:`ann_join` — computed ONCE at ingest (one narrow projection
    over the corpus), stored via :func:`save_ivf_index`, and joined by
    every later query batch instead of re-deriving |corpus| × |cells|
    dot products per run."""
    return _annotate_cells(corpus_df, centroids, vec_col, round_to).select(
        id_col, "__cell"
    )


def save_ivf_index(
    index_df: DataFrame,
    centroids: list[list[float]],
    path: str,
    partition_by_cell: bool = False,
) -> None:
    """Persist an IVF index: the assignment table as parquet under
    ``{path}/assignments`` and the centroid model state (small — cells
    × dim doubles) beside it, written by ``streaming.pipeline.
    _write_models`` — the one model layout that ``ivf_index_stream``
    also writes; the stream refuses to append to the flat assignments
    written here. Plain parquet, no sidecar format — readable by any
    engine.

    ``partition_by_cell=True`` lays the assignment table out as one
    directory per ``__cell`` — the 100 TB serving layout: a probe join
    on the cell key against a partitioned scan qualifies for dynamic
    partition pruning, so a query batch that probes k of n_cells cells
    READS k/n_cells of the index instead of scanning it (pinned by
    test). The trade is one shuffle at WRITE time (repartition on the
    cell id so each directory is one coherent file set, not
    input-partition-count fragments) — ingest-time cost for
    query-time pruning, the standard index bargain. Off by default:
    a small index that broadcasts whole gains nothing from pruning."""
    from ..streaming.pipeline import _write_models

    if partition_by_cell:
        index_df.repartition("__cell").write.mode("overwrite").partitionBy(
            "__cell"
        ).parquet(f"{path}/assignments")
    else:
        index_df.write.mode("overwrite").parquet(f"{path}/assignments")
    _write_models(index_df.sparkSession, path, {"centroids": centroids})


def save_pq_index(
    index_df: DataFrame,
    cents6: list[list[int]],
    books6: list[list[list[int]]],
    path: str,
) -> None:
    """Persist an IVF-PQ CODED index — the batch twin of the streaming
    ingest (``streaming.pipeline.pq_index_stream``), writing the SAME
    layout so ``load_pq_index`` reads either: the ``(id, __cell,
    __codes)`` assignment+code frame as parquet under
    ``{path}/assignments`` and the two frozen models (quantizer and
    codebook, each O(model) in one file) beside it, written by
    ``streaming.pipeline._write_models`` — the one model layout the
    stream also writes. The assignments are flat part files, so
    ``pq_index_stream`` refuses to append to this path.

    This is the X157 contract's ingest half made storable in batch:
    codes joined once at ingest, so SERVING loads this index and never
    touches the raw vector column (:func:`ann_join_pq` over the loaded
    frame). Plain parquet, no sidecar format."""
    _validate_cents6(cents6, "save_pq_index")
    _validate_books6(books6, "save_pq_index")
    from ..streaming.pipeline import _write_models

    index_df.write.mode("overwrite").parquet(f"{path}/assignments")
    _write_models(
        index_df.sparkSession, path, {"cents6": cents6, "books6": books6}
    )


def save_bq_index(
    index_df: DataFrame,
    cents6: list[list[int]],
    sums6: list[int],
    n_fit: int,
    path: str,
) -> None:
    """Persist an IVF-BQ BIT index (X171) — the batch twin of the
    streaming ingest (``streaming.pipeline.bq_index_stream``), writing
    the SAME layout so ``load_bq_index`` reads either: the ``(id,
    __cell, __bits)`` frame as parquet under ``{path}/assignments``
    and the two frozen models beside it (quantizer; per-dim threshold
    sums AND the training count n — each O(model) in one file), written
    by ``streaming.pipeline._write_models``, the one model layout the
    stream also writes; ``bq_index_stream`` refuses to append to the
    flat assignments written here. Serving loads this index
    and never touches the raw vector column (:func:`ann_join_bq` over
    the loaded frame); the X166 tombstone utilities apply unchanged.
    Plain parquet, no sidecar format."""
    _validate_cents6(cents6, "save_bq_index")
    if len(sums6) < 1:
        raise ValueError("save_bq_index: sums6 must be non-empty")
    if n_fit < 1:
        raise ValueError(f"save_bq_index: n_fit={n_fit} < 1")
    from ..streaming.pipeline import _write_models

    index_df.write.mode("overwrite").parquet(f"{path}/assignments")
    _write_models(
        index_df.sparkSession, path,
        {"cents6": cents6, "bqmodel": (sums6, n_fit)},
    )


def pq_index_delete(
    index_path: str,
    ids_df: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Mark rows of a stored coded index as DELETED (X166) — the LSM
    bargain applied to the :func:`save_pq_index` /
    ``pq_index_stream`` layout: deletion appends the doomed ids as a
    TOMBSTONE parquet under ``{index_path}/tombstones`` (O(deletes),
    one small append) instead of rewriting the corpus-sized
    assignments table (O(index), a full-scan write no one runs per
    delete batch at 100 TB). Serving (``load_pq_index`` with its
    default ``apply_tombstones=True``) subtracts tombstones with one
    anti-join that broadcasts from stats while the tombstone set is
    small; the append changes the index's file fingerprint, so the
    next ``load_pq_index`` of the path reloads, even one in the same
    session as a cached load, and serves without the deleted ids.
    :func:`pq_index_compact` folds them into the assignments
    and resets the set — run it when tombstones grow past a few
    percent of the index. Ids never present in the index are a no-op
    (the anti-join simply matches nothing). Deleting and re-ingesting
    the same id is NOT supported without a compact between — the
    tombstone would keep shadowing the new row; compact first (the
    standard LSM delete-then-reinsert rule)."""
    ids_df.select(F.col(id_col)).distinct().write.mode("append").parquet(
        f"{index_path}/tombstones"
    )


def pq_index_compact(spark, index_path: str) -> tuple[int, int]:
    """Fold tombstones into a stored coded index (X166): rewrite
    ``{index_path}/assignments`` minus the tombstoned ids, then drop
    the tombstone set — returns ``(kept, dropped)``. The rewritten
    table holds the index columns only: a streamed index's
    ``ingest_batch_id`` partition column is not written. When no
    tombstones exist, or none of them names an indexed id, it returns
    ``(n, 0)`` and leaves ``assignments/`` untouched (the unmatched
    tombstone set is still dropped). The rewritten assignments are flat
    part files, so an index stream refuses the path afterwards.

    The rewrite goes through a temp dir + rename swap (write
    ``assignments__compact``, remove the old dir, rename into place),
    so a reader never sees a half-written table; the swap itself is
    two metadata ops, not atomic ACROSS them — on a crash in the gap
    the full compacted table survives at the temp path (recovery =
    finish the rename by hand; production object stores would use the
    pipeline's versioned-state commit-marker protocol instead of
    rename). Cost is one aggregate over the index and its live rows
    plus, when a tombstone matched, one full index scan + write — the
    amortized price the per-delete O(deletes) appends defer, scheduled
    like any other compaction."""
    from ..streaming.pipeline import _hadoop_fs, _live_assignments

    fs, tpath = _hadoop_fs(spark, f"{index_path}/tombstones")
    idx = _live_assignments(spark, index_path, False)
    if not fs.exists(tpath):
        return int(idx.count()), 0
    compacted = _live_assignments(spark, index_path, True)
    # all rows and live rows in ONE aggregate job, not two counts
    st = (
        idx.select(F.lit(1).alias("__all"), F.lit(0).alias("__live"))
        .unionAll(
            compacted.select(F.lit(0).alias("__all"), F.lit(1).alias("__live"))
        )
        .agg(F.sum("__all").alias("total"), F.sum("__live").alias("kept"))
        .collect()[0]
    )
    total, kept = int(st["total"] or 0), int(st["kept"] or 0)
    if kept < total:
        tmp = f"{index_path}/assignments__compact"
        compacted.write.mode("overwrite").parquet(tmp)
        _, apath = _hadoop_fs(spark, f"{index_path}/assignments")
        _, tmppath = _hadoop_fs(spark, tmp)
        fs.delete(apath, True)
        fs.rename(tmppath, apath)
    fs.delete(tpath, True)
    return kept, total - kept


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a :func:`save_ivf_index` index: ``(assignments_df,
    centroids)``. The centroids collect is |cells| rows — model state,
    the approved O(model) class — and raises unless the stored cell ids
    are exactly 0..n-1 (``streaming.pipeline._read_model``)."""
    from ..streaming.pipeline import _read_model

    assignments = spark.read.parquet(f"{path}/assignments")
    return assignments, _read_model(spark, path, "centroids")


def _q6_base(
    df: DataFrame, dim: int, vec_col: str, id_col: str
) -> DataFrame:
    """``(__id, __q6)`` — the shared quantize-and-filter projection of
    every integer-L2 lifecycle operator: NULL vectors, NULL components
    and rows of a dimensionality other than ``dim`` drop (the
    :func:`kmeans_fit_quantized` unquantizable-row rule).

    Deliberately NO ``spread_scan`` here (r14 measurement): this
    projection is constructed per fit iteration / encode / assign pass,
    so the round-robin exchange of raw vectors and the per-construction
    metadata probe REPEAT — a same-session A/B over the 9 consumers
    measured auto 74.2 s vs off 53.9 s (q_kmeans_fit 16.1 -> 7.7,
    q_ann_bq_wide 11.9 -> 4.9, q_bq_serve 4.3 -> 2.2). spread_scan
    stays where one narrow scan feeds one genuinely heavy derivation
    (bootstrap/perm-test fan-outs, shingling) — not on this shared
    projection."""
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), _u6_quantized(vec_col).alias("__q6"))
        .where(
            F.expr(
                f"size(__q6) = {dim} AND NOT exists(__q6, x -> x IS NULL)"
            )
        )
    )


def _residual_q6(base: DataFrame, cents6: list[list[int]]) -> DataFrame:
    """``(__id, __q6, __cell)`` — each row's nearest-cell assignment
    plus its RESIDUAL ``q6 - cents6[cell]`` replacing ``__q6``: the
    FAISS IVFPQ layout (``by_residual=true``, the library default)
    where PQ codebooks describe the DISPLACEMENT from the coarse
    centroid instead of the absolute vector, re-expressed in the
    engine's exact integer space. Residuals of u6 longs are u6 longs
    (subtraction is closed), so every downstream fit/encode/ADC stays
    bit-replayable cross-engine — the property float residuals could
    not keep. One narrow projection: the argmin is the shared
    :func:`_l2q_scored` train/serve metric, the centroid matrix rides
    as a KB-scale literal, and the subtraction is a single
    ``zip_with`` against one ``element_at`` lookup — no join, no
    shuffle."""
    centlit = sql_array_lit([[int(v) for v in c] for c in cents6])
    best = F.array_min(_l2q_scored("__q6", cents6))
    return base.select(
        "__id", "__q6", best["cell"].cast("int").alias("__cell")
    ).select(
        "__id",
        F.zip_with(
            F.col("__q6"),
            F.element_at(centlit, F.col("__cell") + 1),
            lambda a, b: a - b,
        ).alias("__q6"),
        "__cell",
    )


def _validate_cents6(cents6: list[list[int]], who: str) -> int:
    if not cents6:
        raise ValueError(f"{who}: cents6 must be non-empty")
    dim = len(cents6[0])
    if any(len(c) != dim for c in cents6):
        raise ValueError(f"{who}: cents6 rows disagree on dimensionality")
    if dim > _WIDE_MAX_DIM:
        raise ValueError(
            f"{who}: dim={dim} exceeds the plan-size ceiling "
            f"{_WIDE_MAX_DIM} (the kmeans_fit_quantized "
            "wide-agg/literal-matrix bound)"
        )
    return dim


def split_hot_cells(
    corpus_df: DataFrame,
    cents6: list[list[int]],
    hot_factor: float = 2.0,
    max_splits: int = 1,
    sub_cells: int = 2,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[int]], DataFrame]:
    """IVF hot-cell rebalance (X148) — detect oversized cells and SPLIT
    them by a sub-fit over their members only, emitting a reassignment
    DELTA instead of a full index rebuild (the incremental
    signature-table precedent applied to the quantizer).

    A cell is HOT when its member count exceeds ``hot_factor`` x the
    mean (``n * n_cells > hot_factor * total`` — one IEEE multiply per
    side, SQL-replayable); the ``max_splits`` hottest (ties to the
    lowest cell id) each get a ``sub_cells``-way exact quantized
    k-means sub-fit (:func:`_kmeans_init` and :func:`_lloyd_iterate`,
    the :func:`kmeans_fit_quantized` init and update). Sub-centroid 0
    REUSES the hot cell's id (its members' cell stays valid where they
    re-assign to it — the majority), sub-centroid ``j>0`` takes the
    next fresh id ``len(cents6) + ...``; a hot cell with fewer than
    ``sub_cells`` members is skipped (nothing to split).

    Returns ``(new_cents6, delta)`` where ``delta`` holds ONLY the rows
    that MOVED: ``(id_col, old_cell, new_cell, d2_new)`` with
    ``d2_new`` the exact integer squared-L2 to the row's new centroid
    (pinning the sub-fit's centroid values, not just the partition of
    ids). Apply with :func:`apply_assignment_delta`.

    Scale shape: the corpus is quantized + argmin-assigned in ONE
    narrow projection (localCheckpointed — reused by the count pass
    and every sub-fit scan); cell counts are a map-side-combinable
    O(n_cells) collect; each sub-fit touches ONLY the hot cell's
    members (iters+1 filtered scans of the checkpointed frame); the
    delta is member-bounded, so at 100 TB a rebalance costs
    O(hot-cell bytes), never O(corpus). The corpus is never shuffled —
    every aggregation partial-combines on the cell key."""
    dim = _validate_cents6(cents6, "split_hot_cells")
    if sub_cells < 2:
        raise ValueError(f"sub_cells must be >= 2, got {sub_cells}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if max_splits < 1:
        raise ValueError(f"max_splits must be >= 1, got {max_splits}")
    if hot_factor <= 0:
        raise ValueError(f"hot_factor must be > 0, got {hot_factor}")
    from pyspark.sql import types as T

    best = F.array_min(_l2q_scored("__q6", cents6))
    base = (
        _q6_base(corpus_df, dim, vec_col, id_col)
        .select("__id", "__q6", best["cell"].alias("__cell"))
        .localCheckpoint(eager=True)
    )
    counts = {
        int(r["__cell"]): int(r["n"])
        for r in base.groupBy("__cell").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    total = sum(counts.values())
    n_cells = len(cents6)
    hot = sorted(
        (c for c, n in counts.items() if n * n_cells > hot_factor * total),
        key=lambda c: (-counts[c], c),
    )[:max_splits]

    new_cents = [list(c) for c in cents6]
    next_id = n_cells
    deltas: list[DataFrame] = []
    for h in hot:
        if counts[h] < sub_cells:
            continue
        members = base.where(F.col("__cell") == h)
        init = _kmeans_init(members, sub_cells, "split_hot_cells", "sub_cells")
        sub = _lloyd_iterate(members, init, iters, dim)
        best_sub = F.array_min(_l2q_scored("__q6", sub))
        first_new = next_id
        deltas.append(
            members.select(
                "__id",
                best_sub["cell"].alias("__sub"),
                best_sub["d2"].alias("__d2"),
            )
            .where(F.col("__sub") != 0)
            .select(
                F.col("__id").alias(id_col),
                F.lit(h).cast("int").alias("old_cell"),
                (F.lit(first_new) + F.col("__sub") - 1)
                .cast("int")
                .alias("new_cell"),
                F.col("__d2").cast("long").alias("d2_new"),
            )
        )
        new_cents[h] = sub[0]
        new_cents.extend(sub[1:])
        next_id += sub_cells - 1

    if deltas:
        delta = deltas[0]
        for d in deltas[1:]:
            delta = delta.unionByName(d)
    else:
        delta = corpus_df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(id_col, corpus_df.schema[id_col].dataType),
                    T.StructField("old_cell", T.IntegerType()),
                    T.StructField("new_cell", T.IntegerType()),
                    T.StructField("d2_new", T.LongType()),
                ]
            ),
        )
    return new_cents, delta


def apply_assignment_delta(
    assignments: DataFrame, delta: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Fold a :func:`split_hot_cells` delta into a persisted assignment
    table: one LEFT join on the id — the delta side is hot-cell-member
    bounded (far smaller than the index), so the planner broadcasts it
    from stats and the stored assignment never shuffles. The result is
    the SPLIT-REFINED index: hot-cell members partitioned among that
    cell's children by the sub-fit, every other row untouched. That is
    deliberately NOT a global re-assignment under the new centroid set
    — re-evaluating every row against the new children would be the
    full rebuild the delta exists to avoid; a row in a cold cell that
    would now sit marginally closer to a new child keeps its cell (the
    standard IVF local-refinement trade, recovered at query time by
    ``n_probe``)."""
    d = delta.select(F.col(id_col), F.col("new_cell"))
    return assignments.join(d, on=id_col, how="left").select(
        id_col,
        F.coalesce("new_cell", "__cell").cast("int").alias("__cell"),
    )


def kmeans_state(
    df: DataFrame,
    cents6: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Mergeable k-means sufficient statistics (X149): one row per
    non-empty cell — ``(cell, n, sums)`` with ``sums[d]`` the EXACT
    integer component sum of the cell's members under the FROZEN
    quantizer ``cents6`` (the X142 frozen-quantizer serving rule:
    batches are always assigned by the centroids the state was opened
    with; re-clustering is an offline rebuild). Because the statistics
    are exact integers, merging states (:func:`merge_kmeans_states`)
    then finalizing (:func:`kmeans_refit`) equals the full-corpus
    recompute bit-for-bit — the mergeable-state discipline that lets
    the quantizer track corpus drift one batch at a time with no
    rescan. One narrow scan; the only shuffle is the
    map-side-combinable cell aggregation; output is O(n_cells) model
    state."""
    dim = _validate_cents6(cents6, "kmeans_state")
    best = F.array_min(_l2q_scored("__q6", cents6))
    return _cell_sums(
        _q6_base(df, dim, vec_col, id_col).select(
            "__q6", best["cell"].alias("__cell")
        ),
        dim,
    )


def merge_kmeans_states(*states: DataFrame) -> DataFrame:
    """Union + per-cell exact merge of :func:`kmeans_state` frames:
    counts add, component sums add elementwise. States are O(n_cells)
    MODEL frames, so the posexplode/regroup here shuffles model rows
    only — never corpus data."""
    if not states:
        raise ValueError("merge_kmeans_states: need at least one state")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    n_tot = u.groupBy("cell").agg(F.sum("n").alias("n"))
    sums = (
        u.select("cell", F.posexplode("sums").alias("d", "s"))
        .groupBy("cell", "d")
        .agg(F.sum("s").alias("s"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s"))),
                lambda x: x["s"],
            ).alias("sums")
        )
    )
    return n_tot.join(sums, on="cell").select("cell", "n", "sums")


def kmeans_refit(
    state_df: DataFrame, cents6: list[list[int]]
) -> tuple[list[list[int]], dict[int, int]]:
    """Finalize merged statistics into updated centroids: the Lloyd
    update applied to a state table instead of a corpus scan —
    ``new[c] = away_round(sums[d] / n)`` per component, empty cells
    carry their previous centroid. Returns ``(new_cents6,
    n_by_cell)``. The collect is O(n_cells) model state. Combined with
    :func:`kmeans_state`/:func:`merge_kmeans_states` this is
    mini-batch incremental refit: fold each arriving batch's state in
    and finalize — bit-identical to a full recompute over the union
    (pinned by oracle), at the cost of one batch scan instead of a
    corpus rescan."""
    dim = _validate_cents6(cents6, "kmeans_refit")
    stats = [
        (int(r["cell"]), int(r["n"]), r["sums"]) for r in state_df.collect()
    ]
    for c, _, sums in stats:
        if not 0 <= c < len(cents6):
            raise ValueError(
                f"kmeans_refit: state cell {c} outside cents6 range"
            )
        if len(sums) != dim:
            raise ValueError(
                f"kmeans_refit: state sums dim {len(sums)} != {dim}"
            )
    return _refit(cents6, stats), {c: n for c, n, _ in stats}


def psi_gated_refit(
    base_state: DataFrame,
    batch_state: DataFrame,
    cents6: list[list[int]],
    threshold_u6: int = 100_000,
) -> tuple[list[list[int]], dict[int, int], bool]:
    """PSI-gated quantizer update (X152) — the "monitor gates the model"
    composition: drift between the training corpus and an arriving
    batch measured as the X39 PSI arithmetic applied to CELL-OCCUPANCY
    shares (the quantizer's own sufficient statistics — no extra corpus
    pass: both inputs are :func:`kmeans_state` frames the caller
    already has). Laplace-smoothed shares, ``(q-p)*ln(q/p)`` per cell
    computed in SPARK expressions over an O(cells) frame (the proven
    cross-engine ln path, never Python libm), each term quantized to a
    1e-6 INTEGER and integer-summed so the gate compare can never ride
    a float fold order. If the total exceeds ``threshold_u6`` (default
    0.1, the conventional "investigate" PSI), the :func:`kmeans_refit`
    centroids over the MERGED state apply; otherwise the old quantizer
    stands (a refit that moves centroids also moves every stored
    assignment — X150 sizes that cost — so an un-drifted corpus should
    not pay it). Returns ``(final_cents6, psi_u6_by_cell, applied)``.
    """
    dim = _validate_cents6(cents6, "psi_gated_refit")
    del dim
    n_cells = len(cents6)
    spark = base_state.sparkSession
    # the whole PSI arithmetic stays in ONE joined Spark frame (r12
    # verdict): cell spine FULL-joins both O(cells) states, totals ride
    # a one-row cross join, and a SINGLE O(cells) collect returns the
    # per-cell terms plus the batch total the gate needs. CONTRACT:
    # state cells outside [0, n_cells) are a caller error (impossible
    # from kmeans_state, whose assignment is an argmin over cents6) —
    # the FULL join keeps such rows visible so this RAISES on them
    # whether or not the gate fires (r13 ADVICE: the left-join form
    # silently dropped them, and kmeans_refit's own range check only
    # ran when the gate fired).
    spine = spark.range(n_cells).select(F.col("id").cast("int").alias("cell"))
    j = (
        spine.join(
            base_state.select("cell", F.col("n").alias("n_base")),
            on="cell",
            how="full",
        )
        .join(
            batch_state.select("cell", F.col("n").alias("n_curr")),
            on="cell",
            how="full",
        )
        .select(
            "cell",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_curr", F.lit(0)).cast("long").alias("n_curr"),
        )
    )
    totals = j.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_curr").alias("__tc")
    )
    sb = (F.col("n_base") + 1).cast("double") / (
        (F.col("__tb") + n_cells).cast("double")
    )
    sc = (F.col("n_curr") + 1).cast("double") / (
        (F.col("__tc") + n_cells).cast("double")
    )
    psi_rows = (
        j.crossJoin(totals)
        .select(
            "cell",
            "__tc",
            F.round(((sc - sb) * F.log(sc / sb)) * F.lit(1000000.0))
            .cast("long")
            .alias("psi_u6"),
        )
        .collect()
    )
    psi_by_cell = {int(r["cell"]): int(r["psi_u6"]) for r in psi_rows}
    bad = sorted(c for c in psi_by_cell if c < 0 or c >= n_cells)
    if bad:
        raise ValueError(
            f"psi_gated_refit: state rows reference cells outside "
            f"[0, {n_cells}): {bad[:8]} — malformed caller state "
            "(kmeans_state cannot produce these)"
        )
    tc = int(psi_rows[0]["__tc"]) if psi_rows else 0
    # an EMPTY batch must never fire the gate: with tc=0 the smoothed
    # current shares are uniform 1/n_cells, which reads as "drift"
    # against any non-uniform base — but nothing arrived, so there is
    # nothing to learn (and the merged refit would just be a base-only
    # Lloyd step the caller did not ask for)
    applied = tc > 0 and sum(psi_by_cell.values()) > threshold_u6
    if applied:
        final_cents, _ = kmeans_refit(
            merge_kmeans_states(base_state, batch_state), cents6
        )
    else:
        final_cents = [list(c) for c in cents6]
    return final_cents, psi_by_cell, applied


def assignment_moves(
    df: DataFrame,
    old_cents6: list[list[int]],
    new_cents6: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Reassignment-drift audit (X150): the ``(old_cell, new_cell, n)``
    transition matrix of a corpus between two quantizer versions — the
    sizing read a maintainer runs BEFORE committing a refit or split
    (how many rows would move, and where?). One narrow scan with both
    centroid matrices as literals, one map-side-combinable groupBy on
    the (old, new) pair — O(|old| x |new|) output, corpus never
    shuffled."""
    dim = _validate_cents6(old_cents6, "assignment_moves(old)")
    dim_new = _validate_cents6(new_cents6, "assignment_moves(new)")
    if dim_new != dim:
        raise ValueError(
            "assignment_moves: old/new centroid dimensionality differs"
        )
    old_best = F.array_min(_l2q_scored("__q6", old_cents6))
    new_best = F.array_min(_l2q_scored("__q6", new_cents6))
    return (
        _q6_base(df, dim, vec_col, id_col)
        .select(
            old_best["cell"].cast("int").alias("old_cell"),
            new_best["cell"].cast("int").alias("new_cell"),
        )
        .groupBy("old_cell", "new_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def group_capped_topk(
    df: DataFrame,
    partition_cols: list[str],
    group_cols: list[str],
    order_by: list,
    per_group: int,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-``k`` rows per partition with at most ``per_group`` rows per
    group — source-diversity capping for retrieval results (the
    production pattern for "no single domain/shard dominates a query's
    contexts"; the retrieval-side sibling of the provenance layer's
    domain_caps). ``order_by`` is a list of Columns (e.g.
    ``[F.desc("sim"), F.col("id")]``) and must be a TOTAL order for
    deterministic output; ``rank_col`` is the 1..k re-rank AFTER
    capping.

    Plan: ONE explicit hash exchange on the partition cols serves BOTH
    ``row_number`` windows — ``HashPartitioning(partition_cols)``
    satisfies the group window's ``ClusteredDistribution(partition +
    group)`` by the subset rule, where letting the planner pick would
    insert a second exchange on (partition, group) that the
    partition-only window then cannot reuse. Each window still
    WindowGroupLimit-pre-limits its pass, so a query with 10^6
    candidates sorts locally and ships nothing extra. Never a global
    sort."""
    if per_group < 1:
        raise ValueError(f"per_group must be >= 1, got {per_group}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    df = df.repartition(*[F.col(c) for c in partition_cols])
    wg = Window.partitionBy(*partition_cols, *group_cols).orderBy(*order_by)
    wp = Window.partitionBy(*partition_cols).orderBy(*order_by)
    return (
        df.withColumn("__gr", F.row_number().over(wg))
        .where(F.col("__gr") <= per_group)
        .drop("__gr")
        .withColumn(rank_col, F.row_number().over(wp))
        .where(F.col(rank_col) <= k)
    )


def mmr_rerank(
    cand_df: DataFrame,
    k: int,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "corpus_id",
    rel_col: str = "sim",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    over a per-query candidate frame: greedily pick ``k`` candidates per
    query maximizing ``lam * relevance - (1 - lam) * max_sim_to_already_
    picked`` — diversity by CONTENT, the complement of
    :func:`group_capped_topk`'s diversity by source label. Returns
    ``(query_col, id_col, rel_col, rank)``, rank = selection order.

    Distributed shape: the selected set is never collected — each of
    the ``k`` rounds is ONE ``max_by`` aggregation per query (the
    argmax) plus ONE equi-join of the surviving candidates against
    that round's single pick per query, updating a RUNNING max-pairsim
    column (``greatest(old, sim(cand, new_pick))`` — incremental, so
    round t costs O(|candidates|), never O(|candidates| * t)). State
    is localCheckpointed per round (the logreg/pagerank iterative
    discipline: plans would otherwise double per round). Candidates
    per query are bounded by construction (they come from a top-m
    retrieval like :func:`ann_join`), so every round's frames are
    |Q| x m — at 100 TB the corpus cost was already paid upstream.

    Determinism / cross-engine parity: pairwise sims and scores are
    half-even-quantized at ``round_to`` BEFORE every argmax; ties break
    to the lowest candidate id. The running max-pairsim starts at the
    -2.0 sentinel (below any cosine), NOT 0: round 1's scores shift by
    a per-query constant (pure-relevance argmax preserved) and — the
    real reason — a candidate whose every pairwise sim is NEGATIVE
    keeps its true max instead of a spurious 0 floor. Queries with
    fewer than ``k`` candidates return all of them in MMR order."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    om = 1.0 - lam

    def rnd(col: Column) -> Column:
        return F.bround(col, round_to) if round_to is not None else col

    # r15 optimization (guide §2.1 — the loop becomes one expression):
    # the r14 form ran k rounds of groupBy-argmax + equi-join with two
    # localCheckpoints per round — 29 single-task scheduled jobs for
    # k=5 at sf0.1, pure job latency since every frame is |Q| x m. The
    # per-query candidate set is m-bounded by construction (top-m
    # retrieval upstream), so the whole greedy selection folds into ONE
    # aggregate(sequence(1, k)) expression over a collect_list-packed
    # row per query: zero iteration jobs, and the work stays
    # PARTITIONED BY QUERY — better than the join loop at every scale.
    # Arithmetic is replayed term for term (same score/rnd/sim
    # expressions, same (score, -id) argmax collation via struct
    # array_max, same -2.0 sentinel, same incremental greatest()
    # running max), so selections are bit-identical. Cost note: the
    # argmax inside the fold re-evaluates per element (captured
    # expression), making a round O(m^2) element ops instead of O(m) —
    # for retrieval-bounded m this is noise; a caller with unbounded
    # candidate sets pays m^2 where the join loop paid k joins.
    cand = cand_df.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__c"),
        F.col(rel_col).cast("double").alias("__rel"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__n"),
    ).where(F.col("__n") > 0)
    packed = cand.groupBy("__q").agg(
        F.collect_list(
            F.struct(
                F.col("__c").alias("c"), F.col("__rel").alias("rel"),
                F.col("__v").alias("v"), F.col("__n").alias("n"),
            )
        ).alias("cs")
    )

    def score(x):
        return rnd(F.lit(lam) * x["rel"] - F.lit(om) * x["ms"])

    def step(st, i):
        cands = st["cands"]
        best = F.array_max(
            F.transform(
                cands,
                lambda x: F.struct(
                    score(x).alias("s"), (-x["c"]).alias("nc"),
                    x["c"].alias("c"), x["rel"].alias("rel"),
                    x["v"].alias("v"), x["n"].alias("n"),
                ),
            )
        )
        new_cands = F.transform(
            F.filter(cands, lambda x: x["c"] != best["c"]),
            lambda x: F.struct(
                x["c"].alias("c"), x["rel"].alias("rel"),
                x["v"].alias("v"), x["n"].alias("n"),
                F.greatest(
                    x["ms"],
                    rnd(dot(x["v"], best["v"]) / (x["n"] * best["n"])),
                ).alias("ms"),
            ),
        )
        new_picks = F.concat(
            st["picks"],
            F.array(
                F.struct(
                    best["c"].alias("c"), best["rel"].alias("rel"),
                    i.cast("int").alias("rank"),
                )
            ),
        )
        return F.when(
            F.size(cands) > 0,
            F.struct(new_cands.alias("cands"), new_picks.alias("picks")),
        ).otherwise(st)

    cands0 = F.transform(
        F.col("cs"),
        lambda x: F.struct(
            x["c"].alias("c"), x["rel"].alias("rel"), x["v"].alias("v"),
            x["n"].alias("n"), F.lit(-2.0).alias("ms"),
        ),
    )
    # empty picks array of the generic (c-typed) pick struct: a slice of
    # length 0 keeps the element type without naming it
    picks0 = F.slice(
        F.transform(
            F.col("cs"),
            lambda x: F.struct(
                x["c"].alias("c"), x["rel"].alias("rel"),
                F.lit(0).cast("int").alias("rank"),
            ),
        ),
        1, 0,
    )
    final = F.aggregate(
        F.sequence(F.lit(1), F.lit(k)),
        F.struct(cands0.alias("cands"), picks0.alias("picks")),
        step,
    )
    return packed.select("__q", F.explode(final["picks"]).alias("__p")).select(
        F.col("__q").alias(query_col),
        F.col("__p.c").alias(id_col),
        F.col("__p.rel").alias(rel_col),
        F.col("__p.rank").alias("rank"),
    )


def knn_graph(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    dim: int | None = None,
) -> DataFrame:
    """(id, neighbor_id, rank, sim) — each vector's top-``k`` cosine
    neighbors WITHIN its coarse-quantizer cell (rank 1 = nearest; ties
    break on the neighbor id). The k-NN graph is the substrate for
    graph-based semantic dedup, label propagation, outlier scoring, and
    HNSW-style index seeding — `semantic_dedup` is the thresholded
    special case of clustering over exactly this structure.

    Scale design (100 TB): reuses `embedding_near_dups`' cell-blocked
    pair generation verbatim (norms hoisted once per vector, shuffle
    only on the cell key, the documented IVF within-cell trade) with the
    threshold OPEN (-1 covers the cosine range); the per-vector top-k is
    one row_number window over the PAIR table partitioned by vector id —
    candidate-sized, not corpus-squared. Vectors alone in their cell
    have no neighbors and emit no rows (raise k or re-quantize coarser,
    the IVF recall dial).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pairs = embedding_near_dups(
        df, -1.0, vec_col=vec_col, id_col=id_col, block_col=block_col,
        dim=dim,
    )
    sym = pairs.select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("neighbor_id"),
        "sim",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias(id_col),
            F.col("id_a").alias("neighbor_id"),
            "sim",
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("sim"), F.col("neighbor_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "neighbor_id", F.col("rank").cast("long"), "sim")
    )


# UnsafeRow footprint of one (long node, long cluster) label row plus
# broadcast-table overhead — deliberately generous so the gate
# under-broadcasts, never over-broadcasts (the failure mode that OOMs
# the driver).
_LABEL_ROW_BYTES = 64


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    broadcast_max_bytes: int = 64 << 20,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space deduplication as one
    keep/drop decision PER VECTOR — cell-blocked cosine near-dup pairs
    (`embedding_near_dups`), transitive closure into clusters
    (`connected_components`), min-id representative per cluster. Output
    is full-corpus: (id, cluster_id, keep) for EVERY input row —
    singletons (no near-dup edge) are their own cluster and always kept,
    so ``keep = 1`` rows ARE the semantically-deduplicated corpus and
    ``keep = 0`` rows carry their surviving representative's id for
    provenance/attribution.

    Scale design (100 TB): the pair stage shuffles only on the coarse-
    quantizer cell (never an all-pairs corpus join — the IVF trade
    documented on `embedding_near_dups`); the closure runs on the
    PAIR-INCIDENT subgraph only (vanishing vs the corpus for real
    corpora, so its label frame broadcasts back); the final assignment is
    one join + projection over the corpus. The broadcast is SIZE-GATED,
    not assumed (same discipline as `contamination.ngram_contamination`):
    the label frame is checkpoint-materialized by the CC run, so a
    ``count()`` probe is one cheap cached action, and an adversarial
    near-dup-dense corpus — where the label frame IS corpus-sized — takes
    the plain-join path and lets AQE pick the strategy instead of forcing
    a driver-OOM broadcast. Quality-aware representative choice: use
    `graph.cluster_representatives` with a quality column instead of the
    min-id convention here.
    """
    from .graph import connected_components

    pairs = embedding_near_dups(
        df, threshold, vec_col=vec_col, id_col=id_col, block_col=block_col,
        dim=dim,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    lab = cc.select(
        F.col("node").alias(id_col), F.col("cluster").alias("__cl")
    )
    if cc.count() * _LABEL_ROW_BYTES <= broadcast_max_bytes:
        lab = F.broadcast(lab)
    cid = F.coalesce(F.col("__cl"), F.col(id_col).cast("long"))
    return (
        df.select(id_col)
        .join(lab, on=id_col, how="left")
        .select(
            id_col,
            cid.alias("cluster_id"),
            (cid == F.col(id_col)).cast("int").alias("keep"),
        )
    )


def centroid_outliers(
    df: DataFrame,
    top_frac: float = 0.01,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """(id, label, dist2, rank): the ``top_frac`` of each label's vectors
    FARTHEST from their label centroid (rank 1 = farthest; ties break to
    the smaller id) — embedding-space outlier mining: mislabeled items,
    encoder failures, and off-distribution content live in a cluster's
    tail, and reviewing the per-cluster top-1% is the standard curation
    audit.

    Exactness: centroids are ratios of 1e-6-quantized EXACT integer sums
    (the ``label_centroids`` discipline); each (x_j - c_j)^2 term is
    half-even-quantized to 1e-12 and summed as exact decimal integers, so
    dist2 is bit-identical across engines and partial-agg merge orders.

    Scale design (100 TB): posexplode collapses map-side into the
    (|labels| x dim)-bounded sufficient-statistics table; the centroid
    join back is on (label, dim) against that bounded table (AQE
    broadcasts it); per-label ranking is a row_number window whose
    partitions are label-sized — under the cells-∝-N discipline
    (``resolve_n_cells``) labels stay ``target_cell_size``-bounded, so
    no partition grows with the corpus.
    """
    if not 0 < top_frac <= 1:
        raise ValueError(f"top_frac must be in (0, 1], got {top_frac}")
    from pyspark.sql import Window

    u6 = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    ex = df.select(
        F.col(id_col), F.col(label_col).alias("label"),
        F.posexplode(u6).alias("dim", "__u6"),
    )
    cent = (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__u6").cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            "label", "dim",
            (
                F.col("__s").cast("double")
                / (F.col("__n") * F.lit(1_000_000))
            ).alias("__c"),
            "__n",
        )
    )
    term = F.round(
        F.bround(
            (F.col("__u6").cast("double") / F.lit(1e6) - F.col("__c"))
            * (F.col("__u6").cast("double") / F.lit(1e6) - F.col("__c")),
            12,
        )
        * F.lit(1e12)
    ).cast("decimal(38,0)")
    dist = (
        ex.join(cent, ["label", "dim"])
        .groupBy(id_col, "label")
        .agg(
            (F.sum(term).cast("double") / F.lit(1e12)).alias("dist2"),
            F.first("__n").alias("__n"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist2"), F.col(id_col)
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= F.ceil(F.lit(top_frac) * F.col("__n")))
        .select(id_col, "label", "dist2", "rank")
    )


def kcenter_coreset(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(center_rank, id, cover_dist2): ``k`` greedy k-center picks — the
    classic 2-approximation coreset: start from the min-id vector
    (deterministic seed), then repeatedly take the point FARTHEST from
    the already-selected set (max over points of min over centers of
    squared distance; ties to the smaller id). The selection order is a
    diversity ranking and ``cover_dist2`` (the winner's distance at
    selection, NULL for the seed) is the shrinking covering-radius
    sequence — the standard diverse-subset pick for labeling budgets,
    eval-set construction and prototype selection.

    Scale design (100 TB): the selected centers are BOUNDED MODEL STATE
    (k vectors, driver-side); each round updates a per-point running
    min-distance with ONE scan against the single newest center (a
    narrow map — never a |points| x |centers| join) followed by a
    TakeOrdered(1) argmax; per-round state is ``localCheckpoint``'d
    (the iterative-lineage rule). Total cost: k corpus scans — the
    textbook trade; sample first for k beyond the labeling-budget
    regime.

    Cross-engine exactness: distances fold sequentially in array order
    (the cosine/k-NN discipline) and are half-even-quantized to 1e-9
    before the running min and the argmax, so every round's selection
    is bit-identical across engines and partitionings.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def dist2(center: list[float]):
        c = sql_array_lit([float(v) for v in center])
        sq = F.zip_with(
            F.col("__v"), c,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        )
        return F.bround(
            F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 9
        )

    pts = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    seed = pts.orderBy("__id").limit(1).collect()
    if not seed:
        return df.sparkSession.createDataFrame(
            [], f"center_rank long, {id_col} long, cover_dist2 double"
        )
    chosen = [(1, int(seed[0]["__id"]), None)]
    state = pts.select(
        "__id", "__v", dist2(list(seed[0]["__v"])).alias("__mind2")
    ).localCheckpoint(eager=True)
    for r in range(2, k + 1):
        ids = [c[1] for c in chosen]
        best = (
            state.where(~F.col("__id").isin(ids))
            .orderBy(F.desc("__mind2"), F.col("__id"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # fewer distinct points than k
        chosen.append((r, int(best[0]["__id"]), float(best[0]["__mind2"])))
        prev = state
        state = state.select(
            "__id", "__v",
            F.least("__mind2", dist2(list(best[0]["__v"]))).alias("__mind2"),
        ).localCheckpoint(eager=True)
        prev.unpersist()
    state.unpersist()
    return inline_rows_df(
        df.sparkSession,
        chosen,
        [("center_rank", "BIGINT"), (id_col, "BIGINT"),
         ("cover_dist2", "DOUBLE")],
    )

def label_noise_audit(
    graph: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    min_disagree: float = 0.5,
) -> DataFrame:
    """(id, label, n_neighbors, n_disagree, disagree_frac): the k-NN
    label-consistency audit — items whose graph neighborhood votes
    against their own label at >= ``min_disagree`` are the mislabeled-
    example suspects a labeling-quality review queues first (the
    "confident learning" neighborhood heuristic reduced to its exact,
    engine-portable core).

    ``graph`` is a (id, neighbor_id, ...) k-NN edge table — build it
    once with :func:`knn_graph` and REUSE it (the r6 shared-graph
    discipline: production never rebuilds the candidate stage per
    consumer). Fractions are exact int ratios shipped unrounded; the
    fence compares against the exact rational, no float rounding
    needed.

    Scale: two label equi-joins onto the edge table (k·|items| rows)
    and one per-id aggregation; no windows, no corpus scans.
    """
    if not 0 < min_disagree <= 1:
        raise ValueError(f"min_disagree must be in (0, 1], got {min_disagree}")
    lab = labels.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lab")
    )
    e = graph.select(
        F.col(id_col).alias("a"), F.col("neighbor_id").alias("b")
    )
    j = (
        e.join(lab.withColumnRenamed("__id", "a").withColumnRenamed("__lab", "la"), "a")
        .join(lab.withColumnRenamed("__id", "b").withColumnRenamed("__lab", "lb"), "b")
    )
    agg = j.groupBy("a", "la").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum((~F.col("lb").eqNullSafe(F.col("la"))).cast("long")).alias(
            "n_disagree"
        ),
    )
    frac = F.col("n_disagree").cast("double") / F.col("n_neighbors").cast(
        "double"
    )
    return (
        agg.where(
            F.col("n_disagree") * F.lit(1.0)
            >= F.lit(min_disagree) * F.col("n_neighbors")
        )
        .select(
            F.col("a").alias(id_col),
            F.col("la").alias(label_col),
            "n_neighbors",
            "n_disagree",
            frac.alias("disagree_frac"),
        )
    )


def silhouette_by_label(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """(label, n, mean_silhouette): the simplified (centroid-based)
    silhouette per label — "are these labels actually geometric
    clusters": a(i) = distance to the OWN label centroid, b(i) = min
    distance to any OTHER label's centroid, s(i) = (b-a)/max(a,b) —
    the medoid-free variant (Hruschka et al.'s simplified silhouette)
    whose per-point cost is |labels| centroid distances instead of the
    classic O(n) pairwise pass, which is the only form that survives a
    corpus-sized n. Near +1: tight, well-separated labels (IVF cells
    and X52 centroid-outlier fences will behave); near 0: overlapping
    label geometry (semantic dedup across labels will fire); negative:
    points sit closer to a FOREIGN centroid — label noise (X97's
    audit) or a collapsed embedding space.

    Exactness: components quantize to micro-units u6 = round(x*1e6)
    (the label_centroids contract); the own/other squared distance per
    (point, label) is the exact integer sum((n_c*u6_d - S_d)^2) in
    decimal(38,0) over the centroid's exact integer sums S_d, divided
    ONCE by (n_c*1e6)^2 — so the b-argmin compares exact-int double
    ratios and sqrt is the one transcendental: s(i) brounds at 1e-9,
    sums in decimal, and the label mean is sum/1e9/n in fixed op
    order. s(i) = 0 when a = b = 0 (point ON a shared centroid);
    single-label corpora yield NULL mean (no "other" centroid). NULL
    label/vector rows are excluded.

    Scale: one (label, dim) partial aggregation, an L-row broadcast of
    centroid arrays, one map-side-combined groupBy(label) — the
    exploded (point x L) stream never shuffles (the X52 broadcast-
    model-table shape); L is the bounded label vocabulary.
    """
    u6 = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 1e6).cast("long"),
    )
    base = df.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lab"),
        u6.alias("__u"),
    )
    per_dim = base.select(
        "__lab", F.posexplode("__u").alias("dim", "__u6")
    ).groupBy("__lab", "dim").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__u6").cast("decimal(38,0)")).alias("__s"),
    )
    cents = per_dim.groupBy("__lab").agg(
        F.max("__n").alias("__nc"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", "__s"))
            ),
            lambda st: st["__s"],
        ).alias("__cs"),
    ).select(
        F.col("__lab").alias("__clab"), "__nc", "__cs"
    )
    # exact integer squared-distance numerator; one double division
    nc = F.col("__nc").cast("decimal(38,0)")
    num = F.aggregate(
        F.zip_with(
            F.col("__u"),
            F.col("__cs"),
            lambda u, s: (nc * u.cast("decimal(38,0)") - s)
            * (nc * u.cast("decimal(38,0)") - s),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    d2 = num.cast("double") / (
        F.col("__nc").cast("double")
        * F.col("__nc").cast("double")
        * F.lit(1e12)
    )
    pl = base.join(F.broadcast(cents)).select(
        "__id",
        "__lab",
        "__clab",
        d2.alias("__d2"),
    )
    per_point = pl.groupBy("__id", "__lab").agg(
        F.max(F.when(F.col("__lab") == F.col("__clab"), F.col("__d2")))
        .alias("__a2"),
        F.min(F.when(F.col("__lab") != F.col("__clab"), F.col("__d2")))
        .alias("__b2"),
    )
    a = F.sqrt("__a2")
    b = F.sqrt("__b2")
    s = F.when(
        F.greatest(a, b) > 0, F.bround((b - a) / F.greatest(a, b), 9)
    ).otherwise(F.lit(0.0))
    q9 = F.round(s * F.lit(1e9)).cast("decimal(38,0)")
    st = per_point.where(F.col("__b2").isNotNull()).groupBy("__lab").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q9).alias("__sq"),
    )
    # single-label corpora: every __b2 is NULL -> group filtered out
    # entirely; reintroduce labels with NULL mean via the centroid table
    return (
        cents.select(F.col("__clab").alias("__lab"))
        .join(st, "__lab", "left")
        .select(
            F.col("__lab").alias(label_col),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            (
                F.col("__sq").cast("double")
                / F.lit(1e9)
                / F.col("n").cast("double")
            ).alias("mean_silhouette"),
        )
    )
