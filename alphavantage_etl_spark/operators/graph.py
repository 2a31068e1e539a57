"""Connected components over near-duplicate pair graphs (X2 adjunct).

Near-dup detection (MinHash verify, embedding cosine, exact Jaccard) emits
PAIRS; deduplication needs CLUSTERS: a transitive group {A~B, B~C} must
keep exactly one representative, which pairwise drop rules cannot guarantee
(they see each edge in isolation). Connected components turns the pair list
into (node, cluster) labels with cluster = min node id in the component —
deterministic, so the downstream "keep one per cluster" choice is
reproducible and oracle-checkable (DuckDB: recursive CTE reachability).

Spark-first shape: min-label propagation (the Pregel CC algorithm) as a
loop of DataFrame joins —

    labels(v) <- min(labels(v), min over neighbors u of labels(u))

Each sweep is one shuffle-join (edges x labels on the edge key) plus one
partial-aggregated min; sweeps needed = graph diameter. Near-dup graphs
are dense little clumps (duplicates of a common source), so the diameter
is small — 2-4 sweeps in practice. The loop is driver-side CONTROL FLOW
only (an O(1)-row aggregate per sweep decides convergence); all data stays
distributed. For adversarially long path graphs the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and Beyond")
converges in O(log n) rounds with the same join-per-round building block —
shipped as ``connected_components_star`` (label-frame-identical, pinned by
test); min-propagation stays the default for dedup workloads because its
per-sweep cost is strictly lower and the diameter term is ~constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import free_blocks

# Row-count gates of the small-model tiers, never tied to local core
# counts. Model-sized state (CC's symmetrized edges, pagerank's edges +
# nodes) of at most _MODEL_LOOP_ROWS rows runs its loop on one
# partition; a pagerank graph of at most _INPLAN_GRAPH_ROWS runs the
# packed one-row in-plan loop (see _pagerank_inplan).
_MODEL_LOOP_ROWS = 262144
_INPLAN_GRAPH_ROWS = 4096


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    handles: list[DataFrame] | None = None,
    star_fallback: bool = True,
) -> DataFrame:
    """(node, cluster) for every node incident to an edge; cluster is the
    smallest node id reachable from the node (component minimum).

    Labels only ever decrease, so convergence is detected by comparing the
    label-sum between sweeps (decimal(38) — no overflow for any 64-bit id
    population). Each sweep persists the new label frame and unpersists the
    previous one; pass ``handles=[]`` to also collect the FINAL frame for
    ``operators.dedup.release`` after the caller's last action.

    If ``max_iter`` sweeps do not converge (graph diameter beyond the
    near-dup regime — e.g. a chain of successive page revisions), the
    default is to FINISH with the diameter-independent O(log n)
    large-star/small-star algorithm (``connected_components_star``, label
    frames pinned identical by equivalence test) rather than fail — no
    corpus shape can abort a curation run. ``star_fallback=False`` restores
    the raise for callers that want the cap as a structural assertion.

    Isolated nodes never appear in ``edges`` and so never appear here;
    union the corpus back in with ``coalesce(cluster, id)`` for a total
    assignment (see ``plans.curation``).
    """
    # Checkpoint the DIRECTED edge list before symmetrizing: both union
    # branches (and every sweep's join) would otherwise re-evaluate the
    # upstream pair-generation plan — for near-dup inputs that plan is the
    # expensive part (measured: halves q_dedup_clusters' pair cost).
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).localCheckpoint(eager=True)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    # r14 optimization (guide §2.1/§2.4, the pagerank phase-5 pattern):
    # near-dup edge sets are MODEL-sized next to the corpus, so when the
    # symmetrized edges fit _MODEL_LOOP_ROWS every sweep runs
    # EXCHANGE-FREE — SinglePartition state satisfies each join/agg
    # distribution and merge hints keep the planner off per-join
    # BroadcastExchange query-stage jobs; a sweep collapses to one
    # single-task checkpoint job plus the convergence-sum action.
    # Label values are sets of (node, min) — partition-immune.
    # e.count() is free here (the edge list was just checkpoint-
    # materialized).
    small_model = 2 * e.count() <= _MODEL_LOOP_ROWS
    if small_model:
        sym = sym.coalesce(1).localCheckpoint(eager=True)

    def _hinted(df: DataFrame) -> DataFrame:
        return df.hint("merge") if small_model else df

    # Each sweep CHECKPOINTS (not just persists): persisting caches the data
    # but the logical plan still nests one join level per sweep, and
    # analysis/optimization time grows superlinearly with iteration count —
    # the standard iterative-algorithm lineage blowup. localCheckpoint
    # truncates the plan to the materialized blocks. (On a real cluster
    # with executor churn, swap for a reliable checkpoint directory.)
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nb"))
        .select("node", F.least("node", "nb").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(
        F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]

    converged = False
    for _ in range(max_iter):
        neigh_min = (
            _hinted(sym).join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("cluster").alias("nmin"))
        )
        new_labels = (
            _hinted(labels).join(neigh_min, "node", "left")
            .select(
                "node",
                F.least("cluster", F.coalesce("nmin", "cluster")).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        # new_labels is materialized; the prior sweep's checkpoint blocks
        # are dead. free_blocks unpersists CacheManager state and the
        # rebind below drops the last reference, letting the
        # ContextCleaner reclaim the checkpoint blocks (see free_blocks).
        free_blocks(labels)
        labels = new_labels
        if new_sum == prev_sum:  # monotone decreasing -> fixpoint reached
            converged = True
            break
        prev_sum = new_sum

    if not converged:
        free_blocks(labels)
        if star_fallback:
            # e (the checkpointed directed edge list) is still alive here —
            # the star run re-reads it, then checkpoints its own canonical
            # copy eagerly, after which e's blocks are dead.
            out = connected_components_star(e, "a", "b", handles=handles)
            free_blocks(e)
            return out
        free_blocks(e)
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} sweeps — "
            "graph diameter exceeds the near-dup regime"
        )
    free_blocks(e)  # edge-list checkpoint blocks are no longer needed
    # The result frame is already materialized in the cache (the convergence
    # check was an action over it); returning it cached means downstream
    # actions never replay the sweep lineage. Collect it via ``handles`` for
    # operators.dedup.release, or .unpersist() it after the final action.
    if handles is not None:
        handles.append(labels)
    return labels


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: str | None = None,
    broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """One surviving row per duplicate cluster: the max-quality member
    (ties: min id), or the min-id member when no quality column is given.
    Rows in no cluster (not incident to any near-dup edge) always survive.

    One label join (clusters is |nodes in pairs|-sized, vanishing vs the
    corpus for real corpora) plus one shuffle on cluster id for the
    argmax. The broadcast is SIZE-GATED, not assumed (the semantic_dedup
    discipline): ``clusters`` is checkpoint-materialized by the CC run
    that produces it, so the ``count()`` probe is one cheap cached
    action, and an adversarial near-dup-dense corpus takes the
    plain-join/AQE path instead of a forced driver-OOM broadcast.
    """
    lab = clusters.select(
        F.col("node").alias(id_col), F.col("cluster").alias("__cluster")
    )
    if clusters.count() * 64 <= broadcast_max_bytes:
        lab = F.broadcast(lab)
    tagged = docs.join(lab, id_col, "left").withColumn(
        "__cluster", F.coalesce("__cluster", F.col(id_col).cast("long"))
    )
    # struct ordering is lexicographic, so (quality, -id) makes max_by pick
    # the max-quality member with ties broken by the SMALLER id — exact,
    # unlike any float-packing of the two keys
    if quality_col is None:
        rank_key = F.struct((-F.col(id_col)).alias("nid"))
    else:
        rank_key = F.struct(
            F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid")
        )
    keep = (
        tagged.groupBy("__cluster")
        .agg(F.max_by(id_col, rank_key).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "semi")


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """(node, cluster) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm ``connected_components`` documents as its
    escape hatch, now shipped.

    Min-label propagation needs DIAMETER sweeps; a pathological chain
    A~B~C~...~Z (common when near-dup similarity is transitive-ish, e.g.
    successive revisions of one page) makes the default loop raise at
    ``max_iter``. Star rounds contract components regardless of shape:

    - large-star: every node's larger neighbors re-link to the minimum of
      its closed neighborhood;
    - small-star: every node and its smaller neighbors re-link likewise.

    Both are expressible as ONE aggregate + ONE join over the edge list —
    no adjacency arrays, so a hub with 10^8 neighbors never materializes a
    row wider than (node, min) — and every round localCheckpoints to keep
    lineage flat (same discipline as the propagation loop). Convergence is
    an O(1)-row probe: (edge count, bit_xor of canonical edge hashes)
    stable across one full round. The fixpoint edge set is a star forest:
    every node points directly at its component minimum, which IS the
    label frame.

    Output schema and semantics match ``connected_components`` exactly
    (cluster = component-minimum id; isolated nodes absent) — pinned by
    equivalence test, so callers can swap algorithms per workload shape.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    def probe(df: DataFrame) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    cur = probe(e)
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetrized view: m(u) = min(N(u) ∪ {u});
        # every neighbor v > u re-links to (v, m(u))
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m_u = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.where(F.col("b") > F.col("a"))
            .join(m_u, "a")
            .select(
                F.least("b", "m").alias("a"), F.greatest("b", "m").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        # small-star over larger->smaller pairs: u and its smaller
        # neighbors all re-link to min(N<(u) ∪ {u})
        d = large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        m_small = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            d.join(m_small, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(m_small.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        free_blocks(e)
        e = small
        nxt = probe(e)
        if nxt == cur:
            converged = True
            break
        cur = nxt
    if not converged:
        raise RuntimeError(
            f"star CC did not converge in {max_iter} rounds — "
            "input is not a simple undirected graph?"
        )
    # fixpoint is a star forest: (b -> a) with a = component min; roots
    # label themselves
    labels = (
        e.select(F.col("b").alias("node"), F.col("a").alias("cluster"))
        .union(
            e.select(F.col("a").alias("node"), F.col("a").alias("cluster"))
        )
        .dropDuplicates()
    )
    if handles is not None:
        handles.append(e)
    else:
        # labels still reads e's checkpoint blocks; only release when the
        # caller is not tracking handles AND we re-materialize first
        labels = labels.localCheckpoint(eager=True)
        free_blocks(e)
    return labels


def _pagerank_inplan(
    enorm: DataFrame,
    nodes_it: DataFrame,
    n_nodes: int,
    iters: int,
    damping: float,
) -> DataFrame:
    """The tiny-graph (dangling-free) power loop: the whole graph packed
    into ONE row — per-node in-edge lists plus a map<node, rank> vector —
    iterated with pure-Project expressions. No joins anywhere, so Spark
    cannot insert an exchange (4.1 plans Exchange hashpartitioning under
    SortMergeJoin even for SinglePartition children), and each iteration
    is one single-task 1-row checkpoint job instead of the lazy join
    loop's stack of AQE query-stage jobs. Map ``element_at`` is a linear
    scan, so per-iteration cost is O(E x N) element ops — which is why
    this path is gated at ``_INPLAN_GRAPH_ROWS`` (4096, ~1e7 ops per
    run), an order below the generic model-loop cap; the
    lazy join loop keeps the mid-size tier. Arithmetic is the join
    loop's, term for term: per-edge round(bround(rank*p, 9)*1e9) as
    decimal(38,0), exact order-immune sums, missing in-edge list folds
    to the left-join-miss 0, rank = bround(base + d*sum/1e9, 9).
    Per-iteration checkpoints keep the captured rank map a scan
    attribute (a captured expression re-evaluates per element and nests
    exponentially — the r4 CDC-hoist trap).
    """
    quant = F.lit(10.0**9)
    base = F.lit((1.0 - damping) / n_nodes)
    dec0 = F.lit(0).cast("decimal(38,0)")
    nrow = nodes_it.agg(F.collect_list("node").alias("ns"))
    # aligned collect_lists in ONE aggregate (single partition, single
    # buffer -> identical row order) build the dst -> in-edges map
    erow = (
        enorm.groupBy("__dst")
        .agg(
            F.collect_list(
                F.struct(F.col("__src").alias("u"), F.col("__p").alias("p"))
            ).alias("es")
        )
        .agg(
            F.map_from_arrays(
                F.collect_list("__dst"), F.collect_list("es")
            ).alias("em")
        )
    )
    packed = (
        nrow.hint("shuffle_replicate_nl")
        .crossJoin(erow)
        .select(
            F.transform(
                F.col("ns"),
                lambda v: F.struct(
                    v.alias("node"),
                    F.element_at(F.col("em"), v).alias("es"),
                ),
            ).alias("g")
        )
    )
    keys = F.transform(F.col("g"), lambda x: x["node"])

    def step(rm):
        def val(x):
            q = F.aggregate(
                x["es"],
                dec0,
                lambda acc, e: acc
                + F.round(
                    F.bround(F.element_at(rm, e["u"]) * e["p"], 9) * quant
                ).cast("decimal(38,0)"),
            )
            return F.bround(
                base
                + F.lit(damping)
                * (F.coalesce(q, dec0).cast("double") / quant),
                9,
            )

        return F.map_from_arrays(keys, F.transform(F.col("g"), val))

    r0 = F.map_from_arrays(
        keys,
        F.transform(
            F.col("g"), lambda x: F.bround(F.lit(1.0 / n_nodes), 9)
        ),
    )
    cur = packed.select("g", r0.alias("rm")).coalesce(1).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        cur = cur.select("g", step(F.col("rm")).alias("rm")).localCheckpoint(
            eager=True
        )
    return cur.select(F.explode("g").alias("x"), F.col("rm")).select(
        F.col("x.node").alias("node"),
        F.element_at(F.col("rm"), F.col("x.node")).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iters`` power-method iterations of weighted
    PageRank with damping — the standard importance measure over a link
    graph (domain authority for crawl prioritization, influence over an
    interaction graph).

    Update rule per iteration, with N = |nodes| and W(u) = total
    out-weight of u::

        rank(v) <- (1-d)/N + d * ( sum_{u->v} rank(u) * w(u,v)/W(u)
                                   + dangling_mass / N )

    where ``dangling_mass`` is the rank held by nodes with no out-edges
    (redistributed uniformly, the textbook convention — total rank stays
    1 every iteration).

    Determinism discipline (the connected-components + indicator rules
    combined): each per-edge contribution ``rank(u) * p(u,v)`` is
    half-even-quantized to 1e-9 BEFORE summation and summed as exact
    decimal(38,0) integers, and the updated rank re-quantizes to 1e-9 —
    so every iteration's rank frame is bit-identical on any partitioning
    and any engine (p = w/W is one exact IEEE division of integers-cast-
    to-double on both sides). The DuckDB oracle replays the identical
    arithmetic through a recursive CTE. The grid is 1e-9, NOT finer: at
    a 1e-12 quantum the engines' different round-half-even
    implementations (exact BigDecimal vs scaled double) sit close
    enough to boundary cases that one flip appeared across ~5k
    roundings at sf0.1; at 1e-9 the quantum/ulp ratio is ~1e8 and the
    same sweep is stable (the target_encode lesson, applied here at
    O(0.04) magnitudes).

    Scale design (100 TB): the edge-normalization table is built once and
    persisted (edge-sized, ONE groupBy + join); each iteration is one
    shuffle-join of the node-sized rank frame with the edge table plus a
    partial-aggregated sum — the Pregel cost shape, same as a CC sweep.
    ``localCheckpoint`` per iteration kills the iterative lineage (the
    connected_components discipline); the dangling term is an O(1)-row
    in-plan aggregate broadcast into the update, never a driver loop over
    nodes. Driver-side state: only N (one count of the node table).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # persist the normalized edge frame itself (r14, guide §2.4): the
    # caller's `edges` plan can be arbitrarily expensive (q_pagerank
    # builds it from a 4-table fact join), and nodes / out_w / enorm /
    # the dangling probe each re-evaluated it in a SEPARATE job —
    # exchange reuse never crosses jobs. Edge-sized, the same persist
    # class as enorm below.
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), w.alias("__w")
    ).persist()
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .persist()
    )
    out_w = e.groupBy("__src").agg(
        F.sum("__w").alias("__wout"), F.count(F.lit(1)).alias("__cnt")
    )
    enorm = (
        e.join(out_w, on="__src")
        .select("__src", "__dst", (F.col("__w") / F.col("__wout")).alias("__p"))
        .persist()
    )
    # r15 (guide §1.4/§2.4 — one probe job, not three): node count,
    # dangling presence, and edge count all come from ONE left join +
    # aggregate (the anti-join the dangling probe already paid, kept
    # cached for the dangling-mass loop path). The r14 form ran
    # nodes.count() + dangling.limit(1).count() + enorm.count() as three
    # scheduled jobs over the same caches (~1 s of pure job latency at
    # sf0.1). Bounded driver state: three scalars.
    nw = nodes.join(
        out_w.select(F.col("__src").alias("node"), "__cnt"), on="node",
        how="left",
    ).persist()
    _st = nw.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("__cnt").alias("nsrc"),
        F.sum("__cnt").alias("ne"),
    ).collect()[0]
    n_nodes = int(_st["n"])
    has_dangling = _st["nsrc"] < n_nodes
    n_edges = int(_st["ne"] or 0)
    dangling = nw.where(F.col("__cnt").isNull()).select("node")

    # r14 optimization, phase 5 (guide §2.4/§2.1): when the whole model
    # (edges + nodes) is small, the power iteration runs EXCHANGE-FREE —
    # state coalesced to SinglePartition (satisfies every join/agg
    # distribution), merge hints keep the planner off BroadcastHashJoin
    # (whose BroadcastExchange is a per-join AQE query-stage job), and
    # the loop stays ONE lazy plan with no per-iteration localCheckpoint
    # (measured 70 jobs / ~4 s of scheduling for the 25-node nation
    # graph at sf0.1). Only for DANGLING-FREE graphs: the dangling-mass
    # branch reads `ranks` twice per iteration, which doubles a lazy
    # plan per level — that branch keeps the checkpointed form. The
    # threshold is row-count-based (_MODEL_LOOP_ROWS), not tied to local
    # core counts; values are identical either way (1e-9-quantized
    # decimal sums, partition-order-immune by the module contract).
    # Every tier ends in an eager materialization that no longer reads
    # the four persists, so each return releases them first.
    persisted = (e, nodes, enorm, nw)
    small_model = (
        not has_dangling and n_edges + n_nodes <= _MODEL_LOOP_ROWS
    )
    if small_model:
        enorm = enorm.coalesce(1).localCheckpoint(eager=True)
        nodes_it = nodes.coalesce(1).localCheckpoint(eager=True)
        # r15: the TINY tier runs join-free over one packed row (see
        # _pagerank_inplan); the lazy join loop below keeps the
        # mid-size tier, the partitioned checkpointed loop the rest
        if n_edges + n_nodes <= _INPLAN_GRAPH_ROWS:
            ranks = _pagerank_inplan(
                enorm, nodes_it, n_nodes, iters, damping
            )
            for df in persisted:
                free_blocks(df)
            return ranks
    else:
        nodes_it = nodes

    base = F.lit((1.0 - damping) / n_nodes)
    quant = F.lit(10.0**9)
    ranks = nodes_it.select(
        "node", F.bround(F.lit(1.0 / n_nodes), 9).alias("rank")
    )
    if not small_model:
        ranks = ranks.localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            ranks.hint("merge").join(enorm, ranks["node"] == enorm["__src"])
            .select(
                F.col("__dst").alias("node"),
                F.round(F.bround(F.col("rank") * F.col("__p"), 9) * quant)
                .cast("decimal(38,0)")
                .alias("__q"),
            )
            .groupBy("node")
            .agg(F.sum("__q").alias("__s"))
        )
        contrib_term = (
            F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,0)"))
            .cast("double")
            / quant
        )
        if has_dangling:
            d_mass = (
                ranks.join(dangling, on="node", how="semi")
                .agg(
                    F.coalesce(
                        F.sum(
                            F.round(F.col("rank") * quant).cast("decimal(38,0)")
                        ),
                        F.lit(0).cast("decimal(38,0)"),
                    ).alias("__qd")
                )
            )
            new = (
                nodes.join(contrib, on="node", how="left")
                .crossJoin(F.broadcast(d_mass))
                .select(
                    "node",
                    F.bround(
                        base
                        + F.lit(damping)
                        * (
                            contrib_term
                            + F.col("__qd").cast("double")
                            / quant
                            / F.lit(float(n_nodes))
                        ),
                        9,
                    ).alias("rank"),
                )
            )
        else:
            new = nodes_it.hint("merge").join(
                contrib, on="node", how="left"
            ).select(
                "node",
                F.bround(
                    base + F.lit(damping) * contrib_term, 9
                ).alias("rank"),
            )
        ranks = new if small_model else new.localCheckpoint(eager=True)
    if small_model:
        # one materialization AFTER the loop, not per iteration
        ranks = ranks.localCheckpoint(eager=True)
    for df in persisted:
        free_blocks(df)
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row frame (n_nodes, n_edges, n_wedges, n_triangles,
    clustering) — exact global triangle count and clustering coefficient
    ``3T / W`` of the UNDIRECTED simple graph induced by the edge list
    (direction, weights, duplicates, and self-loops are dropped).

    Scale design (100 TB): the curse-of-the-last-reducer fix (Suri &
    Vassilvitskii): edges are ORIENTED from their lower-(degree, id)
    endpoint to the higher one, which bounds every node's out-degree by
    O(sqrt(m)) — a celebrity hub with 10^7 neighbors generates wedges at
    ONLY its low-degree neighbors, never the hub itself. Wedges are one
    self-join of the oriented edges on the apex; closing edges are one
    join of canonical wedge pairs against the canonical edge set; every
    triangle is counted EXACTLY once (at its unique minimum-(degree, id)
    apex). Three shuffles total (degree agg, wedge join, closing join) —
    no corpus-quadratic stage on any degree distribution.

    Nothing is persisted: the result is lazy over ``und``, ``deg`` and
    ``oriented``, and exchange reuse computes each of them once in the
    final plan (each input scanned once), with fewer jobs than caching
    them and nothing left in the CacheManager to go stale.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, on="a").join(db, on="b")
    # orient low-(degree, id) -> high; (deg, id) is a total order
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    e1 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("v"))
    e2 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("w"))
    wedges = e1.join(e2, on="apex").where(F.col("v") < F.col("w"))
    tri = wedges.join(
        und,
        (F.least("v", "w") == F.col("a"))
        & (F.greatest("v", "w") == F.col("b")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("d").cast("decimal(38,0)") * (F.col("d") - 1)) / 2
        ).cast("decimal(38,0)").alias("n_wedges"),
    )
    return (
        nodes.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(tri))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.bround(
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                    9,
                ),
            ).alias("clustering"),
        )
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
) -> DataFrame:
    """(id, label) after ``iters`` synchronous rounds of majority-vote
    label propagation over an undirected graph: seed nodes (non-NULL
    ``label_col``) stay FIXED; every other node takes the most common
    label among its currently-labeled neighbors (ties: the smallest
    label id; no labeled neighbor: stays NULL this round). The
    semi-supervised curation pattern — a few human quality/topic labels
    spread through the near-dup or k-NN similarity graph so review
    effort covers whole neighborhoods, not single documents.

    Pure integer logic (counts + min-tiebreak argmax) — bit-identical
    across engines and partitionings with NO quantization; the DuckDB
    oracle replays the identical rounds through a recursive CTE.

    Scale design (100 TB): per round, one edge⋈label join shuffling on
    node ids + one (node, label) partial-aggregated count + one max_by
    argmax — the Pregel shape PageRank uses; per-round frames are
    ``localCheckpoint``'d to kill the iterative lineage, prior rounds'
    blocks released via :func:`free_blocks` (ContextCleaner reclaim).
    Labels never propagate FROM unlabeled nodes, so a round's work is
    bounded by the labeled frontier.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).localCheckpoint(eager=True)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    seeds = nodes.select(
        F.col(id_col).cast("long").alias("node"),
        F.col(label_col).cast("long").alias("seed"),
    )
    labels = seeds.select(
        "node", F.col("seed").alias("lab")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        neigh = (
            sym.join(
                labels.where(F.col("lab").isNotNull()),
                sym["a"] == F.col("node"),
            )
            .groupBy(F.col("b").alias("node"), F.col("lab").alias("cand"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(
                F.max_by(
                    "cand",
                    F.struct(F.col("cnt").alias("c"), (-F.col("cand")).alias("t")),
                ).alias("vote")
            )
        )
        new_labels = (
            seeds.join(neigh, "node", "left")
            .join(labels.select("node", "lab"), "node", "left")
            .select(
                "node",
                F.coalesce("seed", "vote", "lab").alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        free_blocks(labels)
        labels = new_labels
    free_blocks(e)
    return labels.select(
        F.col("node").alias(id_col), F.col("lab").alias(label_col)
    )


def graph_walks(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    walk_len: int = 4,
    salt: str = "walk",
) -> DataFrame:
    """(start_id, step, node_id): one deterministic random walk of
    ``walk_len`` steps from EVERY node of the undirected graph — the
    DeepWalk/node2vec positive-pair generator: (start, node@step) pairs
    are the (center, context) examples contrastive embedding training
    consumes (negatives come from ``contrastive.sample_negatives``).

    "Random" is content-addressed, not seeded RNG: step s from node v on
    the walk started at u picks neighbor index
    ``md5(salt:u:s:v) % degree(v)`` — the ``sampling.split_bucket``
    construction, so walks are reproducible on ANY engine, stable under
    partitioning, and append-stable (a new node never changes an
    existing node's walk). Neighbor arrays are SORTED, making the index
    choice well-defined.

    Scale design (100 TB): the adjacency table is built once (one
    groupBy on the node key; per-node array bounded by degree — for
    k-NN graphs that is <= 2k); each of the ``walk_len`` steps is ONE
    equi-join of the walk frontier against the adjacency table keyed on
    the current node. No per-walk state beyond the frontier row; total
    output is |nodes| x walk_len.

    Iterative-lineage rule (same as pagerank / label_propagation / BPE):
    each step's plan nests the previous step's join, so node2vec-scale
    walk lengths (40-80) would otherwise compound walk_len joins into
    one plan. The frontier is ``localCheckpoint``-ed every
    ``checkpoint_every`` (8) steps, bounding every emitted part and the
    final union to <= 8 joins of lineage past the latest checkpoint.
    Checkpointed frontiers stay pinned until the result is consumed
    (walk_len/8 frames of |nodes| narrow rows — bounded model state).
    """
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    checkpoint_every = 8
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = sym.groupBy(F.col("a").alias("node")).agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    cur = adj.select(
        F.col("node").alias("start"), F.col("node").alias("cur")
    )
    out_parts = []
    for s in range(1, walk_len + 1):
        h = F.md5(
            F.concat_ws(
                ":",
                F.lit(salt),
                F.col("start").cast("string"),
                F.lit(str(s)),
                F.col("cur").cast("string"),
            )
        )
        idx = (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.size("nbrs")
        ) + 1
        step = (
            cur.join(adj, cur["cur"] == adj["node"])
            .select(
                "start",
                F.element_at("nbrs", idx.cast("int")).alias("cur"),
            )
        )
        if s % checkpoint_every == 0 and s < walk_len:
            step = step.localCheckpoint(eager=True)
        out_parts.append(
            step.select(
                F.col("start").alias("start_id"),
                F.lit(s).cast("long").alias("step"),
                F.col("cur").alias("node_id"),
            )
        )
        cur = step
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out
