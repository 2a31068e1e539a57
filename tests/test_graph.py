"""Connected-components / cluster-representative semantics.

Pins the properties dedup resolution depends on: transitive closure (a
chain A~B~C is ONE cluster), determinism of the representative, isolated
rows surviving untouched, and convergence behavior on long paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alphavantage_etl_spark.operators.graph import (
    cluster_representatives,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _labels(cc):
    rows = {r["node"]: r["cluster"] for r in cc.collect()}
    cc.unpersist()
    return rows


def test_cc_transitive_chain_is_one_cluster(spark):
    cc = connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)]))
    assert _labels(cc) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_bridge_merges_two_clumps(spark):
    # two dense clumps joined by a single bridge edge -> one component
    pairs = [(1, 2), (1, 3), (2, 3), (20, 21), (20, 22), (3, 20)]
    cc = connected_components(_edges(spark, pairs))
    labels = _labels(cc)
    assert set(labels.values()) == {1}
    assert set(labels) == {1, 2, 3, 20, 21, 22}


def test_cc_long_path_converges(spark):
    # path graph 0-1-2-...-12: worst-case diameter for min propagation
    n = 13
    cc = connected_components(_edges(spark, [(i, i + 1) for i in range(n - 1)]))
    assert set(_labels(cc).values()) == {0}


def test_cc_edge_direction_irrelevant(spark):
    a = _labels(connected_components(_edges(spark, [(5, 1), (2, 5)])))
    b = _labels(connected_components(_edges(spark, [(1, 5), (5, 2)])))
    assert a == b == {1: 1, 2: 1, 5: 1}


def test_cc_empty_edges(spark):
    cc = connected_components(_edges(spark, []))
    assert cc.count() == 0
    cc.unpersist()


def test_cc_max_iter_raises_only_without_fallback(spark):
    edges = [(i, i + 1) for i in range(10)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(_edges(spark, edges), max_iter=2, star_fallback=False)
    # default: same cap, but the star fallback finishes instead of raising
    labels = connected_components(_edges(spark, edges), max_iter=2).collect()
    assert {r["cluster"] for r in labels} == {0}


def test_cc_handles_collects_cache(spark):
    handles = []
    cc = connected_components(_edges(spark, [(1, 2)]), handles=handles)
    assert handles == [cc]
    for h in handles:
        h.unpersist()


def test_representatives_quality_argmax(spark):
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.1)], "doc_id long, q double"
    )
    cc = connected_components(_edges(spark, [(1, 2), (2, 3)]))
    kept = cluster_representatives(docs, cc, "doc_id", "q")
    # cluster {1,2,3}: max q = 0.9 shared by 2 and 3 -> smaller id 2 wins;
    # isolated doc 7 survives untouched
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 7]
    cc.unpersist()


def test_representatives_min_id_without_quality(spark):
    docs = spark.createDataFrame([(4,), (5,), (9,)], "doc_id long")
    cc = connected_components(_edges(spark, [(5, 4)]))
    kept = cluster_representatives(docs, cc, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [4, 9]
    cc.unpersist()


def test_cc_checkpoint_blocks_reclaimable(spark):
    """free_blocks uses public API only (no _jdf reach-in since r5), so
    localCheckpoint blocks are ContextCleaner-reclaimed rather than freed
    eagerly. The invariant that MUST hold is that the operator leaks no
    strong references: once the caller drops the result (release(handles)
    + del), a driver GC cycle reclaims every block the CC run created.
    A leaked reference (e.g. an operator-held cache of a sweep frame)
    would keep blocks alive forever — that is what this guards."""
    import gc
    import time

    from alphavantage_etl_spark.operators.dedup import release

    def block_ids():
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = block_ids()
    handles = []
    cc = connected_components(
        _edges(spark, [(1, 2), (2, 3), (10, 11)]), handles=handles
    )
    cc.count()
    assert block_ids() - before, "CC should hold checkpoint blocks while alive"
    release(handles)
    del cc, handles
    # Drop the py4j proxies, then force a JVM GC so the ContextCleaner's
    # weak-reference queue fires; poll because the cleanup is async.
    gc.collect()
    for _ in range(40):
        spark.sparkContext._jvm.System.gc()
        if not (block_ids() - before):
            break
        time.sleep(0.5)
    assert not (block_ids() - before), (
        "CC run leaked a strong reference: checkpoint blocks survived GC"
    )


def test_star_cc_matches_propagation_on_random_graphs(spark):
    """Algorithm swap safety: large-star/small-star must produce the exact
    label frame min-propagation does, over assorted component shapes."""
    import random

    from alphavantage_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = []
    # clumps (dedup-shaped), a ring, a binary tree, random noise edges
    for base in (0, 100, 200):
        members = list(range(base, base + rng.randint(3, 8)))
        edges += [
            (a, b) for a in members for b in members if a < b and rng.random() < 0.5
        ]
    edges += [(300 + i, 300 + (i + 1) % 20) for i in range(20)]  # ring
    edges += [(400 + (i - 1) // 2, 400 + i) for i in range(1, 31)]  # tree
    edges += [(rng.randint(0, 450), rng.randint(0, 450)) for _ in range(30)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    want = sorted(map(tuple, connected_components(df).collect()))
    got = sorted(map(tuple, connected_components_star(df).collect()))
    assert got == want


def test_star_cc_handles_long_paths_where_propagation_raises(spark):
    """The escape-hatch contract: a 120-node path has diameter 119 —
    min-propagation hits its sweep cap there, raising only when the caller
    opts out of the fallback; star rounds converge in O(log n) and still
    label every node with the path minimum."""
    import pytest as _pytest

    from alphavantage_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError):
        connected_components(path, max_iter=10, star_fallback=False)
    labels = connected_components_star(path).collect()
    assert len(labels) == 121
    assert all(r["cluster"] == 0 for r in labels)


def test_cc_default_falls_back_to_star_past_sweep_cap(spark):
    """No graph shape may abort a curation run: past the sweep cap the
    default finishes with the star algorithm and yields the identical
    label frame a converged propagation would."""
    from alphavantage_etl_spark.operators.graph import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    labels = connected_components(path, max_iter=10).collect()
    assert len(labels) == 121
    assert all(r["cluster"] == 0 for r in labels)


# ------------------------------------------------------------- pagerank
def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from alphavantage_etl_spark.operators.graph import pagerank

    # weighted digraph with a dangling node (4 has no out-edges)
    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, "src", "dst", "w", iters=6, damping=0.85).collect()
    }

    nodes = [1, 2, 3, 4]
    P = np.zeros((4, 4))
    outw = {1: 4.0, 2: 2.0, 3: 2.0}
    for s, d, w in edges:
        P[nodes.index(s), nodes.index(d)] = w / outw[s]
    r = np.full(4, 0.25)
    for _ in range(6):
        contrib = r @ P
        dmass = r[3]  # node 4 is dangling
        r = 0.15 / 4 + 0.85 * (contrib + dmass / 4)
    for i, n in enumerate(nodes):
        assert abs(got[n] - r[i]) < 1e-6, (n, got[n], r[i])
    # total rank mass conserved (up to the 1e-9 quantization)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_partitioning_invariant(spark):
    from alphavantage_etl_spark.operators.graph import pagerank

    edges = [(i, (i * 3) % 17, float(1 + i % 5)) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    a = sorted(pagerank(df, "src", "dst", "w", iters=4).collect())
    b = sorted(
        pagerank(df.repartition(7, "dst"), "src", "dst", "w", iters=4).collect()
    )
    assert a == b


def test_pagerank_unweighted_defaults_to_count(spark):
    from alphavantage_etl_spark.operators.graph import pagerank

    # two parallel unweighted edges behave like weight 1 each
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst", iters=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] > got[3]  # 1 receives 2's whole rank; 3 only half of 1's


@pytest.mark.parametrize("tier", ["inplan", "lazy", "partitioned", "dangling"])
def test_pagerank_releases_its_persists(spark, monkeypatch, tier):
    """pagerank persists its edge, node, normalized-edge and node-degree
    frames for the run. Every tier ends in an eager materialization that
    no longer reads them, so a call leaves the CacheManager empty, and
    the ranks read after the release still equal the power iteration.
    The tiny in-plan, lazy mid-size and partitioned loops run over a
    dangling-free graph (the smaller tiers forced off through the module
    gates); a dangling node always takes the partitioned loop."""
    import numpy as np

    from alphavantage_etl_spark.operators import graph

    n = 12
    edges = [(i, (i + 1) % n, float(1 + i % 3)) for i in range(n)] + [
        (i, (i * 5 + 2) % n, 2.0) for i in range(n) if (i * 5 + 2) % n != i
    ]
    if tier == "dangling":
        edges += [(3, n, 1.0), (7, n, 4.0)]  # node n has no out-edges
    if tier == "lazy":
        monkeypatch.setattr(graph, "_INPLAN_GRAPH_ROWS", 0)
    if tier == "partitioned":
        monkeypatch.setattr(graph, "_MODEL_LOOP_ROWS", 0)
    df = spark.createDataFrame(edges, "src long, dst long, w double")

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    ranks = graph.pagerank(df, "src", "dst", "w", iters=5)
    assert cache.isEmpty()
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert cache.isEmpty()

    nodes = sorted({u for e in edges for u in e[:2]})
    P = np.zeros((len(nodes), len(nodes)))
    for u, v, w in edges:
        P[nodes.index(u), nodes.index(v)] += w
    outw = P.sum(axis=1)
    dangling = outw == 0
    P[~dangling] /= outw[~dangling, None]
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(5):
        r = 0.15 / len(nodes) + 0.85 * (r @ P + r[dangling].sum() / len(nodes))
    assert set(got) == set(nodes)
    for i, v in enumerate(nodes):
        assert abs(got[v] - r[i]) < 1e-6, (v, got[v], r[i])


# ------------------------------------------------------- triangle count
def test_triangle_count_known_graphs(spark):
    from alphavantage_etl_spark.operators.graph import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df, "src", "dst").first()

    # K3: one triangle, clustering 1
    r = tc([(1, 2), (2, 3), (3, 1)])
    assert (r["n_triangles"], r["clustering"]) == (1, 1.0)
    # path 1-2-3: a wedge, no triangle
    r = tc([(1, 2), (2, 3)])
    assert r["n_triangles"] == 0 and r["clustering"] == 0.0
    # K4: C(4,3)=4 triangles over 12 wedges -> clustering 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = tc(k4)
    assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (6, 12, 4)
    assert r["clustering"] == 1.0
    # complete bipartite K2,3: plenty of wedges, zero triangles
    r = tc([(a, 10 + b) for a in range(2) for b in range(3)])
    assert r["n_triangles"] == 0 and r["n_wedges"] > 0


def test_triangle_count_normalizes_input(spark):
    from alphavantage_etl_spark.operators.graph import triangle_count

    # duplicates, reversed direction, and self-loops must not change the
    # simple undirected graph: still exactly one triangle
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df, "src", "dst").first()
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)


def test_triangle_count_hub_graph_exact(spark):
    from alphavantage_etl_spark.operators.graph import triangle_count

    # a hub wired to 40 leaves, with leaves chained pairwise: triangles =
    # number of chain edges; the degree orientation keeps every wedge
    # generation at the leaves (the correctness half of the hub claim)
    hub = [(0, i) for i in range(1, 41)]
    chain = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(hub + chain, "src long, dst long")
    r = triangle_count(df, "src", "dst").first()
    assert r["n_triangles"] == 39


def test_graph_walks_deterministic_and_edge_respecting(spark):
    from alphavantage_etl_spark.operators.graph import graph_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "id_a long, id_b long"
    )
    nbrs = {1: {2, 3}, 2: {1, 3}, 3: {1, 2, 4}, 4: {3}}
    w1 = sorted(map(tuple, graph_walks(edges, walk_len=3).collect()))
    w2 = sorted(map(tuple, graph_walks(edges, walk_len=3).collect()))
    assert w1 == w2, "walks must be reproducible"
    assert len(w1) == 4 * 3  # every node walks every step
    pos = {(s, st): n for s, st, n in w1}
    for (start, step), node in pos.items():
        prev = start if step == 1 else pos[(start, step - 1)]
        assert node in nbrs[prev], "each step must follow an edge"
    # a different salt takes (at least some) different turns
    w3 = sorted(map(tuple, graph_walks(edges, walk_len=3, salt="other").collect()))
    assert w3 != w1

    import pytest

    with pytest.raises(ValueError, match="walk_len"):
        graph_walks(edges, walk_len=0)


def test_graph_walks_long_walk_checkpoint_bounds_lineage(spark):
    """node2vec-scale walks (walk_len=32): the frontier localCheckpoint
    every 8 steps must keep the plan depth bounded (the final parts scan
    an ExistingRDD instead of replaying 32 nested joins) while leaving
    the walk semantics untouched — every step still follows an edge, and
    the first steps match the short-walk prefix exactly."""
    from alphavantage_etl_spark.operators.graph import graph_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 1)],
        "id_a long, id_b long",
    )
    nbrs = {1: {2, 3, 5}, 2: {1, 3}, 3: {1, 2, 4}, 4: {3, 5}, 5: {4, 1}}
    long = graph_walks(edges, walk_len=32)
    rows = sorted(map(tuple, long.collect()))
    assert len(rows) == 5 * 32
    pos = {(s, st): n for s, st, n in rows}
    for (start, step), node in pos.items():
        prev = start if step == 1 else pos[(start, step - 1)]
        assert node in nbrs[prev]
    # prefix-stability: the checkpointing is invisible to the first steps
    short = sorted(map(tuple, graph_walks(edges, walk_len=4).collect()))
    assert [r for r in rows if r[1] <= 4] == short
    # the checkpoint actually landed: the plan of the final union scans
    # materialized frontiers (ExistingRDD) instead of replaying a
    # 32-deep nested-join chain
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        long.explain(extended=True)
    assert "ExistingRDD" in buf.getvalue()
