"""Storage-layout evidence: partition pruning and shuffle-free bucketed
joins must be visible in the executed plan, not just claimed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alphavantage_etl_spark.plans.views import px_bars
from alphavantage_etl_spark.sources import load
from alphavantage_etl_spark.sources.layout import (
    co_located_join,
    write_bucketed,
    write_partitioned,
)

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "px_by_year")
    px = px_bars(spark, SF_SMALL).withColumn("year", F.year("date"))
    write_partitioned(px, path, "year")

    back = spark.read.parquet(path).where(F.col("year") == 1997)
    plan = _plan(back)
    assert "PartitionFilters" in plan and "1997" in plan
    # pruned scan reads only the matching partition's rows
    want = px.where(F.col("year") == 1997).count()
    assert back.count() == want > 0


def test_bucketed_join_has_no_shuffle(spark):
    # managed tables land in the session's static warehouse dir
    # (./spark-warehouse); dropped + removed in the finally block
    o = load(spark, SF_SMALL, "orders")
    li = load(spark, SF_SMALL, "lineitem")
    # At fixture scale the planner prefers broadcasting the small side
    # (which bypasses bucketing entirely); disable broadcast to surface the
    # co-located sort-merge path this test is about.
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            o.withColumnRenamed("o_orderkey", "orderkey"),
            "t_orders_b", "orderkey", n_buckets=4, sort_col="orderkey",
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "orderkey"),
            "t_lineitem_b", "orderkey", n_buckets=4, sort_col="orderkey",
        )
        j = co_located_join(spark, "t_lineitem_b", "t_orders_b", on="orderkey").select(
            "orderkey", "o_custkey", "l_extendedprice"
        )
        plan = _plan(j)
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:2000]}"
        # row parity with the plain (shuffling) join
        plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert j.count() == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


# ---- plan-shape pins for the round-2 operators: the scale claims in their
# docstrings (shuffle counts, broadcast sides) must hold in the optimized
# plan, not just the prose.


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_split_assign_plan_is_shuffle_free(spark):
    from alphavantage_etl_spark.operators.sampling import hash_split

    d = load(spark, SF_SMALL, "documents").select("doc_id")
    plan = _plan(hash_split(d, "doc_id", {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in plan


def test_stratified_sample_plan_is_shuffle_free(spark):
    from alphavantage_etl_spark.operators.sampling import stratified_sample

    d = load(spark, SF_SMALL, "documents").select("doc_id", "source")
    plan = _plan(stratified_sample(d, "source", "doc_id", {"src0": 0.5}))
    assert "Exchange" not in plan


def test_quota_and_pack_have_single_exchange(spark):
    from alphavantage_etl_spark.operators.sampling import group_quota, pack_bins

    d = load(spark, SF_SMALL, "documents").select("doc_id", "source")
    sized = d.withColumn("n", F.length(F.lit("x")).cast("long"))
    for out in (
        group_quota(d, "source", [F.col("doc_id")], n=3),
        pack_bins(sized, "source", "doc_id", "n", budget=10),
    ):
        plan = _plan(out)
        assert plan.count("Exchange") == 1, plan


def test_contamination_benchmark_side_broadcasts(spark):
    from alphavantage_etl_spark.operators.contamination import ngram_contamination

    d = load(spark, SF_SMALL, "documents")
    bench = d.where(F.col("doc_id") % 47 == 0)
    corp = d.where(F.col("doc_id") % 47 != 0)
    plan = _plan(ngram_contamination(corp, bench, "text", "doc_id", k=8))
    assert "BroadcastHashJoin" in plan
    # exactly one data shuffle: the (doc, bench) partial-agg counts
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_contamination_oversized_bench_not_force_broadcast(spark):
    """An oversized benchmark side must NOT get a forced broadcast hint —
    with the hint absent (and auto-broadcast off to emulate a too-big
    side), Catalyst plans a shuffle join instead of a driver-OOM
    broadcast; AQE remains free to upgrade at runtime."""
    from alphavantage_etl_spark.operators.contamination import ngram_contamination

    d = load(spark, SF_SMALL, "documents")
    bench = d.where(F.col("doc_id") % 47 == 0)
    corp = d.where(F.col("doc_id") % 47 != 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # broadcast_max_bytes=0: every size estimate is "too big"
        plan = _plan(
            ngram_contamination(
                corp, bench, "text", "doc_id", k=8, broadcast_max_bytes=0
            )
        )
        assert "BroadcastHashJoin" not in plan, plan
        # forcing stays available for known-small suites
        forced = _plan(
            ngram_contamination(
                corp, bench, "text", "doc_id", k=8, broadcast_bench=True
            )
        )
        assert "BroadcastHashJoin" in forced, forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_label_centroids_single_shuffle_after_explode(spark):
    from alphavantage_etl_spark.operators.similarity import label_centroids

    emb = load(spark, SF_SMALL, "embeddings")
    plan = _plan(label_centroids(emb))
    # explode feeds a partial HashAggregate BEFORE the only Exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.index("Generate posexplode") > plan.index("Exchange"), (
        "explode must run below (after in tree order) the exchange — "
        "partial aggregation map-side, exploded rows never shuffle"
    )


def _file_stats(path, cols):
    """Per-file (min, max) per column from parquet footers — the stats
    scans use for skipping. No data pages are read."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins = {c: None for c in cols}
        maxs = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            for c in cols:
                st = md.row_group(rg).column(idx[c]).statistics
                mins[c] = st.min if mins[c] is None else min(mins[c], st.min)
                maxs[c] = st.max if maxs[c] is None else max(maxs[c], st.max)
        def _num(v):
            try:
                return float(v)
            except TypeError:  # timestamps etc. stay raw (still orderable)
                return v

        out.append({c: (_num(mins[c]), _num(maxs[c])) for c in cols})
    return out


def test_zorder_tightens_file_stats_on_both_columns(spark, tmp_path):
    """Z-order proof at the footer level: a linear sort gives tight
    per-file spans on the lead column and ~full-range spans on the other;
    z-order must be tight-ish on BOTH (enabling file skipping for either
    predicate). Measured from real parquet statistics, not the plan."""
    from alphavantage_etl_spark.sources.layout import zorder_by

    ev = load(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "value"
    )
    cols = ["user_id", "value"]
    lo_hi = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    span = {
        "user_id": float(lo_hi[1] - lo_hi[0]) or 1.0,
        "value": float(lo_hi[3] - lo_hi[2]) or 1.0,
    }

    linear_dir, z_dir = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(linear_dir)
    )
    zorder_by(ev, cols, n_files=8).write.parquet(z_dir)

    def mean_worst_frac(stats):
        fr = [
            max((s[c][1] - s[c][0]) / span[c] for c in cols) for s in stats
        ]
        return sum(fr) / len(fr)

    lin = mean_worst_frac(_file_stats(linear_dir, cols))
    zo = mean_worst_frac(_file_stats(z_dir, cols))
    # linear: the non-lead column's span dominates (~0.77 on this fixture —
    # under 1.0 only because global extremes live in single files)
    assert lin > 0.6
    # z-order: worst-column span per file must be far tighter (~0.42 here)
    assert zo < 0.7 * lin, f"zorder {zo:.2f} vs linear {lin:.2f}"
    # clustering must not change the data
    assert spark.read.parquet(z_dir).count() == ev.count()
    assert set(spark.read.parquet(z_dir).columns) == set(ev.columns)


def test_compact_parquet_hits_target_file_size(spark, tmp_path):
    """Compaction sizes output files from actual on-disk bytes: 64
    micro-batch-sized files collapse to ~total/target files, rows intact;
    with sort_col the rewrite also restores range clustering."""
    import os

    from alphavantage_etl_spark.sources.layout import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    ev = load(spark, SF_SMALL, "events")
    ev.repartition(64).write.parquet(src)
    n_small = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_small == 64

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    n = compact_parquet(spark, src, dst, target_file_bytes=total // 4 + 1, sort_col="ts")
    n_big = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert 1 <= n_big <= n <= 6
    assert spark.read.parquet(dst).count() == ev.count()
    # range-clustered rewrite: per-file ts spans are disjoint-ish (sorted
    # layout restored for the incremental read path)
    stats = _file_stats(dst, ["ts"]) if n_big > 1 else []
    spans = sorted((s["ts"][0], s["ts"][1]) for s in stats)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo, "compacted files must not interleave sort ranges"
    # same-dir compaction is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_parquet(spark, src, src)


def test_zorder_four_columns_stays_in_sign_safe_bits(spark):
    """With 4 columns the default 16 bits/column would push the 4th
    column's MSB onto bit 63 (the long's sign bit), making max-range rows
    sort negative-first and breaking the Morton order. The guard
    auto-shrinks resolution so every z-value is non-negative and the
    all-max row still carries the maximum z."""
    from alphavantage_etl_spark.sources.layout import _with_z_value

    rows = [(float(a), float(b), float(c), float(d))
            for a in (0.0, 255.0) for b in (0.0, 255.0)
            for c in (0.0, 255.0) for d in (0.0, 255.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    z = _with_z_value(df, ["a", "b", "c", "d"], bits=16, zc="z").collect()
    assert all(r["z"] >= 0 for r in z), "sign bit reached: Morton order broken"
    top = max(z, key=lambda r: r["z"])
    assert (top["a"], top["b"], top["c"], top["d"]) == (255.0,) * 4


def test_should_broadcast_supported_api_branches(spark):
    """The broadcast probe uses only public APIs (DataFrame.inputFiles +
    local file sizes). File-backed small frame -> True; in-memory frame
    (no input files resolvable) -> fail-safe False; tiny budget -> False."""
    from alphavantage_etl_spark.operators.contamination import _should_broadcast

    backed = load(spark, SF_SMALL, "documents")
    assert _should_broadcast(backed, 64 << 20) is True
    assert _should_broadcast(backed, 0) is False
    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert _should_broadcast(mem, 64 << 20) is False


def test_new_rows_broadcast_gate(spark):
    """new_rows forces the broadcast hint only when the existing side's
    file bytes are provably small (the contamination probe); an
    in-memory frame (no resolvable files) falls through to no hint and
    leaves the strategy to Catalyst/AQE."""
    from alphavantage_etl_spark.operators.incremental import new_rows

    incoming = load(spark, SF_SMALL, "orders").select("o_orderkey")
    existing_files = load(spark, SF_SMALL, "orders").select("o_orderkey")
    plan = _plan(new_rows(incoming, existing_files, "o_orderkey"))
    assert "LeftAnti" in plan
    assert "Broadcast" in plan, plan  # file-backed small side: forced

    existing_mem = spark.createDataFrame([(1,)], "o_orderkey long")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan2 = _plan(new_rows(incoming, existing_mem, "o_orderkey"))
        assert "LeftAnti" in plan2
        assert "BroadcastHashJoin" not in plan2, plan2  # no forced hint
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_new_rows_build_side_needs_no_dedup(spark):
    """A key repeated on the existing side cannot change a left_anti
    result: new_rows over a sink holding every key twice returns exactly
    the incoming rows whose key is absent, and its plan aggregates
    nothing (no dedup stage on the build side)."""
    from alphavantage_etl_spark.operators.incremental import new_rows

    incoming = load(spark, SF_SMALL, "orders").select("o_orderkey")
    once = incoming.where(F.col("o_orderkey") % 3 != 0)
    fresh = new_rows(incoming, once.unionByName(once), "o_orderkey")
    assert "Aggregate" not in _plan(fresh)
    got = sorted(r[0] for r in fresh.collect())
    want = sorted(r[0] for r in incoming.collect() if r[0] % 3 == 0)
    assert got == want and len(got) > 0



# The only persists an operator may create: ones it unpersists itself
# before returning. Keyed by (module, enclosing function): call count.
_RELEASED_PERSISTS = {
    ("operators/graph.py", "pagerank"): 4,
    ("operators/classify.py", "train_logreg_hashed"): 1,
}


def test_no_persist_outside_operator_released_sites():
    """Spark's CacheManager matches a re-read of a rewritten file to a
    frame persisted before the rewrite, so a persist that outlives its
    operator serves old rows. Every ``.persist()``/``.cache()`` call in
    the package must sit in a function that releases it; intermediates
    otherwise live in one lazy plan or in a ``localCheckpoint``."""
    import ast
    import os
    from collections import Counter

    import alphavantage_etl_spark

    class Calls(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.fn, self.found = rel, "<module>", Counter()

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr in (
                "persist", "cache"
            ):
                self.found[(self.rel, self.fn)] += 1
            self.generic_visit(node)

    root = os.path.dirname(alphavantage_etl_spark.__file__)
    found: Counter = Counter()
    for dirpath, _, files in os.walk(root):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                v = Calls(os.path.relpath(path, root))
                with open(path) as f:
                    v.visit(ast.parse(f.read()))
                found += v.found
    assert found == Counter(_RELEASED_PERSISTS), (
        f"persist/cache outside the operator-released sites: {dict(found)}"
    )
