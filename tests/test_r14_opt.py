"""Focused pins for the r14 optimization round's operator-internal
changes — each test locks an equivalence or branch the optimization
relies on, so a later regression is caught at the operator, not the
oracle.

Covered here:
- ``bq_index`` fused one-projection build ≡ the ``assign_cells_l2q ⋈
  bq_encode`` composition it replaced (phase 3).
- ``random_projection(dim=)`` codegen fast path ≡ the HOF form,
  including ragged/NULL rows that must take the fallback branch
  (phase 4).
- ``connected_components`` small-model exchange-free sweeps ≡ the
  general path (phase 7), forced by setting ``graph._MODEL_LOOP_ROWS``
  to 0.
- ``ngram_contamination``'s exact bench-size probe flips to broadcast
  when the file-level probe over-counts a filtered benchmark (phase 7).
"""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

from .conftest import SF_ORACLE


def test_bq_index_equals_assign_join_encode(spark):
    from alphavantage_etl_spark.operators.similarity import (
        assign_cells_l2q,
        bq_encode,
        bq_fit,
        bq_index,
    )
    from alphavantage_etl_spark.queries import _learned_cents_shared
    from alphavantage_etl_spark.sources import load

    emb = load(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") % 25 != 7)
    cents6 = _learned_cents_shared(spark, SF_ORACLE)
    sums6, n_fit = bq_fit(corpus, dim=64)
    fused = bq_index(corpus, cents6, sums6, n_fit)
    composed = assign_cells_l2q(corpus, cents6, n_probe=1).join(
        bq_encode(corpus, sums6, n_fit), on="vec_id"
    )
    a = {r["vec_id"]: (r["__cell"], list(r["__bits"])) for r in fused.collect()}
    b = {
        r["vec_id"]: (r["__cell"], list(r["__bits"]))
        for r in composed.collect()
    }
    assert a == b and len(a) > 0


def test_random_projection_dim_fast_path_bit_identical(spark):
    from alphavantage_etl_spark.functions.vectors import random_projection

    rng = random.Random(14)
    rows = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(16)]) for i in range(200)
    ]
    rows.append((900, [0.5, -0.25]))  # ragged: must take the HOF branch
    rows.append((901, None))  # NULL vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    slow = random_projection(df, "embedding", "vec_id", out_dims=4)
    fast = random_projection(df, "embedding", "vec_id", out_dims=4, dim=16)
    a = {r["vec_id"]: tuple(r[f"p{j}"] for j in range(4)) for r in slow.collect()}
    b = {r["vec_id"]: tuple(r[f"p{j}"] for j in range(4)) for r in fast.collect()}
    assert a == b and len(a) == 202


@pytest.mark.slow
def test_connected_components_small_model_path_identical(spark, monkeypatch):
    from alphavantage_etl_spark.operators import graph

    rng = random.Random(7)
    edges = [
        (rng.randrange(0, 60), rng.randrange(0, 60)) for _ in range(80)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    def labels():
        return {
            r["node"]: r["cluster"]
            for r in graph.connected_components(df, "id_a", "id_b").collect()
        }

    small = labels()  # the exchange-free single-task path
    monkeypatch.setattr(graph, "_MODEL_LOOP_ROWS", 0)
    big = labels()  # the general (multi-partition) path
    assert big == small and len(big) > 0


def test_contamination_exact_probe_flips_filtered_bench_to_broadcast(
    spark, tmp_path
):
    from alphavantage_etl_spark.operators.contamination import (
        ngram_contamination,
    )

    # a parquet-backed table whose FILE is large relative to the filtered
    # benchmark slice: the file-level probe (bytes * 32) must decline
    # while the exact gram-count probe accepts
    rows = [(i, ("doc %d " % i) + "x" * 400) for i in range(400)]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(p)
    d = spark.read.parquet(p)
    bench = d.where(F.col("doc_id") % 97 == 0)  # 5 docs
    corp = d.where(F.col("doc_id") % 97 != 0)
    import os

    file_bytes = sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    # between the exact-probe estimate (~5 docs * ~410 grams * 48B) and
    # the file-level estimate (file_bytes * 32) — asserts the setup holds
    max_bytes = 300_000
    assert file_bytes * 32 > max_bytes > 5 * 410 * 48
    out = ngram_contamination(
        corp, bench, "text", "doc_id", k=8, threshold=0.05,
        broadcast_max_bytes=max_bytes,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final or "BroadcastExchange" in plan


# --- phase 9: ONE-round-trip SQL literals + expression-hoist fixes ---


def test_sql_array_lit_equals_f_lit(spark):
    """sql_array_lit must yield values bit-identical to the F.lit
    nested-list form it replaced (ints as BIGINT, floats as exact
    round-trip doubles), and fail loudly on shapes it cannot emit."""
    import pytest as _pytest

    from alphavantage_etl_spark.functions.vectors import sql_array_lit

    ints = [[1, -2, 9223372036854775807], [0, 42, -9223372036854775808]]
    floats = [0.1, -1e-7, 3.141592653589793, 123456.789, -0.0]
    row = spark.range(1).select(
        sql_array_lit(ints).alias("a"),
        F.lit(ints).alias("b"),
        sql_array_lit(floats).alias("c"),
        F.lit(floats).alias("d"),
    ).first()
    assert row["a"] == row["b"]
    assert all(
        x == y and str(x) == str(y) for x, y in zip(row["c"], row["d"])
    )
    with _pytest.raises(ValueError):
        sql_array_lit([])
    with _pytest.raises(ValueError):
        sql_array_lit([float("nan")])
    with _pytest.raises(ValueError):
        sql_array_lit([float("inf")])
    with _pytest.raises(TypeError):
        sql_array_lit([True])


def test_markov_journey_fusion_matches_join_union_reference(spark):
    """The fused one-pass journey build (window-derived closing-conv
    flag + 1-or-2 element explode) must produce the identical transition
    multiset as the join+union reference it replaced — multi-journey
    users, a journey with no closing conversion, and a user with no
    conversions at all."""
    from alphavantage_etl_spark.operators.cohorts import markov_attribution

    rows = []
    # user A: ch1 -> ch2 -> conv | ch1 -> (no conv)
    rows += [
        ("A", 1, 1, "ch1"), ("A", 2, 2, "ch2"), ("A", 3, 3, "purchase"),
        ("A", 4, 4, "ch1"),
    ]
    # user B: ch2 -> conv | ch3 -> ch3 -> conv
    rows += [
        ("B", 1, 5, "ch2"), ("B", 2, 6, "purchase"),
        ("B", 3, 7, "ch3"), ("B", 4, 8, "ch3"), ("B", 5, 9, "purchase"),
    ]
    # user C: no conversion ever
    rows += [("C", 1, 10, "ch1"), ("C", 2, 11, "ch3")]
    df = spark.createDataFrame(
        rows, "user string, ts long, event_id long, etype string"
    )
    out = {
        r["channel"]: (r["base_p"], r["p_removed"])
        for r in markov_attribution(
            df, "user", "ts", "etype", "event_id", iters=8
        ).collect()
    }
    # reference transition counts, computed in Python
    from collections import Counter

    journeys = {
        ("A", 1): (["ch1", "ch2"], True),
        ("A", 2): (["ch1"], False),
        ("B", 1): (["ch2"], True),
        ("B", 2): (["ch3", "ch3"], True),
        ("C", 1): (["ch1", "ch3"], False),
    }
    cnt = Counter()
    for (u, j), (touches, conv) in journeys.items():
        prev = "(start)"
        for t in touches:
            cnt[(prev, t)] += 1
            prev = t
        cnt[(prev, "(conv)" if conv else "(null)")] += 1
    assert set(out) == {"ch1", "ch2", "ch3"}
    assert len({v[0] for v in out.values()}) == 1

    # the fused build's transition multiset must equal BOTH the
    # hand-derived reference above and the join+union shape it replaced,
    # built here from the same primitives
    from pyspark.sql import Window

    okey = F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i"))
    w = Window.partitionBy("user").orderBy(okey)
    wu = Window.partitionBy("user")
    is_conv = F.col("etype") == "purchase"
    e = df.select(
        "user", "ts", "event_id", "etype",
        F.sum(is_conv.cast("long")).over(w).alias("__cc"),
        F.sum(is_conv.cast("long")).over(wu).alias("__nconv"),
    )
    touches = e.where(~is_conv).select(
        "user", "etype", "ts", "event_id", "__nconv",
        (F.col("__cc") + 1).alias("__j"),
    )
    wj = Window.partitionBy("user", "__j").orderBy(okey)
    seq = touches.withColumn("__prev", F.lag("etype").over(wj)).withColumn(
        "__next", F.lead("etype").over(wj)
    )
    frm = F.coalesce(F.col("__prev"), F.lit("(start)"))
    # OLD shape: join the conv rows back, then union steps + ends
    convs = e.where(is_conv).select(
        "user", F.col("__cc").alias("__j"), F.lit(1).alias("__conv")
    )
    tagged = seq.join(convs, ["user", "__j"], "left")
    steps = tagged.select(frm.alias("f"), F.col("etype").alias("t"))
    ends = tagged.where(F.col("__next").isNull()).select(
        F.col("etype").alias("f"),
        F.when(F.col("__conv").isNotNull(), F.lit("(conv)"))
        .otherwise(F.lit("(null)"))
        .alias("t"),
    )
    old_counts = {
        (r["f"], r["t"]): r["c"]
        for r in steps.unionByName(ends)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    # NEW shape: window-derived flag + explode (as in the operator)
    step = F.struct(frm.alias("f"), F.col("etype").alias("t"))
    end = F.struct(
        F.col("etype").alias("f"),
        F.when(F.col("__j") <= F.col("__nconv"), F.lit("(conv)"))
        .otherwise(F.lit("(null)"))
        .alias("t"),
    )
    new_counts = {
        (r["f"], r["t"]): r["c"]
        for r in seq.select(
            F.explode(
                F.when(F.col("__next").isNull(), F.array(step, end))
                .otherwise(F.array(step))
            ).alias("__e")
        )
        .select("__e.f", "__e.t")
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert new_counts == old_counts == dict(cnt)


def test_inline_rows_df_matches_create_dataframe(spark):
    """inline_rows_df must reproduce createDataFrame's rows and schema
    exactly for the supported types (incl. typed NULLs, booleans and
    the empty-frame case), and reject strings it cannot emit safely."""
    import pytest as _pytest

    from alphavantage_etl_spark.functions.vectors import inline_rows_df

    rows = [
        (1, 0.1, "alpha", True, None),
        (None, -1e-9, "b c", False, 7),
        (2**40, None, None, None, -3),
    ]
    fields = [("i", "BIGINT"), ("x", "DOUBLE"), ("s", "STRING"),
              ("b", "BOOLEAN"), ("j", "INT")]
    a = inline_rows_df(spark, rows, fields)
    b = spark.createDataFrame(
        rows, "i long, x double, s string, b boolean, j int"
    )
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
    # array columns (the persisted model parts): same dataTypes, and
    # doubles keep their exact bits
    arows = [
        (0, [2**62, -1, 0], [0.1, -1e-300, 2.0 / 3.0]),
        (1, None, [5e-324, -0.0]),
        (2, [7], None),
    ]
    afields = [("k", "INT"), ("c6", "ARRAY<BIGINT>"), ("v", "ARRAY<DOUBLE>")]
    a = inline_rows_df(spark, arows, afields)
    b = spark.createDataFrame(arows, "k int, c6 array<long>, v array<double>")
    assert [f.dataType for f in a.schema.fields] == [
        f.dataType for f in b.schema.fields
    ]
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
    got = {r["k"]: r["v"] for r in a.collect()}
    for k, _, v in arows:
        assert (got[k] is None) == (v is None)
        if v is not None:
            assert [struct.pack(">d", x) for x in got[k]] == [
                struct.pack(">d", x) for x in v
            ]
    # floats round-trip to the same bits
    x = inline_rows_df(spark, [(3.141592653589793,)], [("x", "DOUBLE")])
    assert x.first()["x"] == 3.141592653589793
    # empty frame: correct schema, zero rows
    e = inline_rows_df(spark, [], fields)
    assert e.count() == 0 and len(e.schema.fields) == 5
    with _pytest.raises(ValueError):
        inline_rows_df(spark, [("it's",)], [("s", "STRING")])
    with _pytest.raises(ValueError):
        inline_rows_df(spark, [(float("nan"),)], [("x", "DOUBLE")])
