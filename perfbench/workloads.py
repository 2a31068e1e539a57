"""The benchmark's workloads, each one closed-loop client.

A workload has three steps, all driven through the package's public calls:

- ``prepare(work_dir, seed, scale)`` writes the seeded inputs; it is part
  of set-up and runs once per set-up round;
- ``run(ctx, inputs, n_ops)`` runs the measured phase: a cold phase, then
  ``n_ops`` warm operations. Every operation is timed alone, labelled
  ``cold`` or ``warm``, and checked after the measured phase;
- ``check(ctx, inputs, state)`` runs the correctness gates, marks the op
  each failed gate belongs to as failed, and returns the stored bytes per
  row.

``Ctx`` carries the session, the tracer and the op records.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import gen
import meter


@dataclass
class Op:
    name: str
    phase: str  # "cold", "warm", or "check" (outside the measured phase)
    seconds: float
    cpu_s: float  # driver + JVM + worker CPU, which host steal does not inflate
    ok: bool = True
    note: str = ""


@dataclass
class Ctx:
    spark: object
    tracer: meter.Tracer
    ops: list[Op] = field(default_factory=list)

    def timed(self, name: str, phase: str, layer: str, fn):
        """Run ``fn`` as one operation; a raised error fails the operation."""
        with self.tracer.span(name, layer, phase=phase):
            t0, c0 = time.perf_counter(), meter.tree_cpu_s()
            try:
                out = fn()
            except Exception as exc:  # an op that raises counts as failed
                self.ops.append(Op(name, phase, time.perf_counter() - t0,
                                   meter.tree_cpu_s() - c0, False,
                                   f"{type(exc).__name__}: {exc}"[:300]))
                return None
            self.ops.append(Op(name, phase, time.perf_counter() - t0,
                               meter.tree_cpu_s() - c0))
            return out

    def fail(self, name: str, note: str) -> None:
        """Mark the last recorded op of ``name`` failed by a check."""
        for op in reversed(self.ops):
            if op.name == name and op.ok:
                op.ok, op.note = False, note
                return
        self.ops.append(Op(name, "check", 0.0, 0.0, False, note))


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------- models
#
# Cold: the registry's largest plan-construction cost (q_kmeans_fit_hd, after
# clearCache), then the persisted IVF-PQ index build through the public fit,
# encode and save calls that q_pq_serve's shared build makes. Warm: serve
# requests, each a load of the index plus an ADC probe for a seeded batch of
# query vectors.

MODEL_QUERIES = ["q_kmeans_fit_hd"]
SERVE_K, SERVE_PROBE, SERVE_BATCH = 6, 2, 8


def models_prepare(work_dir: str, seed: int, scale: str) -> dict:
    sf_dir = gen.write_embeddings(_reset(os.path.join(work_dir, "tables")), seed, scale)
    n = gen.SIZES[scale]["embeddings"]
    held_out = [i for i in range(n) if i % 25 == 7]  # q_pq_serve's query split
    rng = random.Random(seed)
    return {
        "sf_dir": sf_dir,
        "index": os.path.join(work_dir, "pq_index"),
        "batches": [sorted(rng.sample(held_out, SERVE_BATCH)) for _ in range(64)],
    }


def _fit_index(ctx: Ctx, sf_dir: str, path: str, phase: str):
    from pyspark.sql import functions as F

    from alphavantage_etl_spark.operators.similarity import (
        assign_cells_l2q,
        kmeans_fit_quantized,
        pq_encode_exact,
        pq_fit_exact,
        save_pq_index,
    )
    from alphavantage_etl_spark.sources import load

    tr = ctx.tracer
    layer = "operators.similarity"
    corpus = load(ctx.spark, sf_dir, "embeddings").where(F.col("vec_id") % 25 != 7)
    with tr.span("index_fit_cells", layer, phase=phase):
        fit = kmeans_fit_quantized(corpus, n_cells=8, iters=3, dim=64).collect()
        cents6 = [[0] * 64 for _ in range(8)]
        for r in fit:
            cents6[r["cell"]][r["dim"]] = int(r["c6"])
    with tr.span("index_fit_books", layer, phase=phase):
        fit = pq_fit_exact(corpus, m=4, codes=8, iters=2, dim=64).collect()
        books6 = [[[0] * 16 for _ in range(8)] for _ in range(4)]
        for r in fit:
            books6[r["subspace"]][r["code"]][r["dim"]] = int(r["c6"])
    with tr.span("index_encode_save", layer, phase=phase):
        coded = assign_cells_l2q(corpus, cents6, n_probe=1).join(
            pq_encode_exact(corpus, books6), on="vec_id"
        )
        save_pq_index(coded, cents6, books6, path)


def _serve(ctx: Ctx, sf_dir: str, path: str, ids: list[int], phase: str):
    from pyspark.sql import functions as F

    from alphavantage_etl_spark.operators.similarity import ann_join_pq, assign_cells_l2q
    from alphavantage_etl_spark.sources import load
    from alphavantage_etl_spark.streaming.pipeline import load_pq_index

    tr = ctx.tracer
    with tr.span("load_pq_index", "streaming", phase=phase):
        idx, cents6, books6 = load_pq_index(ctx.spark, path)
    with tr.span("ann_join_pq", "operators.similarity", phase=phase):
        q = load(ctx.spark, sf_dir, "embeddings").where(F.col("vec_id").isin(ids))
        qc = assign_cells_l2q(q, cents6, n_probe=SERVE_PROBE)
        return ann_join_pq(q, k=SERVE_K, query_cells=qc, corpus_index=idx,
                           books6=books6).collect()


def _model_query(ctx: Ctx, name: str, sf_dir: str, phase: str):
    from alphavantage_etl_spark.queries import ALL_QUERIES

    tr = ctx.tracer
    ctx.spark.catalog.clearCache()
    with tr.span("build", "queries.build", phase=phase, op=name):
        df = ALL_QUERIES[name](ctx.spark, sf_dir)
    with tr.span("run", "queries.run", phase=phase, op=name):
        return df.columns, df.collect()


def models_run(ctx: Ctx, inp: dict, n_ops: int) -> dict:
    sf, path = inp["sf_dir"], inp["index"]
    results = {}
    for name in MODEL_QUERIES:
        results[name] = ctx.timed(name, "cold", "queries",
                                  lambda n=name: _model_query(ctx, n, sf, "cold"))
    ctx.timed("index_build", "cold", "operators.similarity",
              lambda: _fit_index(ctx, sf, path, "cold"))
    served = []
    for i in range(n_ops):
        ids = inp["batches"][i % len(inp["batches"])]
        rows = ctx.timed("serve", "warm", "request",
                         lambda ids=ids: _serve(ctx, sf, path, ids, "warm"))
        served.append((ids, rows))
    return {"results": results, "served": served}


def models_warmup(ctx: Ctx, inp: dict) -> None:
    """Each op's plan shape once on the small inputs, so codegen is warm."""
    sf, path = inp["sf_dir"], inp["index"]
    for name in MODEL_QUERIES:
        _model_query(ctx, name, sf, "warmup")
    _fit_index(ctx, sf, path, "warmup")
    _serve(ctx, sf, path, inp["batches"][0], "warmup")


def models_check(ctx: Ctx, inp: dict, state: dict, corrupt: bool = False) -> dict:
    from alphavantage_etl_spark.queries import ALL_ORACLES

    views = checks.fixture_views(inp["sf_dir"])
    for name, got in state["results"].items():
        if got is None:
            continue
        want_cols, want_rows = checks.duck(ALL_ORACLES[name], views)
        if corrupt:
            want_rows = want_rows[1:] + [tuple(reversed(want_rows[0]))]
            corrupt = False
        bad = checks.mismatch(name, got[0], got[1], want_cols, want_rows)
        if bad:
            ctx.fail(name, bad)
    cols, oracle = checks.duck(ALL_ORACLES["q_pq_serve"], views)
    qi = cols.index("query_id")
    for i, (ids, rows) in enumerate(state["served"]):
        if rows is None:
            continue
        want = [r for r in oracle if r[qi] in set(ids)]
        got_cols = list(rows[0].asDict()) if rows else cols
        bad = checks.mismatch(f"serve[{i}]", got_cols, [tuple(r) for r in rows],
                              cols, want)
        if bad:
            ctx.fail("serve", bad)
    index_rows = ctx.spark.read.parquet(f"{inp['index']}/assignments").count()
    return {"stored_bytes_per_row":
            checks.parquet_bytes(inp["index"]) / max(index_rows, 1)}


# -------------------------------------------------------------------- refresh
#
# The reference's weekly cycle over growing snapshots: load the new dates
# into the parquet sink (full history on the cold first cycle), then build,
# render and publish the report over the snapshot's full history.

# The seed picks the first cutoff within ten weeks, so every seed loads
# about the same history (~5.9 of the 6.6 generated years).
REFRESH_DAY0 = dt.date(2000, 10, 2)


def refresh_prepare(work_dir: str, seed: int, scale: str, n_cycles: int) -> dict:
    base = REFRESH_DAY0 + dt.timedelta(days=random.Random(seed).randrange(0, 70))
    cutoffs = [base + dt.timedelta(days=7 * i) for i in range(n_cycles + 1)]
    snaps = gen.write_snapshots(_reset(os.path.join(work_dir, "snaps")), seed,
                                scale, cutoffs)
    return {"snaps": snaps, "sink": os.path.join(work_dir, "sink"),
            "site": os.path.join(work_dir, "site")}


def _cycle(ctx: Ctx, snap: str, sink: str, site: str, phase: str):
    from alphavantage_etl_spark.plans.etl import run_etl
    from alphavantage_etl_spark.plans.render import publish_report, render_report
    from alphavantage_etl_spark.plans.report import report_frames

    tr = ctx.tracer
    with tr.span("run_etl", "plans.etl", phase=phase) as rec:
        appended = run_etl(ctx.spark, snap, sink)
        rec["appended"] = sum(appended.values())
    with tr.span("report_frames", "plans.report", phase=phase):
        frames = report_frames(ctx.spark, snap)
    with tr.span("render_report", "plans.render", phase=phase):
        html = render_report(frames)
        publish_report(html, site)
    return appended, html


def refresh_run(ctx: Ctx, inp: dict, n_ops: int) -> dict:
    shutil.rmtree(inp["sink"], ignore_errors=True)
    out = []
    for i, snap in enumerate(inp["snaps"][: n_ops + 1]):
        phase = "cold" if i == 0 else "warm"
        out.append(ctx.timed("cycle", phase, "cycle",
                             lambda s=snap, p=phase: _cycle(ctx, s, inp["sink"],
                                                            inp["site"], p)))
    return {"cycles": out, "snaps": inp["snaps"][: n_ops + 1]}


def refresh_warmup(ctx: Ctx, inp: dict) -> None:
    shutil.rmtree(inp["sink"], ignore_errors=True)
    for snap in inp["snaps"][:2]:
        _cycle(ctx, snap, inp["sink"], inp["site"], "warmup")


def refresh_check(ctx: Ctx, inp: dict, state: dict, corrupt: bool = False) -> dict:
    from alphavantage_etl_spark.plans.etl import run_etl

    snaps, sink = state["snaps"], inp["sink"]
    prev = None
    for i, (snap, res) in enumerate(zip(snaps, state["cycles"])):
        if res is not None:
            want = checks.new_dates(prev, snap)
            if corrupt:
                want["src_px_usd"] += 1
                corrupt = False
            if res[0] != want:
                ctx.fail("cycle", f"cycle {i} appended {res[0]}, expected {want}")
            missing = checks.missing_report_blocks(res[1])
            if missing:
                ctx.fail("cycle", f"cycle {i} report lacks {missing}")
        prev = snap
    rerun = ctx.timed("rerun", "check", "plans.etl",
                      lambda: run_etl(ctx.spark, snaps[-1], sink))
    if rerun is not None and any(rerun.values()):
        ctx.fail("rerun", f"rerun of the last snapshot appended {rerun}")
    rows = 0
    for table, sql in checks.bars_sql(snaps[-1]).items():
        got = checks.sink_rows(sink, table)
        bad = checks.mismatch(table, *got, *checks.duck(sql, {}))
        if bad:
            ctx.fail("cycle", f"sink {bad}")
        rows += len(got[1])
    return {"stored_bytes_per_row": checks.parquet_bytes(sink) / max(rows, 1)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
