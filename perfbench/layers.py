"""Per-layer split of a traced run.

Spans come from ``meter.Tracer`` and carry the layer they call into; Spark
job, stage and task metrics come from the event log, keyed by each span's
job group. Every metric is printed on both workloads; a layer a workload
does not call reads 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import meter

SPARK_KEYS = ["stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]
SPARK_UNITS = {"stages": "count", "tasks": "count", "executor_cpu_s": "s",
               "executor_run_s": "s", "gc_s": "s", "shuffle_read_bytes": "B",
               "shuffle_write_bytes": "B", "spill_bytes": "B"}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(workload: str, spans: list[dict], events: dict, win: dict):
    measured = [s for s in spans if s.get("phase") in ("cold", "warm")]
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    selft = meter.self_time(spans)
    ev = {s["id"]: {"jobs": s["jobs"], **events.get(s["group"], {})} for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def incl(s, key):
        """``key`` (jobs or an event-log metric) over ``s`` and its descendants."""
        return ev[s["id"]].get(key, 0) + sum(incl(c, key) for c in kids[s["id"]])

    def named(name, phase=None):
        return [s for s in measured if s["name"] == name
                and (phase is None or s["phase"] == phase)]

    m: dict[str, tuple[float, str]] = {}

    # queries: registry plan construction vs the final action, per op
    build = named("build")
    run = named("run")
    bj, rj = sum(s["jobs"] for s in build), sum(s["jobs"] for s in run)
    m["queries.build_s"] = (sum(dur[s["id"]] for s in build), "s")
    m["queries.build_jobs"] = (bj, "count")
    m["queries.run_s"] = (sum(dur[s["id"]] for s in run), "s")
    m["queries.run_jobs"] = (rj, "count")
    m["queries.build_job_share"] = (bj / (bj + rj) if bj + rj else 0.0, "ratio")

    # operators.similarity: the index build, step by step
    total_s = total_j = 0.0
    for step in ("fit_cells", "fit_books", "encode_save"):
        ss = named(f"index_{step}", "cold")
        s_, j_ = sum(dur[s["id"]] for s in ss), sum(s["jobs"] for s in ss)
        m[f"operators.similarity.{step}_s"] = (s_, "s")
        m[f"operators.similarity.{step}_jobs"] = (j_, "count")
        total_s, total_j = total_s + s_, total_j + j_
    m["operators.similarity.index_build_s"] = (total_s, "s")
    m["operators.similarity.index_build_jobs"] = (total_j, "count")

    # per warm request / cycle: medians (job counts repeat exactly)
    for key, name in [("streaming.load_pq_index", "load_pq_index"),
                      ("operators.similarity.ann_join_pq", "ann_join_pq"),
                      ("plans.etl.run_etl", "run_etl"),
                      ("plans.report.report_frames", "report_frames"),
                      ("plans.render.render_report", "render_report")]:
        ss = named(name, "warm")
        m[f"{key}_s"] = (_med([dur[s["id"]] for s in ss]), "s")
        m[f"{key}_jobs"] = (_med([s["jobs"] for s in ss]), "count")
    sim = [s for s in measured if s["layer"] == "operators.similarity"]
    m["operators.similarity.gc_s"] = (sum(ev[s["id"]].get("gc_s", 0) for s in sim), "s")

    etl = named("run_etl")
    scanned = sum(ev[s["id"]].get("input_records", 0) for s in etl)
    m["plans.etl.bytes_written"] = (sum(ev[s["id"]].get("output_bytes", 0) for s in etl), "B")
    m["plans.etl.rows_appended_per_row_scanned"] = (
        sum(s.get("appended", 0) for s in etl) / scanned if scanned else 0.0, "ratio")

    # whole measured phase
    top = [s for s in measured if s["parent"] is None]
    m["sources.input_bytes"] = (sum(incl(s, "input_bytes") for s in top), "B")
    m["sources.input_records"] = (sum(incl(s, "input_records") for s in top), "count")
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = (sum(incl(s, k) for s in top), SPARK_UNITS[k])
    m["spark.jobs"] = (sum(incl(s, "jobs") for s in top), "count")
    covered = sum(dur[s["id"]] for s in top)
    m["trace.uncovered_s"] = (win["wall_s"] - covered, "s")

    # detail: every span name's totals, and the per-op split
    by_name: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in measured:
        d = by_name[f"{s['layer']}:{s['name']}:{s['phase']}"]
        d["count"] += 1
        d["wall_s"] += dur[s["id"]]
        d["self_s"] += selft[s["id"]]
        d["jobs"] += s["jobs"]
        for k in SPARK_KEYS + ["input_bytes", "input_records"]:
            d[k] += ev[s["id"]].get(k, 0)
    per_op = {}
    for s in top:
        per_op.setdefault(s["name"], []).append({
            "phase": s["phase"], "wall_s": dur[s["id"]],
            "jobs": incl(s, "jobs"),
            "steps": {c["name"]: {"s": dur[c["id"]], "jobs": incl(c, "jobs")}
                      for c in kids[s["id"]]},
        })
    detail = {
        "workload": workload,
        "spans": {k: dict(v) for k, v in by_name.items()},
        "per_op": per_op,
        "uncovered_s": win["wall_s"] - covered,
    }
    return m, detail
