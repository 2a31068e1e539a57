"""A/B of two checkouts: Spark jobs, warm CPU and result rows per query.

Each side runs in its own session (``session.get_spark`` of that
checkout, ``SPARK_GRAFT_CPUS`` cores). Per query: one cold run, then
``--reps`` warm runs. Every run clears the CacheManager first and counts
jobs under two job groups: plan construction ("build") and ``collect``
("run"). ``cpu_s`` is the CPU of the process tree (driver Python + JVM,
read from /proc) over build + collect. ``sha`` hashes the sorted
collected rows, and ``cache_empty`` records whether the CacheManager was
empty after the collect. Sides alternate their order pair by pair.

Usage:
    python scripts/persist_free_ab.py --parent PARENT_CHECKOUT \\
        --sf /path/to/sf0.01 --pairs 2 --reps 3 --out OUT.json q_a q_b ...
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one(root: str, sf: str, reps: int, names: list[str]) -> dict:
    sys.path.insert(0, root)
    from alphavantage_etl_spark.queries import ALL_QUERIES
    from alphavantage_etl_spark.session import get_spark
    from perfbench.meter import tree_cpu_s

    spark = get_spark("persist-free-ab")
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    out: dict[str, list[dict]] = {}
    for name in names:
        runs = []
        for rep in range(reps + 1):
            spark.catalog.clearCache()
            tag = f"{name}-{rep}"
            c0, t0 = tree_cpu_s(), time.perf_counter()
            sc.setJobGroup(f"{tag}-build", "build")
            df = ALL_QUERIES[name](spark, sf)
            sc.setJobGroup(f"{tag}-run", "run")
            rows = df.collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            ids = sc.statusTracker().getJobIdsForGroup
            build = len(ids(f"{tag}-build"))
            runs.append({
                "cold": rep == 0,
                "build_jobs": build,
                "total_jobs": build + len(ids(f"{tag}-run")),
                "cpu_s": round(cpu, 2),
                "wall_s": round(wall, 3),
                "rows": len(rows),
                "sha": hashlib.sha256(
                    repr(sorted(map(tuple, rows), key=repr)).encode()
                ).hexdigest()[:16],
                "cache_empty": cache.isEmpty(),
            })
        out[name] = runs
    spark.stop()
    return out


def _summary(sides: dict[str, list[dict]], names: list[str]) -> dict:
    res = {}
    for name in names:
        per = {}
        for side, sessions in sides.items():
            runs = [r for s in sessions for r in s[name]]
            cpu = [r["cpu_s"] for r in runs if not r["cold"]] or [None]
            wall = [r["wall_s"] for r in runs if not r["cold"]] or [None]
            per[side] = {
                "build_jobs": sorted({r["build_jobs"] for r in runs}),
                "total_jobs": sorted({r["total_jobs"] for r in runs}),
                "warm_cpu_s_median": statistics.median(cpu),
                "warm_cpu_s_range": [min(cpu), max(cpu)],
                "warm_wall_s_median": statistics.median(wall),
                "cache_empty_after_every_run": all(
                    r["cache_empty"] for r in runs),
                "sha": sorted({r["sha"] for r in runs}),
            }
        per["rows_identical"] = per["parent"]["sha"] == per["change"]["sha"]
        res[name] = per
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--one", help=argparse.SUPPRESS)
    ap.add_argument("--parent")
    ap.add_argument("--sf", required=True)
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()
    if a.one:
        print(json.dumps(_one(a.one, a.sf, a.reps, a.names)))
        return
    sides: dict[str, list[dict]] = {"parent": [], "change": []}
    roots = {"parent": os.path.abspath(a.parent), "change": HERE}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--one",
                   roots[side], "--sf", a.sf, "--reps", str(a.reps), *a.names]
            res = subprocess.run(cmd, cwd=roots[side], check=True,
                                 capture_output=True, text=True)
            sides[side].append(json.loads(res.stdout.strip().splitlines()[-1]))
            print(f"pair {i} {side} done", file=sys.stderr)
    doc = {
        "method": __doc__.split("Usage:")[0].strip(),
        "sf": os.path.basename(a.sf.rstrip("/")),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pairs": a.pairs,
        "warm_reps_per_session": a.reps,
        "summary": _summary(sides, a.names),
        "runs": sides,
    }
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc["summary"], indent=1))


if __name__ == "__main__":
    main()
