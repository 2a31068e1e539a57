#!/usr/bin/env python3
"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json``:

1. an untraced run must pass its checks and print every end-to-end metric
   with its declared unit;
2. a traced run with one expected value corrupted must print every
   per-layer metric with its unit, report ``correct: false`` with at least
   one failed op, and exit non-zero: the correctness gate fires.

Runs one after another; takes a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, *flags: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--scale", "sf0.001", *flags]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else {}


def missing(result: dict, declared: list[dict]) -> list[str]:
    got = result.get("metrics", {})
    return [f"{m['name']} [{m['unit']}]" for m in declared
            if got.get(m["name"], {}).get("unit") != m["unit"]]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        code, res = run(w, "--trace", "0")
        if code != 0 or not res.get("correct") or res.get("failed"):
            problems.append(f"{w}: clean run failed (exit {code}): {res}")
        if miss := missing(res, spec["end_to_end"]):
            problems.append(f"{w}: end-to-end metrics missing {miss}")
        code, res = run(w, "--trace", "1", "--corrupt")
        if code == 0 or res.get("correct") is not False or not res.get("failed"):
            problems.append(f"{w}: corrupted expectation passed (exit {code})")
        if miss := missing(res, spec["per_layer"]):
            problems.append(f"{w}: per-layer metrics missing {miss}")
        print(f"{w}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
