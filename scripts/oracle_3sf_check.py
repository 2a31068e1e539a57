"""Persist a build-time 3-SF oracle-exactness run as an ARTIFACT.

ADVICE r11 (low, CORRECTNESS_r11.json): the hash-exact status of
late-round additions exists only as prose in PERF.md/SURVEY.md until the
next driver rotation — an evidence-trail gap. This script runs the
strict local oracle gate (tests/oracle.py — the driver-replica multiset
compare, exact to float bits) for a named query list at ALL THREE
testdata scale factors and writes one JSON artifact per invocation.

The session is a vanilla ``SparkSession`` (not ``session.get_spark``), so
no conf from ``session.py`` can mask a query bug. It uses
``SPARK_GRAFT_CPUS`` cores and as many shuffle partitions, falling back
to the core count ``nproc`` reports, and a driver heap of
``SPARK_GRAFT_DRIVER_MEM`` (``session.py``'s default, 8g). The JSON is
rewritten after every query, so a run that is killed keeps the results
of every query it finished.

Usage:
    python scripts/oracle_3sf_check.py OUT.json q_a q_b ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> None:
    out_path, names = sys.argv[1], sys.argv[2:]
    from pyspark.sql import SparkSession

    from alphavantage_etl_spark.queries import ALL_ORACLES, ALL_QUERIES
    from tests.oracle import assert_matches_oracle

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .appName("oracle-3sf-artifact")
        .getOrCreate()
    )
    results: dict[str, dict[str, object]] = {}
    for name in names:
        per_sf: dict[str, object] = {}
        for sf in SFS:
            key = sf.rsplit("/", 1)[-1]
            try:
                sdf = ALL_QUERIES[name](spark, sf)
                rows = sdf.count()
                assert_matches_oracle(sdf, sf, ALL_ORACLES[name], name)
                per_sf[key] = {"hash_exact": True, "rows": rows}
            except Exception as e:  # record, keep going
                per_sf[key] = {"hash_exact": False, "err": str(e)[:500]}
        results[name] = per_sf
        print(name, per_sf)
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()
    ok = all(
        v["hash_exact"] for per in results.values() for v in per.values()
    )
    print(f"wrote {out_path}; all_exact={ok}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
