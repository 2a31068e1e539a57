"""SparkSession factory with defaults tuned for both local testing and the
100 TB design point.

The reference executes eagerly in a single pandas process (av_etl.py, whole
file); here the session is the entry to Catalyst/Tungsten/AQE, which replaces
every hand-rolled optimization the reference made (SURVEY.md section 4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "alphavantage-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults chosen for scale behavior, not just local green-ness:

    - AQE on: runtime re-planning (partition coalescing, skew-join splitting,
      broadcast conversion) is the first line of defense at 100 TB.
    - ``spark.sql.shuffle.partitions`` sized to the local core count here; on a
      real cluster AQE's coalescing makes a high initial value cheap.
    - UTC session timezone: fixture timestamps are naive; pin the
      interpretation so date functions are deterministic across machines.
    - Arrow enabled for the few ``toPandas()`` consumption edges.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as raw nanos-since-epoch long and convert in the
        # loader (sources/parquet.py) with integer division -> microseconds,
        # matching DuckDB's ns->us truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # localCheckpoint blocks from iterative operators (connected
        # components, pagerank, label propagation, markov attribution,
        # k-center) and from the operators' other checkpoints are
        # reclaimed by the ContextCleaner only after driver GC notices
        # the dropped references; no public API frees them eagerly
        # (Dataset.unpersist only drops CacheManager entries, and a
        # checkpoint has none). A quiet driver heap can postpone that
        # indefinitely; lowering the periodic-GC backstop from the 30min
        # default bounds dead-block accumulation between rounds to ~5min
        # of iterations at negligible GC cost (r5 ADVICE).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
