"""spread_scan: lazy metadata-only width probe (r8 verdict, wrong #2).

The probe must never convert the DataFrame to an RDD or run a job at
operator-build time — the old ``df.rdd.getNumPartitions()`` form
materialized the physical plan for every wrapped operator. These tests
pin (a) the no-RDD property directly by poisoning ``DataFrame.rdd``
and (b) the repartition decision on narrow vs wide inputs.
"""

from __future__ import annotations

import pyspark.sql
import pytest
from pyspark.sql import functions as F

from alphavantage_etl_spark.functions.parallelism import (
    _estimated_scan_width,
    _parse_bytes,
    spread_scan,
)

from .conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_parse_bytes_suffixes():
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("4096") == 4096
    assert _parse_bytes("2k") == 2048


def test_probe_does_not_convert_to_rdd(spark, monkeypatch):
    """Build path must not touch DataFrame.rdd (plan materialization)."""

    def _poisoned(self):  # pragma: no cover - raising is the assertion
        raise AssertionError("spread_scan probed df.rdd at build time")

    monkeypatch.setattr(
        pyspark.sql.DataFrame, "rdd", property(_poisoned), raising=True
    )
    out = spread_scan(_docs(spark).select("doc_id", "text"))
    # the returned plan is still buildable and analyzable without .rdd
    assert "doc_id" in out.columns


def test_narrow_input_is_repartitioned(spark):
    """The sf fixture is one single-row-group parquet file: estimated
    width 1 < defaultParallelism, so the derivation input must be
    repartitioned to the cluster width."""
    base = _docs(spark).select("doc_id")
    par = spark.sparkContext.defaultParallelism
    assert _estimated_scan_width(base) < par
    out = spread_scan(base)
    assert out.rdd.getNumPartitions() == par
    # values unchanged (partitioning-immune contract)
    assert out.count() == base.count()


def test_wide_input_is_left_alone(spark):
    """When the estimated scan width >= parallelism the operator is an
    identity — the scale-path (100 TB) behavior. Simulated by shrinking
    maxPartitionBytes so the size-based split estimate exceeds the
    cluster width."""
    base = _docs(spark).select("doc_id", "text")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        par = spark.sparkContext.defaultParallelism
        assert _estimated_scan_width(base) >= par
        out = spread_scan(base)
        assert out is base
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_estimate_counts_files(spark, tmp_path):
    """A many-file input reports width >= file count, so a 100TB-style
    multi-file scan is recognized as wide without touching the data."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 50 * par).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "many")
    df.repartition(2 * par).write.parquet(path)
    back = spark.read.parquet(path)
    n_files = len(back.inputFiles())
    assert n_files >= par
    assert _estimated_scan_width(back) >= n_files
    assert spread_scan(back) is back


def test_estimate_respects_small_file_packing(spark, tmp_path):
    """Spark packs small files into few FilePartitions when openCost is
    small relative to the split size; the width estimate must follow the
    packing bound instead of raw #files (r9 advice) — otherwise a
    genuinely narrow many-small-file scan would be called wide and skip
    the repartition it exists to get."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 50 * par)
    path = str(tmp_path / "tiny")
    df.repartition(2 * par).write.parquet(path)
    back = spark.read.parquet(path)
    n_files = len(back.inputFiles())
    assert n_files > par
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    spark.conf.set("spark.sql.files.openCostInBytes", "1b")
    try:
        est = _estimated_scan_width(back)
        # with ~free opens Spark targets defaultParallelism via
        # maxSplit = totalSize/par, packing the tiny files together —
        # the estimate must track that, not the raw file count
        assert est < n_files
        assert est <= par + 2
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)
