"""IO4 existence probes: catalog tables, path tables (absent vs broken must
be distinguishable), and the portable JDBC information_schema query."""

from __future__ import annotations

import os

import pytest

from alphavantage_etl_spark.sources.catalog import (
    information_schema_probe,
    path_exists,
    read_path_if_exists,
    table_exists,
)

from .conftest import SF_SMALL


def test_catalog_table_exists(spark):
    assert not table_exists(spark, "no_such_table_anywhere")
    spark.range(3).createOrReplaceTempView("probe_view")
    try:
        assert table_exists(spark, "probe_view")
    finally:
        spark.catalog.dropTempView("probe_view")
    assert not table_exists(spark, "probe_view")


def test_path_probe_absent_vs_present(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    assert read_path_if_exists(spark, missing) is None
    assert not path_exists(spark, missing)

    present = str(tmp_path / "written")
    spark.range(5).write.parquet(present)
    df = read_path_if_exists(spark, present)
    assert df is not None and df.count() == 5
    assert path_exists(spark, present)


def test_path_probe_propagates_corruption(spark, tmp_path):
    # A sink that EXISTS but cannot be read must raise, never report
    # "first run" — that would silently re-append the whole load.
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception) as exc_info:
        df = read_path_if_exists(spark, str(broken))
        if df is not None:
            df.count()
    assert exc_info.value is not None


def test_path_probe_with_a_given_schema(spark, tmp_path):
    # A sink read with its known schema infers nothing, and keeps both
    # contracts: absent is None, corrupt raises (when computed).
    schema = spark.range(1).schema
    assert read_path_if_exists(spark, str(tmp_path / "never"), schema=schema) is None

    present = str(tmp_path / "written")
    spark.range(5).write.parquet(present)
    df = read_path_if_exists(spark, present, schema=schema)
    assert df.columns == ["id"] and df.count() == 5

    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        read_path_if_exists(spark, str(broken), schema=schema).count()


def test_information_schema_probe_is_portable_sql():
    q = information_schema_probe("src_px_usd")
    assert q == (
        "SELECT 1 AS one FROM information_schema.tables "
        "WHERE table_schema = 'public' AND table_name = 'src_px_usd'"
    )
    assert "myschema" in information_schema_probe("t", schema="myschema")
    with pytest.raises(ValueError):
        information_schema_probe("bad'name")


def test_fixture_dir_counts_as_existing(spark):
    assert path_exists(spark, os.path.join(SF_SMALL, "orders.parquet"))
