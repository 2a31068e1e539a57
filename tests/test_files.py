"""CSV / JSON-lines sources: schema-declared reads round-trip the parquet
fixtures exactly, and corrupt rows are quarantined, never silently lost."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alphavantage_etl_spark.sources import load
from alphavantage_etl_spark.sources.files import (
    CORRUPT_COL,
    quarantine_corrupt,
    read_csv,
    read_jsonl,
)

from .conftest import SF_SMALL

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs(spark):
    # text dropped: newlines inside quoted CSV fields are a writer option
    # orthogonal to what these readers pin down
    return load(spark, SF_SMALL, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    src = _docs(spark)
    path = str(tmp_path / "docs_csv")
    src.coalesce(1).write.option("header", True).csv(path)
    back = read_csv(spark, path, DOC_SCHEMA)
    clean, bad = quarantine_corrupt(back)
    assert bad.count() == 0
    assert clean.schema == src.schema
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, src.collect()))


def test_jsonl_roundtrip_matches_parquet(spark, tmp_path):
    src = _docs(spark)
    path = str(tmp_path / "docs_jsonl")
    src.coalesce(1).write.json(path)
    clean, bad = quarantine_corrupt(read_jsonl(spark, path, DOC_SCHEMA))
    assert bad.count() == 0
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, src.collect()))


def test_corrupt_rows_are_quarantined_not_lost(spark, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "part-000.json").write_text(
        '{"doc_id": 1, "lang": "en", "source": "a", "n_chars": 10}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "lang": "de", "source": "b", "n_chars": 20}\n'
    )
    back = read_jsonl(spark, str(d), DOC_SCHEMA)
    clean, bad = quarantine_corrupt(back)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    assert bad.count() == 1
    assert "NOT JSON" in bad.collect()[0][CORRUPT_COL]


def test_quarantine_follows_a_rewritten_raw_file(spark, tmp_path):
    """Splitting a raw file that was rewritten mid-session returns the
    new file's rows, and the split leaves nothing in the CacheManager
    (which would match the rewritten path to the old parse). A query of
    the corrupt column alone is legal over the split."""
    d = tmp_path / "raw"
    d.mkdir()
    f = d / "part-000.json"
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def corrupt_lines():
        clean, bad = quarantine_corrupt(read_jsonl(spark, str(d), DOC_SCHEMA))
        lines = sorted(r[0] for r in bad.select(CORRUPT_COL).collect())
        return sorted(r["doc_id"] for r in clean.collect()), lines

    f.write_text(
        '{"doc_id": 1, "lang": "en", "source": "a", "n_chars": 10}\n'
        "FIRST BAD\n"
    )
    assert corrupt_lines() == ([1], ["FIRST BAD"])
    f.write_text(
        '{"doc_id": 2, "lang": "de", "source": "b", "n_chars": 20}\n'
        "SECOND BAD\n"
        "THIRD BAD\n"
    )
    assert corrupt_lines() == ([2], ["SECOND BAD", "THIRD BAD"])
    assert cache.isEmpty()


def test_failfast_raises_on_corrupt(spark, tmp_path):
    d = tmp_path / "bad"
    d.mkdir()
    (d / "part-000.json").write_text('{"doc_id": 1}\ngarbage\n')
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_jsonl(spark, str(d), DOC_SCHEMA, mode="FAILFAST").collect()


def test_dropmalformed_not_exposed(spark, tmp_path):
    with pytest.raises(ValueError, match="PERMISSIVE or FAILFAST"):
        read_csv(spark, str(tmp_path), DOC_SCHEMA, mode="DROPMALFORMED")


def test_jsonl_ignores_undeclared_fields(spark, tmp_path):
    d = tmp_path / "extra"
    d.mkdir()
    (d / "part-000.json").write_text(
        '{"doc_id": 1, "lang": "en", "source": "a", "n_chars": 5, "extra": "x"}\n'
    )
    clean, bad = quarantine_corrupt(read_jsonl(spark, str(d), DOC_SCHEMA))
    assert bad.count() == 0
    assert clean.columns == ["doc_id", "lang", "source", "n_chars"]
