"""Text-format file sources (CSV / JSON-lines) with declared schemas and
explicit corrupt-record policy.

The reference consumes only REST JSON and Postgres; a general engine also
ingests flat files. Two rules make these scale-safe:

- **Always declare the schema.** Schema inference reads the data TWICE
  (one full pass just to infer) and can silently flip a column's type when
  a new file's values happen to parse differently — at 100 TB both are
  unacceptable. Every reader here requires a schema.
- **Make bad rows visible, not fatal and not silent.** PERMISSIVE mode
  with an explicit ``_corrupt_record`` column quarantines unparseable rows
  for inspection; ``mode="FAILFAST"`` is the strict alternative. DROPMALFORMED
  is deliberately not exposed — silently losing rows is how corpus counts
  drift.

Both formats split by lines, so reads parallelize per HDFS/object-store
block; unlike parquet there is no column pruning or predicate pushdown —
these are INGEST formats, landed to parquet before analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _schema_with_corrupt(schema: T.StructType) -> T.StructType:
    """PERMISSIVE mode only captures bad rows if the corrupt column is part
    of the declared schema."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """CSV with declared schema. In PERMISSIVE mode the result carries a
    ``_corrupt_record`` column (NULL for clean rows); FAILFAST raises on
    the first malformed row."""
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"mode must be PERMISSIVE or FAILFAST, got {mode!r}")
    use_schema = _schema_with_corrupt(schema) if mode == "PERMISSIVE" else schema
    return (
        spark.read.schema(use_schema)
        .options(
            header=str(header).lower(),
            mode=mode,
            columnNameOfCorruptRecord=CORRUPT_COL,
            **options,
        )
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    **options: str,
) -> DataFrame:
    """JSON-lines with declared schema; same corrupt-record policy as
    :func:`read_csv`. Fields present in the data but absent from the
    schema are ignored (projection at parse time — the JSONL analog of
    column pruning)."""
    if mode not in ("PERMISSIVE", "FAILFAST"):
        raise ValueError(f"mode must be PERMISSIVE or FAILFAST, got {mode!r}")
    use_schema = _schema_with_corrupt(schema) if mode == "PERMISSIVE" else schema
    return (
        spark.read.schema(use_schema)
        .options(mode=mode, columnNameOfCorruptRecord=CORRUPT_COL, **options)
        .json(path)
    )


def quarantine_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean rows without the corrupt column,
    corrupt rows). The corrupt frame keeps the raw line for repair.

    The parse is checkpointed first: Spark forbids queries that prune down
    to ONLY ``_corrupt_record`` over a raw text source (the parser cannot
    know a row is corrupt without parsing the others), and the quarantine
    count is exactly such a query; over the checkpoint it is legal. A
    checkpoint, not a cache: the CacheManager would match a later read of
    the rewritten raw file to the cached parse and split its old rows.
    For production-scale ingest, land the PERMISSIVE read to parquet once
    and split from there instead of checkpointing the raw parse."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.localCheckpoint(eager=True)
    clean = df.where(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    bad = df.where(df[CORRUPT_COL].isNotNull())
    return clean, bad
