"""Storage layout strategies: partitioned and bucketed tables.

At 100 TB the difference between a usable table and an unusable one is
layout, not compute:

- **Partition by a coarse time/tenant column** (`partitionBy`): predicates
  on the partition column prune entire directories BEFORE any IO
  (`PartitionFilters` in the scan node). Daily-date partitioning of the
  reference's bar tables means an incremental run (`date > watermark`)
  touches only the new partitions — the physical form of the watermark
  protocol (SURVEY.md ST1).
- **Bucket by a high-cardinality join key** (`bucketBy` + `sortBy`): both
  sides of a recurring equi-join pre-hashed into the same bucket count
  join WITHOUT a shuffle (no Exchange in the plan) — the standing answer
  to "lineitem joins orders every night on orderkey".

Rules of thumb encoded here: partition count per write kept well under
10k (small-files death); bucket counts chosen as a power of two so two
bucketed tables can co-join after doubling one side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_col: str, mode: str = "overwrite"
) -> None:
    """Date/tenant-partitioned parquet layout; readers' filters on
    ``partition_col`` prune directories (verify via ``PartitionFilters``)."""
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table. Joining two tables
    bucketed on the same key with the same ``n_buckets`` needs no shuffle;
    sorted buckets additionally skip the in-memory sort of sort-merge."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table, format="parquet")


def co_located_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables; with matching bucketing Catalyst
    plans a SortMergeJoin with ZERO Exchange operators — callers can assert
    ``"Exchange" not in plan`` as the co-location proof."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_by(
    df: DataFrame,
    cols: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton-curve) clustering over 2-3 numeric columns: returns
    ``df`` range-partitioned and sorted by the interleaved-bit z-value, so
    a subsequent ``.write.parquet`` lays rows out with TIGHT per-file
    min/max footer statistics on EVERY listed column at once.

    Why: a linear sort gives perfect skipping on the leading column and
    none on the others; at 100 TB, scans filtered on either of two hot
    columns (e.g. ``user_id`` or ``ts``) want both pruned. Z-ordering
    trades a little locality on each column for good locality on all —
    parquet row-group/file skipping then works for both predicates
    (the same layout idea Delta's OPTIMIZE ZORDER BY applies).

    Mechanics (all JVM-side codegen, no UDFs):
    1. each column is min/max-scaled to a ``bits``-bit integer — the
       min/max pair per column is a bounded parameter fetch (one tiny agg,
       the same class as IVF centroids / query vectors);
    2. the z-value interleaves the columns' bits
       (bit i of col j -> bit ``i * len(cols) + j``);
    3. ``repartitionByRange(n_files, z)`` + ``sortWithinPartitions(z)``
       makes each output file one contiguous z-range.

    The z column is internal and dropped from the result. NULLs scale to
    bucket 0 (sort first). Column list order matters only for tie-breaking
    bit positions; 2-3 columns is the useful range (beyond that, per-column
    resolution degrades as bits/column shrink).
    """
    zc = "__z"
    return (
        _with_z_value(df, cols, bits, zc)
        .repartitionByRange(n_files, zc)
        .sortWithinPartitions(zc)
        .drop(zc)
    )


def _with_z_value(df: DataFrame, cols: list[str], bits: int, zc: str) -> DataFrame:
    """``df`` plus the interleaved-bit Morton value as column ``zc``
    (internal; split out so tests can inspect the z-value directly)."""
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by wants 1-4 columns")
    # the interleaved z-value lives in a signed 64-bit long: the highest
    # usable bit is 62 (bit 63 is the sign — a row landing there would sort
    # negative and break the Morton order). Auto-shrink per-column
    # resolution so bits * len(cols) <= 63.
    if bits * len(cols) > 63:
        bits = 63 // len(cols)
    # one scan over the column subset only (footer-level min/max would be
    # cheaper still, but this keeps semantics exact for any expression col)
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
    bounds = df.agg(*aggs).collect()[0]

    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            scaled = F.lit(0).cast("long")
        else:
            scaled = F.least(
                F.lit(top).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    (
                        (F.col(c).cast("double") - F.lit(float(mn)))
                        / F.lit((float(mx) - float(mn)) / top)
                    ).cast("long"),
                ),
            )
        scaled = F.coalesce(scaled, F.lit(0).cast("long"))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, i).bitwiseAND(F.lit(1).cast("long")),
                    i * len(cols) + j,
                )
            )
    return df.withColumn(zc, z)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_bytes`` each; returns the output file count.

    Streaming/incremental ingest appends one file per micro-batch per
    partition — at 100 TB that is millions of KB-sized files, and file
    OPEN cost (listing, footer reads, task scheduling) dwarfs byte cost.
    Periodic compaction is the standard fix (OPTIMIZE / rewrite_data_files
    in Delta/Iceberg); here it is an explicit operator.

    Sizing reads the source's actual on-disk bytes (compressed) from the
    file listing — not a row-count heuristic — so output files land near
    the target regardless of schema width or codec. ``sort_col`` re-sorts
    while rewriting (``repartitionByRange`` + in-partition sort) so
    compaction can also RESTORE clustering that append order destroyed;
    without it a round-robin repartition spreads bytes evenly.

    Writes to ``dst`` (must differ from ``src``): the swap — atomic rename
    on a filesystem, prefix flip on an object store — is the caller's
    transaction, keeping this operator side-effect-free on the source.
    """
    if src.rstrip("/") == dst.rstrip("/"):
        raise ValueError("compact_parquet writes to a NEW directory")
    from ..streaming.pipeline import _files_under

    # driver-side metadata listing (no data read) via Hadoop FS — works for
    # any supported scheme (file://, hdfs://, s3a://)
    total = sum(
        st.getLen()
        for st in _files_under(spark, src)
        if st.getPath().getName().endswith(".parquet")
    )
    n = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(src)
    if sort_col is not None:
        df = df.repartitionByRange(n, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(dst)
    return n
