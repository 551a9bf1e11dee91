"""Batch file sources & sinks (SURVEY.md §2.1 S1/S2).

The reference reads parquet day-dirs (``upload.py:66``); here that is
Spark's parquet scan with Hive partition discovery, plus the size- and
layout-tuned writer and the small-file compactor a large table needs.
The reference's per-day restamp-and-rewrite (``upload.py:67-74``, S4/S7)
lives in the replay harness (sources/replay.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S1/S2: batch parquet scan with Hive partition discovery (built-in).
    Passing an explicit schema skips footer reads — at 100 TB the footer
    listing alone is a job, so production callers should pass one."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_parquet_sized(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    codec: str = "zstd",
    max_records_per_file: int | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """Size- and layout-tuned parquet write — the knobs that matter at
    100 TB:

    - ``codec``: zstd ≈ gzip-level ratio at snappy-level read speed — the
      modern default for large archival/scan tables (snappy remains fine
      for hot intermediate data).
    - ``max_records_per_file`` caps file size so single files never exceed
      a task's comfortable input (~128-512 MB); without it, coalesced
      writers can emit multi-GB files that serialize downstream scans.
    - ``sort_within_partitions``: clustering columns sorted per file give
      parquet min/max row-group statistics real pruning power — a scan
      with a filter on the sort key skips whole row groups (poor man's
      Z-order for the single-column case).
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode).option("compression", codec)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 256 * (1 << 20),
    codec: str = "zstd",
    sort_within_partitions: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a directory of many small parquet
    files (the natural exhaust of streaming sinks and fine-grained
    partitioned ingest) into ~``target_file_bytes`` files. Returns the
    output file count.

    File count is sized from the ACTUAL on-disk bytes (cheap: file status
    listing, no data read), so compaction is one round-robin shuffle +
    write regardless of input layout. At 100 TB this runs per-partition
    (compact yesterday's partition after the stream moves on), never over
    the whole table at once.
    """
    import os

    total = 0
    for root, _dirs, names in os.walk(src_dir):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(src_dir)
    write_parquet_sized(
        df.repartition(n_files),
        dst_dir,
        codec=codec,
        sort_within_partitions=sort_within_partitions,
    )
    return n_files
