"""Incremental replay harness — file-arrival stream simulator.

Re-engineering of the reference's uploader (``upload.py:80-106``): walk a
date-partitioned dataset, re-emit one day-partition at a time into a target
directory (with an optional delay), stamping each day with a
``processed_date``. In the reference this targeted ADLS Gen2; here the
target is a local directory — tests use tmp dirs.

This is a *test/ingest harness*, not an engine operator (SURVEY.md §2.1
S8): the per-day loop is driver-side sequencing, and so is the writing.
Every writer here produces ONE parquet file through Arrow on the driver,
with no Spark write job: the file is written under a hidden
``_stage-*.parquet`` name (Spark's file listing skips names that start
with ``_`` or ``.``) and then ``os.rename``d into place, so a file-source
stream polling the target sees each file whole, exactly once. Discovery
(``os.walk``) and the rename work on a local filesystem only, as
discovery always did; a remote target needs a commit-protocol source
instead (sources/snapshots.py).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_PART_RE = re.compile(r"(\w+)=([^/]+)")
# Spark's parquet writer stores the DataFrame schema under this footer key,
# and Spark's reader takes the schema from it when present.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_STAMP_COL = "processed_date"
_STAMP_TYPE = pa.timestamp("us", tz="UTC")


def discover_day_partitions(root: str) -> list[tuple[dt.date, str]]:
    """Find ``year=/month=/day=`` leaf dirs under ``root``, sorted by date
    (the os.walk + sort of upload.py:86-98)."""
    out: list[tuple[dt.date, str]] = []
    for dirpath, dirnames, filenames in os.walk(root):
        parts = dict(_PART_RE.findall(dirpath.replace(os.sep, "/")))
        if {"year", "month", "day"} <= parts.keys() and filenames:
            out.append(
                (
                    dt.date(
                        int(parts["year"]), int(parts["month"]), int(parts["day"])
                    ),
                    dirpath,
                )
            )
    out.sort(key=lambda x: x[0])
    return out


def _stage_then_rename(write: Callable[[str], None], final: str) -> str:
    """Write one parquet file with ``write(path)`` under a hidden
    ``_stage-*`` name beside ``final``, then rename it to ``final``. A
    single-file rename is atomic on a local filesystem, so a directory
    listing sees the whole file or none of it."""
    stage = os.path.join(
        os.path.dirname(final), f"_stage-{uuid.uuid4().hex[:12]}.parquet"
    )
    try:
        write(stage)
        os.rename(stage, final)
    finally:
        if os.path.exists(stage):
            os.remove(stage)
    return final


def _replace_dir(write: Callable[[str], None], dst: str) -> str:
    """Overwrite ``dst`` with a directory holding the one file ``write``
    makes; returns ``dst``."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    _stage_then_rename(
        write, os.path.join(dst, f"part-00000-{uuid.uuid4().hex[:12]}.parquet")
    )
    return dst


def _spark_table(df: DataFrame) -> pa.Table:
    """Collect ``df`` as Arrow, with ``df.schema`` in the footer key Spark's
    own writer fills, so Spark reads the file back with the same types
    (``timestamp_ntz`` included) whatever its timestamp inference."""
    table = df.toArrow()
    meta = {**(table.schema.metadata or {}), _SPARK_SCHEMA_KEY: df.schema.json()}
    return table.replace_schema_metadata(meta)


def _stamped_schema(schema: pa.Schema) -> pa.Schema:
    """``schema`` plus ``processed_date``; a Spark schema in the footer
    metadata gains the same field."""
    meta = dict(schema.metadata or {})
    if _SPARK_SCHEMA_KEY in meta:
        spark_schema = json.loads(meta[_SPARK_SCHEMA_KEY])
        spark_schema["fields"].append(
            {"name": _STAMP_COL, "type": "timestamp", "nullable": True,
             "metadata": {}}
        )
        meta[_SPARK_SCHEMA_KEY] = json.dumps(spark_schema)
    return schema.append(pa.field(_STAMP_COL, _STAMP_TYPE)).with_metadata(meta)


def _replay_day(src: str, when: dt.datetime) -> Callable[[str], None]:
    """A writer that streams the parquet files of day dir ``src``, one
    record batch at a time, into one file stamped ``processed_date=when``."""
    files = sorted(
        os.path.join(src, f) for f in os.listdir(src)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(src, f))
    )
    if not files:
        raise FileNotFoundError(f"no data files in day partition {src}")
    with pq.ParquetFile(files[0]) as first:
        schema = _stamped_schema(first.schema_arrow)
        # Spark's default timestamp encoding: keep it, so Spark reads the
        # same types back.
        int96 = any(c.physical_type == "INT96" for c in first.schema)
    # The instant F.lit(when) gives a naive datetime: `when` read in the
    # driver's local zone (pyspark's TimestampType.toInternal).
    stamp = pa.scalar(int(time.mktime(when.timetuple())) * 1_000_000, _STAMP_TYPE)

    def write(path: str) -> None:
        with pq.ParquetWriter(
            path, schema, use_deprecated_int96_timestamps=int96
        ) as out:
            for f in files:
                with pq.ParquetFile(f) as pf:
                    for batch in pf.iter_batches():
                        out.write_batch(pa.RecordBatch.from_arrays(
                            [*batch.columns, pa.repeat(stamp, batch.num_rows)],
                            schema=schema,
                        ))

    return write


def replay_partitions(
    spark: SparkSession,
    source_root: str,
    target_root: str,
    delay_seconds: float = 0.0,
    limit: int | None = None,
) -> Iterator[tuple[dt.date, str]]:
    """Upload one day-partition per cycle (upload.py:100-106 pattern).

    Each day's files are rewritten as one parquet file, stamped with the
    day as ``processed_date`` (a ``timestamp``), under the same
    ``year=/month=/day=`` path below ``target_root``; a day dir that
    already exists is replaced. No Spark job runs (``spark`` is kept for
    callers).

    Yields after each day so callers (tests) can interleave stream triggers
    with arrivals. ``delay_seconds=1`` reproduces the reference's
    ``CYCLES_DELAY_TIME`` cadence (upload.py:8).
    """
    days = discover_day_partitions(source_root)
    if limit is not None:
        days = days[:limit]
    for day, src in days:
        dst = os.path.join(
            target_root, f"year={day.year}", f"month={day.month:02d}", f"day={day.day:02d}"
        )
        _replace_dir(_replay_day(src, dt.datetime(day.year, day.month, day.day)), dst)
        yield day, dst
        if delay_seconds:
            time.sleep(delay_seconds)


def publish_chunk(df: DataFrame, land: str) -> str:
    """Atomically publish one replay chunk into a live streaming landing dir.

    ``df.write.mode("append").parquet(land)`` into a directory a running
    file-source stream is polling is RACY: the micro-batch engine lists on
    its own thread and can observe a half-committed multi-file write,
    splitting one chunk across two micro-batches out of event-time order —
    which breaks operators whose contract is "batch boundaries respect
    event-time order" (order-dependent EWMA, sessionization, watermark
    late-drop). Here the chunk is collected as Arrow and written as ONE
    parquet file under a hidden ``_stage-*`` name, then renamed to
    ``chunk-*.parquet`` in ``land``, so any listing sees the whole chunk or
    none of it. Chunks are replay slices collected to the driver; at
    production scale the equivalent is a commit-protocol/manifest source
    (sources/snapshots.py). Returns the published file's path.
    """
    os.makedirs(land, exist_ok=True)
    table = _spark_table(df)
    return _stage_then_rename(
        lambda path: pq.write_table(table, path),
        os.path.join(land, f"chunk-{uuid.uuid4().hex[:12]}.parquet"),
    )


def replay_dataframe_by_key(
    df: DataFrame,
    key_values: Sequence,
    key_col: str,
    target_root: str,
) -> Iterator[str]:
    """Replay an in-memory DataFrame as arriving files, one slice per key
    value (e.g. one file per event date) — used to stream the ``events``
    fixture through the pipeline. Slice ``i`` replaces the directory
    ``batch=<i>`` with one parquet file."""
    from pyspark.sql import functions as F

    for i, kv in enumerate(key_values):
        table = _spark_table(df.filter(F.col(key_col) == kv))
        yield _replace_dir(
            lambda path: pq.write_table(table, path),
            os.path.join(target_root, f"batch={i:05d}"),
        )
