"""The replay harness's one write path (sources/replay.py): every writer
produces one Arrow-written parquet file, staged under a hidden name and
renamed into place, that Spark reads back with the types and rows it
would have written itself; plus the shared wait for finite streams."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, TimestampType

from m13_sparkstreaming_python_azure_spark.sources.replay import (
    discover_day_partitions,
    publish_chunk,
    replay_partitions,
)
from m13_sparkstreaming_python_azure_spark.streaming.pipeline import await_query


def _data_files(d):
    return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))


def _hidden_files(root):
    return [f for _d, _s, fs in os.walk(root) for f in fs if f.startswith("_stage-")]


def _spark_hive_source(spark, root):
    """Three day-partitions written by Spark, several files per day, with
    a TimestampType column."""
    rows = [
        (i, dt.datetime(2020, 1, 1 + i % 3, i % 24, i % 60), f"v{i}" if i % 4 else None,
         2020, 1, 1 + i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "id int, ts timestamp, s string, year int, month int, day int"
    )
    df.repartition(3).write.partitionBy("year", "month", "day").parquet(root)


def _arrow_hotel_source(root):
    """Two hotel-weather day-partitions written by pyarrow, two files each."""
    for day in (dt.date(2016, 10, 1), dt.date(2016, 10, 2)):
        ddir = os.path.join(root, f"year={day.year}", f"month={day.month:02d}",
                            f"day={day.day:02d}")
        os.makedirs(ddir)
        for f in range(2):
            pq.write_table(
                pa.table({
                    "id": [f"{day.day}{f}{i}" for i in range(5)],
                    "city": ["Paris", "Rome", None, "Oslo", "Paris"],
                    "avg_tmpr_c": [10.5, 12.0, None, -1.5, 9.0],
                    "wthr_date": [day.isoformat()] * 5,
                }),
                os.path.join(ddir, f"part-{f:05d}.snappy.parquet"),
            )


@pytest.mark.parametrize("source", ["spark_hive", "arrow_hotel_weather"])
def test_replay_writes_one_stamped_file_per_day(spark, tmp_path, source):
    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    if source == "spark_hive":
        _spark_hive_source(spark, src)
    else:
        _arrow_hotel_source(src)
    days = discover_day_partitions(src)

    replayed = list(replay_partitions(spark, src, target))

    assert [d for d, _ in replayed] == [d for d, _ in days]
    assert _hidden_files(target) == []
    for (day, src_day), (_, dst) in zip(days, replayed):
        assert len(_data_files(dst)) == 1
        before = spark.read.parquet(src_day)
        after = spark.read.parquet(dst)
        assert after.schema.fields == before.schema.fields + [
            StructField("processed_date", TimestampType(), True)
        ]
        body = after.drop("processed_date")
        assert body.count() == before.count()
        assert body.exceptAll(before).count() == 0
        assert before.exceptAll(body).count() == 0
        stamps = {r[0] for r in after.select("processed_date").distinct().collect()}
        assert stamps == {dt.datetime(day.year, day.month, day.day)}


def test_replay_twice_overwrites_each_day(spark, tmp_path):
    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    _arrow_hotel_source(src)
    first = list(replay_partitions(spark, src, target))
    second = list(replay_partitions(spark, src, target))
    assert first == second
    for _day, dst in second:
        assert len(_data_files(dst)) == 1
    assert spark.read.parquet(target).count() == 20


def test_publish_chunk_round_trip(spark, tmp_path):
    chunk = spark.createDataFrame(
        [
            (1, Decimal("1234567890123.123456"), dt.datetime(2021, 3, 14, 2, 30),
             dt.datetime(2021, 3, 14, 2, 30), dt.date(2021, 3, 14), ["a", None]),
            (2, None, None, None, None, None),
            (3, Decimal("-0.000001"), dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
             dt.datetime(1970, 1, 1), dt.date(1970, 1, 1), []),
        ],
        "id int, amount decimal(19,6), ts timestamp, ntz timestamp_ntz, "
        "d date, tags array<string>",
    )
    land = str(tmp_path / "land")
    for i, df in enumerate((chunk, chunk.limit(0)), start=1):
        path = publish_chunk(df, land)
        assert os.path.dirname(path) == land
        assert os.path.basename(path).startswith("chunk-")
        assert path.endswith(".parquet")
        assert len(_data_files(land)) == i
        assert _hidden_files(str(tmp_path)) == []
        back = spark.read.schema(df.schema).parquet(path)
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0
        # the footer's Spark schema keeps the inferred types, ntz included
        assert spark.read.parquet(path).schema == df.schema
    assert spark.read.parquet(land).count() == 3


def test_await_query_timeout_stops_and_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    ev = spark.range(100).withColumn("k", F.col("id") % 3)
    ev.write.parquet(src)
    q = (
        spark.readStream.schema(ev.schema).parquet(src)
        .groupBy("k").count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("await_timeout_sink")
        .trigger(availableNow=True)
        .start()
    )
    # no micro-batch finishes within 1 ms
    with pytest.raises(TimeoutError, match="await_timeout_sink"):
        await_query(q, timeout=0.001)
    assert not q.isActive
    assert all(s.name != "await_timeout_sink" for s in spark.streams.active)
