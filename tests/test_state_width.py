"""The engine's state-width rule (session.state_partitions): a stateful
stream started on a local master runs one state store per operator, a
checkpoint keeps the width it was first started at, and the wrappers that
apply the rule restore the session conf — also when the stream or the
gate fails."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from m13_sparkstreaming_python_azure_spark.catalog import load_table
from m13_sparkstreaming_python_azure_spark.session import state_partitions
from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
    StreamingAggPipeline,
)
from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
    read_state_metadata,
)

SHUFFLE = "spark.sql.shuffle.partitions"
NODATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _by_type(df):
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("event_id").alias("max_id"),
    )


def _land_events(spark, sf_dir, src, n_files):
    """Write ``n_files`` disjoint parquet files of events under ``src``;
    returns the events and a callable landing file i."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )

    def land(i):
        ev.filter(F.col("event_id") % n_files == i).write.parquet(
            os.path.join(src, f"part={i}")
        )

    return ev, land


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_local_master_sizes_state_to_one_partition(spark):
    assert spark.conf.get("spark.master").startswith("local")
    assert state_partitions(spark) == 1


def test_pipeline_checkpoint_starts_at_one_state_partition(
    spark, sf_dir, tmp_path
):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev, land = _land_events(spark, sf_dir, src, 2)
    for i in range(2):
        land(i)
    width = spark.conf.get(SHUFFLE)
    pipe = StreamingAggPipeline(
        spark, src, ev.schema, _by_type, query_name="width_one_sink",
        checkpoint_location=ckpt,
    )
    sink = pipe.run_available_now()
    assert spark.conf.get(SHUFFLE) == width  # restored after the start
    md = read_state_metadata(spark, ckpt).collect()
    assert [r["numPartitions"] for r in md] == [1]
    assert _rows(sink) == _rows(_by_type(ev))


def test_checkpoint_first_started_at_8_keeps_8(spark, sf_dir, tmp_path):
    """A checkpoint written before the rule (at width 8) restarts at 8:
    the width is recorded at the first start, never re-sized."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev, land = _land_events(spark, sf_dir, src, 2)
    land(0)
    width = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "8")
    try:
        q = (
            _by_type(spark.readStream.schema(ev.schema).parquet(src))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("width_eight_first")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(SHUFFLE, width)
    assert q.awaitTermination(120)
    land(1)
    pipe = StreamingAggPipeline(
        spark, src, ev.schema, _by_type, query_name="width_eight_restart",
        checkpoint_location=ckpt,
    )
    sink = pipe.run_available_now()
    md = read_state_metadata(spark, ckpt).collect()
    assert [r["numPartitions"] for r in md] == [8]
    assert _rows(sink) == _rows(_by_type(ev))


def test_wrapped_gate_that_raises_restores_session_conf(spark):
    from m13_sparkstreaming_python_azure_spark.queries.registry import (
        _narrow_shuffle,
    )

    seen = {}

    def failing_gate(spark, sf_dir):
        seen.update(parts=spark.conf.get(SHUFFLE), nodata=spark.conf.get(NODATA))
        raise RuntimeError("gate failed mid-stream")

    width, orig = spark.conf.get(SHUFFLE), spark.conf.get(NODATA, None)
    for before in (None, "true"):
        if before is None:
            spark.conf.unset(NODATA)
        else:
            spark.conf.set(NODATA, before)
        with pytest.raises(RuntimeError, match="gate failed"):
            _narrow_shuffle(failing_gate)(spark, "unused")
        assert seen == {"parts": "1", "nodata": "false"}
        assert spark.conf.get(SHUFFLE) == width
        assert spark.conf.get(NODATA, None) == before
    if orig is None:
        spark.conf.unset(NODATA)
    else:
        spark.conf.set(NODATA, orig)


def test_run_available_now_timeout_stops_and_raises(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ev, land = _land_events(spark, sf_dir, src, 1)
    land(0)
    pipe = StreamingAggPipeline(
        spark, src, ev.schema, _by_type, query_name="timeout_sink"
    )
    # no micro-batch finishes within 1 ms
    with pytest.raises(TimeoutError, match="timeout_sink"):
        pipe.run_available_now(timeout=0.001)
    assert not pipe.query.isActive
    assert all(q.name != "timeout_sink" for q in spark.streams.active)


def test_run_available_now_surfaces_a_dead_query(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    ev, land = _land_events(spark, sf_dir, src, 1)
    land(0)

    def failing(stream):
        return _by_type(
            stream.filter(F.assert_true(F.lit(False), "bad row").isNull())
        )

    pipe = StreamingAggPipeline(
        spark, src, ev.schema, failing, query_name="dead_sink"
    )
    with pytest.raises(StreamingQueryException, match="bad row"):
        pipe.run_available_now(timeout=120)
    assert not pipe.query.isActive
