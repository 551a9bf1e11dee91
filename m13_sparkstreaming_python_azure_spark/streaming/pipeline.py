"""Streaming aggregation pipeline (SURVEY.md §2.9, §3.2).

Reproduces the reference's consumer — file stream → groupBy aggregate →
complete-mode memory sink queryable by name (``stream.ipynb:111-148``) —
as a reusable class, plus the scale-ready variant the reference lacks
(watermarked event-time windows, update mode, durable sink + checkpoint;
SURVEY.md §7.2 Phase 4).

Determinism: the reference's notebook raced SQL snapshots against a live
stream (SURVEY.md §3.3); ``run_available_now()`` quiesces (processes all
available input, then stops) so results are reproducible — the parity
invariant (streaming result == one-shot batch aggregate) becomes testable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from m13_sparkstreaming_python_azure_spark.session import stateful_stream_width
from m13_sparkstreaming_python_azure_spark.sources.filestream import parquet_file_stream


def await_query(query: StreamingQuery, timeout: float = 300) -> None:
    """Wait for a finite (``trigger(availableNow=True)``) query to finish,
    so that its sink is complete before anyone reads it.

    A query that died raises its ``StreamingQueryException`` from the
    wait. A query still running after ``timeout`` seconds is stopped and
    raises ``TimeoutError``, chained to the query's error if it had one:
    its sink would hold a partial result."""
    if not query.awaitTermination(timeout):
        name = query.name or query.id
        query.stop()
        raise TimeoutError(
            f"availableNow run of {name!r} did not finish within {timeout} s"
        ) from query.exception()


class StreamingAggPipeline:
    """File-arrival stream → aggregation → queryable sink.

    ``transform`` maps the raw streaming DataFrame to the aggregate —
    identical code runs on a batch DataFrame (streaming/batch parity is the
    core invariant of the reference workload, SURVEY.md §5.3).

    State width: the aggregate keeps one state store per shuffle
    partition, loaded and committed on every micro-batch, so the stream
    starts at ``session.state_partitions`` width — 1 on a local master,
    the session's ``spark.sql.shuffle.partitions`` on any other — and the
    session width is restored as soon as the query has started; reads of
    the sink run at the session width. A checkpoint records the width of
    its first start and every restart keeps it, so the rule applies to
    new checkpoints only: a ``checkpoint_location`` first written at 8
    partitions stays at 8.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        schema: StructType,
        transform: Callable[[DataFrame], DataFrame],
        query_name: str = "result_df_query",
        output_mode: str = "complete",
        max_files_per_trigger: int | None = None,
        checkpoint_location: str | None = None,
    ) -> None:
        self.spark = spark
        self.source_path = source_path
        self.schema = schema
        self.transform = transform
        self.query_name = query_name
        self.output_mode = output_mode
        self.max_files_per_trigger = max_files_per_trigger
        self.checkpoint_location = checkpoint_location
        self.query: StreamingQuery | None = None

    def streaming_aggregate(self) -> DataFrame:
        stream = parquet_file_stream(
            self.spark,
            self.source_path,
            self.schema,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        return self.transform(stream)

    def _writer(self, agg: DataFrame):
        writer = (
            agg.writeStream.outputMode(self.output_mode)
            .format("memory")
            .queryName(self.query_name)
        )
        if self.checkpoint_location:
            writer = writer.option("checkpointLocation", self.checkpoint_location)
        return writer

    def start(self) -> StreamingQuery:
        """Continuous micro-batch mode — the reference's deployment shape
        (default trigger; memory sink registered as a SQL temp table)."""
        with stateful_stream_width(self.spark):
            self.query = self._writer(self.streaming_aggregate()).start()
        return self.query

    def run_available_now(self, timeout: int = 300) -> DataFrame:
        """Process everything currently in the source dir, then stop
        (deterministic quiesce for tests/goldens). Returns the sink table.

        Waits through ``await_query``: a run that has not finished within
        ``timeout`` seconds is stopped and raises ``TimeoutError``, and a
        query that died raises its ``StreamingQueryException``."""
        with stateful_stream_width(self.spark):
            self.query = (
                self._writer(self.streaming_aggregate())
                .trigger(availableNow=True)
                .start()
            )
        await_query(self.query, timeout)
        return self.table()

    def table(self) -> DataFrame:
        """The live sink as a DataFrame (stream-as-table SQL, §2.9 T6)."""
        return self.spark.table(self.query_name)

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()


def windowed_event_aggregate(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "1 hour",
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Scale-ready replacement for the reference's unbounded complete-mode
    aggregate (§2.9 T2/T3): event-time tumbling window + watermark so state
    is bounded and late data beyond the delay is dropped. Use with
    ``outputMode('update')`` (or 'append' after watermark expiry) and a
    durable sink — at 100 TB, complete-mode re-emission is not viable."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("time_window"), key_col)
        .agg(
            F.approx_count_distinct("user_id").alias("distinct_users"),
            F.avg(value_col).alias("avg_value"),
            F.max(value_col).alias("max_value"),
            F.min(value_col).alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def write_foreach_batch_parquet(
    agg: DataFrame, target_path: str, checkpoint_location: str
):
    """Durable sink variant (§2.9 T5 GAP): ``foreachBatch`` writing each
    micro-batch to parquet with a checkpoint — exactly-once via the
    checkpoint's batch-id dedup; replaces the debug-grade memory sink in
    production."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(target_path)

    return (
        agg.writeStream.outputMode("complete")
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint_location)
    )


def write_foreach_batch_merge(
    stream: DataFrame,
    target_path: str,
    checkpoint_location: str,
    keys: list[str],
    n_buckets: int = 16,
    sink_factory=None,
):
    """Streaming CDC apply: each micro-batch MERGEs into a keyed,
    bucket-partitioned versioned table (update matched keys, insert new
    ones) — the upsert sink Spark reserves for Delta/Iceberg, built on the
    manifest snapshot layer (``sources.snapshots.keyed_batch_sink``).

    Per batch, only the key-hash buckets the batch touches are rewritten
    (copy-on-write of O(batch ÷ table) files, not the whole target), and
    the commit is an atomic manifest pointer swap — a crash mid-batch
    leaves the previous version live; replays are no-ops via the
    batch_id high-water mark. Read the target with
    ``sources.snapshots.read_snapshot``.

    ``sink_factory(target, keys, mode=..., n_buckets=...)`` is the table-
    format seam: the default is the manifest layer; on Delta/Iceberg pass
    a factory emitting a ``MERGE INTO`` foreachBatch instead (see README
    "Snapshots vs Delta/Iceberg")."""
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        keyed_batch_sink,
    )

    factory = sink_factory or keyed_batch_sink
    sink = factory(target_path, keys, mode="merge", n_buckets=n_buckets)
    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_location)
    )


def write_foreach_batch_latest(
    stream: DataFrame,
    target_path: str,
    checkpoint_location: str,
    keys: list[str],
    order_cols: list[str],
    n_buckets: int = 16,
    sink_factory=None,
):
    """Latest-state materialization: each micro-batch folds into a keyed,
    bucket-partitioned versioned table keeping, per key, the row with the
    greatest ``order_cols`` tuple. Unlike arrival-order upserts this is
    ORDER-INDEPENDENT — batches can replay or arrive shuffled and the
    fixed point is the same (max is commutative/associative/idempotent),
    which is what makes the final state equal to the batch argmax and
    replays after checkpoint recovery safe.

    Per batch: reduce the batch to its per-key argmax first (tiny), then
    merge into only the touched key-hash buckets via
    ``sources.snapshots.keyed_batch_sink`` (atomic manifest commit,
    partition-incremental rewrite). Read the target with
    ``sources.snapshots.read_snapshot``. ``sink_factory`` is the
    table-format seam, as in ``write_foreach_batch_merge``."""
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        keyed_batch_sink,
    )

    factory = sink_factory or keyed_batch_sink
    sink = factory(
        target_path,
        keys,
        mode="latest",
        order_cols=order_cols,
        n_buckets=n_buckets,
    )
    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_location)
    )


def write_foreach_batch_histogram(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_location: str,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    n_bins: int,
):
    """Streaming sketch store: each micro-batch reduces to its own tiny
    long-form histogram (operators/histogram.build_histogram) written to
    ``sink_dir/batch=<id>``; readers merge on read. The streaming face of
    the sketch-once / query-many percentile pattern.

    Exactly-once without transactions: per-batch dirs are the unit of
    idempotence — a replayed batch OVERWRITES its own ``batch=<id>`` dir
    (same input → same sketch), so restarts can't double-count, and the
    merge-on-read never sees partial state because parquet commits are
    atomic per dir. Append-only + additive merge is what makes histograms
    (and any mergeable sketch) trivially streamable where exact
    percentiles are not streamable at all.
    """
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_histogram(
            batch_df, batch_id, sink_dir, value_col, keys, lo, hi, n_bins
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint_location)
    )


def write_batch_histogram(
    batch_df: DataFrame,
    batch_id: int,
    sink_dir: str,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    n_bins: int,
) -> None:
    """One micro-batch → its own sketch dir (the idempotence unit: same
    batch_id overwrites, so replays can't double-count)."""
    import os

    from m13_sparkstreaming_python_azure_spark.operators.histogram import (
        build_histogram,
    )

    hist = build_histogram(batch_df, value_col, keys, lo, hi, n_bins)
    # sketches are O(groups × bins) — coalesce(1) keeps the store at
    # one small file per batch instead of shuffle-width shards
    hist.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sink_dir, f"batch={batch_id}")
    )


def read_merged_histogram(
    spark: SparkSession, sink_dir: str, keys: list[str]
) -> DataFrame:
    """Fold all per-batch sketches into the current histogram state —
    merge = groupBy-sum over tiny inputs, so this is cheap enough to run
    per dashboard query (or periodically compacted back into one dir)."""
    from m13_sparkstreaming_python_azure_spark.operators.histogram import (
        merge_histograms,
    )

    return merge_histograms(
        spark.read.parquet(sink_dir).drop("batch"), keys
    )


def write_foreach_batch_counts(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_location: str,
    group_cols: list[str],
):
    """Streaming additive-count store (the counts twin of the histogram
    sketch sink above): each micro-batch reduces to its own tiny
    ``(group, n)`` partial-count table in ``sink_dir/batch=<id>``;
    readers merge on read with a groupBy-sum. Same exactly-once story —
    the per-batch dir is the idempotence unit (a replayed batch
    overwrites its own dir), and counts are additive, which is all a
    mergeable aggregate needs. This is how streaming word-count /
    top-k / frequency state scales: the shuffle per batch is O(distinct
    groups IN THE BATCH), never O(history)."""
    import os

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        counts = batch_df.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n")
        )
        counts.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch={batch_id}")
        )

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(_write)
        .option("checkpointLocation", checkpoint_location)
    )


def read_merged_counts(
    spark: SparkSession, sink_dir: str, group_cols: list[str]
) -> DataFrame:
    """Fold all per-batch partial counts into current totals."""
    return (
        spark.read.parquet(sink_dir)
        .groupBy(*group_cols)
        .agg(F.sum("n").alias("n"))
    )


def expectations_batch_router(
    constraints: dict[str, str], main_dir: str, quarantine_dir: str
):
    """Row-level streaming expectations (Delta Live Tables
    ``expect_or_drop`` + quarantine parity): a foreachBatch callable that
    evaluates every constraint per ROW in one projection, appends passing
    rows to the main snapshot table and routes failing rows — tagged with
    the comma-joined sorted names of the constraints they failed — to a
    quarantine table. Unlike the table-level CHECK enforcement
    (sources/snapshots.add_check_constraint, which rejects the whole
    write), expectations degrade gracefully: good data keeps flowing and
    the quarantine preserves the evidence.

    NULL-evaluating constraints fail the row (same IS NOT TRUE rule as
    CHECK). Both sinks commit through the snapshot layer — versioned and
    atomic per batch. One projection per batch; no shuffle beyond the
    writes; localCheckpoint pins the batch so the two sinks don't
    recompute it."""
    from m13_sparkstreaming_python_azure_spark.sources.snapshots import (
        append_snapshot,
        latest_version,
        write_snapshot,
    )

    names = sorted(constraints)
    failed_tag = F.concat_ws(
        ",",
        F.array_compact(
            F.array(
                *[
                    F.when(
                        F.expr(constraints[n]).eqNullSafe(F.lit(True)),
                        F.lit(None).cast("string"),
                    ).otherwise(F.lit(n))
                    for n in names
                ]
            )
        ),
    ).alias("failed")

    def _sink(df, table_dir):
        if latest_version(table_dir) is None:
            write_snapshot(df, table_dir)
        else:
            append_snapshot(df, table_dir)

    def _route(batch_df, batch_id):
        tagged = batch_df.select("*", failed_tag).localCheckpoint(
            eager=True
        )
        _sink(
            tagged.filter(F.col("failed") == "").drop("failed"), main_dir
        )
        bad = tagged.filter(F.col("failed") != "")
        if bad.limit(1).count():
            _sink(bad, quarantine_dir)

    return _route
