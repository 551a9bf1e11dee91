"""Round-9 gated queries.

Same contract as every other queries module: each entry has a Spark
implementation in R9_QUERIES and a DuckDB oracle in R9_ORACLES whose
stringified, column-sorted, order-insensitive hash must match
(tools/check_correctness.py replica of the driver gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m13_sparkstreaming_python_azure_spark.catalog import load_table


def q_streaming_transform_with_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """transformWithStateInPandas UNDER THE GATE (r9): the Spark 4
    stateful API — named state variables on a handle — accumulates
    per-user running event totals across a 2-chunk replay; the final
    per-user total must equal the one-shot batch count, which is the
    DuckDB oracle. Runs on the RocksDB state provider (the API uses
    multiple column families) and, in protobuf-less environments, on
    the vendored mini protobuf runtime (vendor/google/protobuf) — the
    session helper also patches ``sc.environment`` so the python
    workers of an ALREADY-RUNNING bare driver session can import it.

    This is the gated twin of the applyInPandasWithState gate
    (streaming_sessions): same correctness contract, successor API.
    """
    import os
    import tempfile
    import uuid

    from m13_sparkstreaming_python_azure_spark.session import (
        _ensure_vendored_protobuf,
        state_partitions,
    )
    from m13_sparkstreaming_python_azure_spark.sources.filestream import (
        parquet_file_stream,
    )
    from m13_sparkstreaming_python_azure_spark.sources.replay import (
        publish_chunk,
    )
    from m13_sparkstreaming_python_azure_spark.streaming.stateful import (
        rocksdb_state_conf,
        running_totals_transform_with_state,
    )

    _ensure_vendored_protobuf()
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    root = tempfile.mkdtemp(prefix="tws-gate-")
    land, ck = (os.path.join(root, d) for d in ("land", "ck"))
    mid = ev.agg(
        F.max("event_id").alias("m")
    ).collect()[0]["m"] // 2
    chunks = [
        ev.filter(F.col("event_id") <= mid),
        ev.filter(F.col("event_id") > mid),
    ]
    publish_chunk(chunks[0], land)
    stream = parquet_file_stream(spark, land, ev.schema)
    totals = running_totals_transform_with_state(stream, key_col="user_id")
    name = f"tws_{uuid.uuid4().hex[:8]}"
    confs = {
        **rocksdb_state_conf(),
        "spark.sql.shuffle.partitions": str(state_partitions(spark)),
    }
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            totals.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        for ch in chunks[1:]:
            publish_chunk(ch, land)
            q.processAllAvailable()
        q.stop()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # update-mode sink holds one row per (user, batch) emission; the
    # LAST total per user is the accumulated state
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events_total").alias("n_events_total"))
    )


R9_QUERIES = {
    "streaming_transform_with_state": q_streaming_transform_with_state,
}

R9_ORACLES = {
    "streaming_transform_with_state": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events_total
        FROM events GROUP BY user_id
    """,
}
