"""SparkSession factory (SURVEY.md §7.2 Phase 0).

Replaces the reference's hand-rolled session + Azure OAuth conf blocks
(``upload.py:30-57``, ``stream.ipynb:55-75``) with a single parameterized
factory. Azure ABFSS credentials become an optional, pluggable profile
(``azure_oauth_conf``) instead of hard-coded notebook cells; tests run on
local FS.

Scale defaults: AQE on (runtime coalesce + skew-join handling), Arrow on
(fast toPandas / pandas_udf), session timezone pinned to UTC so timestamp
group keys are deterministic across environments.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

from pyspark.sql import SparkSession


def _ensure_vendored_protobuf() -> None:
    """Make the vendored mini protobuf runtime importable (VERDICT r8
    #7): transformWithStateInPandas needs ``google.protobuf`` at stream
    start, the container ships none, and installs are not possible.
    sys.path covers the driver process; PYTHONPATH must ALSO be set
    before the JVM launches so the python workers and the driver-side
    transformWithState worker (separate processes spawned by the JVM)
    inherit it. No-op when a real protobuf is installed."""
    try:
        if importlib.util.find_spec("google.protobuf") is not None:
            return
    except ModuleNotFoundError:
        pass  # no 'google' namespace at all — vendor it below
    vendor = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor",
    )
    if not os.path.isdir(os.path.join(vendor, "google", "protobuf")):
        return
    if vendor not in sys.path:
        sys.path.insert(0, vendor)
    existing = os.environ.get("PYTHONPATH", "")
    if vendor not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            vendor + (os.pathsep + existing if existing else "")
        )
    # If a SparkContext ALREADY exists (e.g. the driver gate's bare
    # session, created before this ran), the JVM env is frozen — but
    # python workers take their env from ``sc.environment``, captured
    # per python-function at DEFINITION time, so patching it here still
    # reaches workers spawned for functions defined after this call.
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None and sc.environment is not None:
            cur = sc.environment.get("PYTHONPATH", "")
            if vendor not in cur.split(os.pathsep):
                sc.environment["PYTHONPATH"] = (
                    vendor + (os.pathsep + cur if cur else "")
                )
    except Exception:  # noqa: BLE001 - best effort; driver path already set
        pass


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "m13-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    On a real cluster, callers pass ``master=None`` and let spark-submit /
    the cluster manager decide; locally we default to ``local[N]`` with N
    from ``$SPARK_GRAFT_CPUS``.
    """
    _ensure_vendored_protobuf()
    cpus = _default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cpus, 8))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle width: the reference ran the Spark default 200 even on a toy
        # dataset (plan at stream.ipynb:105). We size it to the machine and let
        # AQE coalesce down / split skew at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter pushdown: when a fact-fact join has a
        # selective filter on one side, inject a bloom filter of its join
        # keys into the other side's SCAN — rows that can't match die at
        # the source instead of crossing the shuffle (explicit: the
        # default has flipped across Spark minors).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parity with the reference's timestamp parquet writes (upload.py:33).
        .config("spark.sql.parquet.int96RebaseModeInWrite", "LEGACY")
        # Write timestamps as INT64 micros, not legacy INT96: INT96 columns
        # carry NO min/max in parquet footers, which would blind the
        # zone-map data skipping (sources/snapshots.attach_zone_maps) and
        # every engine's row-group pruning on our own output.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Driver fixtures store events.ts as TIMESTAMP(NANOS); Spark reads it
        # as long-nanos and the catalog converts back (catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture timestamps are micros with isAdjustedToUTC=false, which
        # Spark ≥3.4 infers as TIMESTAMP_NTZ — a type watermarks reject
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session tz is pinned UTC,
        # so reading them as TIMESTAMP is value-identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Delay scheduling is pointless when every task slot shares one
        # process (local[N]): a task whose preferred location is the
        # driver (e.g. any stage over a createDataFrame LocalTableScan
        # after coalesce) otherwise WAITS the full 3 s locality timeout
        # before running — measured r10 as +3 s per 2-row sentinel
        # publish in every streaming replay gate. On a real cluster the
        # default stays (this factory only branches for local masters).
        .config(
            "spark.locality.wait", "0s" if master.startswith("local") else "3s"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def state_partitions(spark: SparkSession) -> int:
    """The width of a NEW stateful stream: one state store per shuffle
    partition, loaded and committed on every micro-batch.

    On a local master this is 1. One JVM shares the same cores and disk
    across every state store, so each extra partition is pure per-batch
    bookkeeping at the state sizes one machine holds (8 → 1 partitions
    cut the paper pipeline's trigger by ~40% and its summed state commit
    ~20×). On any other master it is the session's
    ``spark.sql.shuffle.partitions``, which ``cluster_scale_conf`` sizes
    to the input: keyed state at scale wants many partitions."""
    if spark.conf.get("spark.master", "").startswith("local"):
        return 1
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


@contextlib.contextmanager
def stateful_stream_width(spark: SparkSession):
    """Start the streams inside the block at ``state_partitions`` width,
    then restore the session's shuffle width.

    A stream copies the session conf when it STARTS and its checkpoint
    records that width at the first batch; a restart from an existing
    checkpoint keeps the recorded width. So the rule sizes new
    checkpoints only, and only the start needs to sit in the block —
    reads of the sink run at the session width."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def azure_oauth_conf(
    storage_account: str,
    client_id: str,
    client_secret: str,
    tenant_id: str,
) -> dict[str, str]:
    """ADLS Gen2 OAuth conf block (SURVEY.md §2.1 S6; upload.py:37-56).

    Returned as a dict for ``get_spark(extra_conf=...)`` so credentials are
    injected by the caller's secret manager, never hard-coded.
    """
    prefix = f"fs.azure.account"
    suffix = f"{storage_account}.dfs.core.windows.net"
    return {
        f"{prefix}.auth.type.{suffix}": "OAuth",
        f"{prefix}.oauth.provider.type.{suffix}": (
            "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider"
        ),
        f"{prefix}.oauth2.client.id.{suffix}": client_id,
        f"{prefix}.oauth2.client.secret.{suffix}": client_secret,
        f"{prefix}.oauth2.client.endpoint.{suffix}": (
            f"https://login.microsoftonline.com/{tenant_id}/oauth2/token"
        ),
    }


def cluster_scale_conf(
    target_input_tb: float = 100.0,
    executor_cores: int = 4,
    executor_mem_gb: int = 28,
) -> dict[str, str]:
    """Recommended conf for running this engine on a real multi-executor
    cluster against ~``target_input_tb`` of parquet — the settings that
    change between local[N] and 1000 executors, as one reviewable dict for
    ``get_spark(extra_conf=...)`` / spark-submit --conf.

    Sizing logic (documented so operators can re-derive, not cargo-cult):
    - shuffle partitions ≈ input_bytes / 128 MB, so a full-input shuffle
      lands ~one comfortable task per partition; AQE coalesces the many
      queries that shuffle far less, so err high. Capped at 64k (Spark's
      practical partition-count ceiling). Stateful streams on a cluster
      master keep this input-sized width too (``state_partitions``): it
      is only on a local master that they drop to one state store.
    - 2-4 GB executor memory per core; more cores per executor wastes
      heap on concurrent task overhead, fewer wastes JVM fixed cost.
    - maxPartitionBytes 256 MB: fewer, fatter scan tasks — scan task
      startup is the bottleneck at 100k+ input files, not per-task work.
    - broadcast threshold 64 MB: every dimension table in this schema
      broadcasts; only fact-fact joins shuffle.
    - RocksDB + changelog checkpointing for any streaming job whose keyed
      state exceeds a few GB per executor (see streaming/stateful.py).
    """
    input_bytes = target_input_tb * (1 << 40)
    shuffle_parts = min(int(input_bytes / (128 * (1 << 20))), 65536)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(256 * (1 << 20)),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * (1 << 20)),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.memory.fraction": "0.7",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * (1 << 20)),
        "spark.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
    }
