"""The benchmark's workloads, driven through the engine's public entry points.

Op lists are frozen here, so registry growth or reordering cannot change a
workload. Every op result is materialized in full on the driver with
``toPandas()``; correctness is checked after the timed region.
"""

from __future__ import annotations

import os
import random
import threading
import time

from perfbench import datagen
from perfbench.stats import covering_batches
from perfbench.tracing import catalyst_phases

SHORT_QUERIES = (
    "pricing_summary", "daily_event_stats", "semi_join_building",
    "anti_join_no_recent_orders", "topk_orders", "distinct_segments",
    "rollup_orders", "in_list_filter", "window_lag_lead", "cube_orders",
    "tumbling_event_windows", "value_percentiles", "order_priority_count",
    "pivot_status_priority", "subquery_big_spenders", "event_funnel",
)
GATE_CYCLE = ("streaming_dedup", "streaming_ewma", "snapshot_commit_group")
# untimed passes before timing: the JIT is still compiling long after the
# first pass, and a gate pass is long enough that one warm-up pass does
WARMUP_PASSES = {SHORT_QUERIES: 2, GATE_CYCLE: 1}

STAR_SF = 0.01
MIN_PASSES = 2

# reference_stream: one day lands every CYCLE_S seconds (the reference's
# CYCLES_DELAY_TIME) and the main thread reads the top 10 once per arrival,
# three quarters of a cycle after the day is due, when the batch that takes
# the day has usually ended. The first WARMUP_DAYS cycles are untimed.
CYCLE_S = 1.0
WARMUP_DAYS = 10
SINK = "perfbench_hotel_weather"


def _sleep_until(t: float) -> None:
    delay = t - time.time()
    if delay > 0:
        time.sleep(delay)


class Clock:
    """Wall-clock marks of where set-up ends and how much of it was the
    benchmark's own input generation, which set-up time leaves out (its
    correctness checks all run after the timed region)."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.excluded = 0.0
        self.first_timed: float | None = None

    def exclude_since(self, t: float) -> None:
        self.excluded += time.time() - t

    def start_timed(self, at: float | None = None) -> None:
        if self.first_timed is None:
            self.first_timed = time.time() if at is None else at

    @property
    def setup_s(self) -> float:
        return self.first_timed - self.t0 - self.excluded


def run_op(ctx, name: str, fn, sf_dir: str) -> tuple[float, object]:
    """One closed-loop op: build the DataFrame through the registry callable
    and materialize it. Returns ``(latency_s, pandas_result)``."""
    spark, tracer = ctx.spark, ctx.tracer
    spark.sparkContext.setJobGroup(name, name)
    tracer.op = name
    t = time.perf_counter()
    with tracer.span("op"):
        with tracer.span("queries.build"):
            df = fn(spark, sf_dir)
        with tracer.span("toPandas"):
            pdf = df.toPandas()
    lat = time.perf_counter() - t
    if tracer.enabled:
        ctx.phases.append((time.time(), catalyst_phases(df)))
    tracer.op = None
    return lat, pdf


def run_closed_loop(ctx, ops: tuple[str, ...], seconds: float) -> dict:
    """Warm-up passes, then timed passes until ``seconds`` have passed (at
    least ``MIN_PASSES``). The input is the engine's sf 0.01 test fixture
    set, regenerated in the run's work dir; the seed permutes op order in
    every pass."""
    import __spark_entry__ as entry

    t = time.time()
    sf_dir = os.path.join(ctx.work, "star")
    datagen.write_star_schema(sf_dir, sf=STAR_SF)  # the fixtures' own tables
    ctx.clock.exclude_since(t)

    registry = entry.queries()
    fns = {n: registry[n] for n in ops}
    rng = random.Random(ctx.seed)
    failures: list[str] = []

    def one_pass() -> dict:
        order = list(ops)
        rng.shuffle(order)
        lat, results = {}, {}
        for name in order:
            try:
                lat[name], results[name] = run_op(ctx, name, fns[name], sf_dir)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
                results[name] = None
        return {"latency": lat, "results": results}

    for _ in range(WARMUP_PASSES[ops]):
        one_pass()
    ctx.on_timed_start()
    ctx.clock.start_timed()
    passes, t_start = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        ctx.pass_marks.append(time.time())
        passes.append(one_pass())
        ctx.on_pass_end()
    ctx.pass_marks.append(time.time())
    ctx.timed_s = time.perf_counter() - t_start
    ctx.on_timed_end()

    checked = check_ops(sf_dir, passes, failures)
    return {"passes": passes, "failures": failures, **checked}


def check_ops(sf_dir: str, passes: list[dict], failures: list[str]) -> dict:
    """Compare every timed op result with the op's DuckDB oracle: row count,
    column names and order-insensitive values, normalized as the repo's
    correctness gate normalizes them."""
    import duckdb

    from m13_sparkstreaming_python_azure_spark.catalog import TABLES
    from m13_sparkstreaming_python_azure_spark.queries import ORACLES
    from tools.check_correctness import _normalize

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    expected = {}
    attempted = failed = 0
    for p in passes:
        for name, pdf in p["results"].items():
            attempted += 1
            if pdf is None:
                failed += 1
                continue
            if name not in expected:
                odf = con.execute(ORACLES[name]).fetchdf()
                expected[name] = (sorted(odf.columns), len(odf), _normalize(odf))
            cols, n, rows = expected[name]
            if sorted(pdf.columns) != cols or len(pdf) != n or _normalize(pdf) != rows:
                failed += 1
                failures.append(f"{name}: result differs from its oracle")
        p["results"] = None
    con.close()
    return {"attempted": attempted, "failed": failed}


def run_reference_stream(ctx, seconds: float) -> dict:
    """The paper's pipeline as an open loop: day-partitions land on a fixed
    schedule while the stream aggregates them and the main thread queries
    the top 10 over the live sink."""
    from m13_sparkstreaming_python_azure_spark.operators.aggregate import (
        weather_daily_aggregate,
    )
    from m13_sparkstreaming_python_azure_spark.operators.window import (
        best_day_per_city_top10,
    )
    from m13_sparkstreaming_python_azure_spark.sources import replay
    from m13_sparkstreaming_python_azure_spark.streaming.pipeline import (
        StreamingAggPipeline,
    )

    spark = ctx.spark
    n_timed = max(2, int(round(seconds / CYCLE_S)))
    n_days = WARMUP_DAYS + n_timed
    src, staging, landing = (os.path.join(ctx.work, d)
                             for d in ("hw_source", "hw_staging", "hw_landing"))
    t = time.time()
    days = datagen.write_hotel_weather(src, ctx.seed, n_days)
    ctx.clock.exclude_since(t)

    staged = [dst for _day, dst in replay.replay_partitions(spark, src, staging)]
    assert len(staged) == n_days, f"replayed {len(staged)} of {n_days} days"
    schema = spark.read.parquet(staging).schema
    os.makedirs(landing)
    pipe = StreamingAggPipeline(
        spark, landing, schema, weather_daily_aggregate, query_name=SINK
    )
    pipe.start()

    arrived = [None] * n_days
    late = [None] * n_days
    t0 = time.time() + CYCLE_S
    due = [t0 + i * CYCLE_S for i in range(n_days)]

    def generator() -> None:
        for i, dst in enumerate(staged):
            _sleep_until(due[i])
            target = os.path.join(landing, os.path.relpath(dst, staging))
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(dst, target)
            arrived[i] = time.time()
            late[i] = arrived[i] - due[i]

    gen = threading.Thread(target=generator, name="day-generator", daemon=True)
    gen.start()

    def read(spark, _sf_dir):
        return best_day_per_city_top10(pipe.table())

    reads: list[tuple[int, float]] = []  # (day, latency)
    failures: list[str] = []
    for i in range(n_days):
        if i == WARMUP_DAYS:
            _sleep_until(due[i])
            ctx.clock.start_timed(due[i])
            ctx.on_timed_start()
        _sleep_until(due[i] + 0.75 * CYCLE_S)
        if i < WARMUP_DAYS:
            run_op(ctx, "top10_read", read, None)
            continue
        try:
            lat, pdf = run_op(ctx, "top10_read", read, None)
        except Exception as e:  # noqa: BLE001 - a failed read is counted
            failures.append(f"read after day {i}: {type(e).__name__}: {e}"[:300])
            continue
        hot = list(pdf["distinct_hotels"])
        if 0 < len(pdf) <= 10 and hot == sorted(hot, reverse=True):
            reads.append((i, lat))
        else:
            failures.append(f"read after day {i}: malformed top 10")
    gen.join()
    pipe.query.processAllAvailable()
    total_rows = sum(r for _d, r in days)
    deadline = time.time() + 30
    batches = ctx.progress_batches(pipe.query.id)
    while sum(b[0] for b in batches) < total_rows and time.time() < deadline:
        time.sleep(0.05)
        batches = ctx.progress_batches(pipe.query.id)
    ctx.pass_marks[:] = [due[WARMUP_DAYS], time.time()]
    ctx.timed_s = ctx.pass_marks[1] - ctx.pass_marks[0]
    ctx.on_pass_end()
    ctx.on_timed_end()

    ends = covering_batches([r for _d, r in days], batches)
    fresh = []
    for i in range(WARMUP_DAYS, n_days):
        if ends[i] is None:
            failures.append(f"day {days[i][0]} never covered by a batch")
        else:
            fresh.append((i, ends[i] - due[i]))

    sink_ok, top_ok = check_stream(spark, pipe, landing, failures,
                                   weather_daily_aggregate, best_day_per_city_top10)
    pipe.stop()

    attempted = 2 * n_timed
    failed = (n_timed - len(fresh)) + (n_timed - len(reads))
    if not sink_ok:
        failed += len(fresh)
    if not top_ok:
        failed += len(reads)
    return {
        "fresh": fresh, "reads": reads, "late": late[WARMUP_DAYS:],
        "arrived": arrived[WARMUP_DAYS:], "ends": ends[WARMUP_DAYS:],
        "failures": failures, "attempted": attempted, "failed": min(failed, attempted),
    }


def check_stream(spark, pipe, landing, failures, aggregate, top10) -> tuple[bool, bool]:
    """The final sink must equal the one-shot batch aggregate over the same
    files, and its top 10 the batch top 10. Averages are compared to 1e-9:
    the stream sums each group across batches in another order than the
    batch does."""
    from tools.check_correctness import _normalize

    def rows(df):
        pdf = df.toPandas()
        if "avg_temperature" in pdf:
            pdf["avg_temperature"] = pdf["avg_temperature"].round(9)
        return _normalize(pdf)

    batch = aggregate(spark.read.parquet(landing))
    sink_ok = rows(pipe.table()) == rows(batch)
    top_ok = rows(top10(pipe.table())) == rows(top10(batch))
    if not sink_ok:
        failures.append("final sink differs from the batch aggregate")
    if not top_ok:
        failures.append("final top 10 differs from the batch top 10")
    return sink_ok, top_ok
