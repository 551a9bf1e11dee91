"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload in one process from the root of a checkout and prints,
as its last stdout line, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans, an event log and stream progress and the metrics
are the per-layer ones. The line before it (``perfbench-detail {...}``)
holds the run's seed, CPU count, Spark version, per-op latencies and the
workload-specific figures. See README.md in this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [ROOT] + [p for p in sys.path[1:] if p != ROOT]

import pyspark  # noqa: E402

from perfbench import layers, tracing, workloads  # noqa: E402
from perfbench.stats import geomean, per_op_geomean, tail_or_slowest  # noqa: E402

WORKLOADS = ("short_queries", "gate_cycle", "reference_stream")
DEADLINE_S = 170.0


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _jvm_opts(tmp: str) -> str:
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's work dir is still there


def _private_dirs(workload: str, seed: int) -> str:
    """A private work dir inside the checkout; TMPDIR and SPARK_LOCAL_DIRS
    point into it, so whatever a run leaves behind goes when it is removed."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first reads this; the driver
    # JVM gets the same options through spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(tmp)
    tempfile.tempdir = None
    return work


class Context:
    """What a workload needs from the run: the session, the tracer, the
    clock, and the hooks that mark the timed region."""

    def __init__(self, spark, tracer, clock, work, seed, listener) -> None:
        self.spark, self.tracer, self.clock = spark, tracer, clock
        self.work, self.seed, self.listener = work, seed, listener
        self.tmp_root = os.environ["TMPDIR"]
        self.phases: list = []  # (time, Catalyst phase durations) per traced op
        self.pass_marks: list[float] = []
        self.lifecycle: list[dict] = []
        self.timed_s = 0.0
        self.retained_heap_mb = None
        self.gc_ms = self.heap_peak = None

    def on_timed_start(self) -> None:
        if self.tracer.enabled:
            self.lifecycle.append(tracing.lifecycle_counts(self.spark, self.tmp_root))
            self.gc_ms = tracing.jvm_gc_ms(self.spark)
            tracing.reset_heap_peaks(self.spark)

    def on_pass_end(self) -> None:
        if self.tracer.enabled:
            self.lifecycle.append(tracing.lifecycle_counts(self.spark, self.tmp_root))

    def on_timed_end(self) -> None:
        if self.tracer.enabled:
            self.heap_peak = tracing.heap_peak_mb(self.spark)
            self.gc_ms = tracing.jvm_gc_ms(self.spark) - self.gc_ms
        self.retained_heap_mb = tracing.heap_mb(self.spark)

    def progress_batches(self, query_id) -> list[tuple[int, float]]:
        evs = [p for p in self.listener.snapshot() if p["id"] == str(query_id)]
        evs.sort(key=lambda p: (p["batchId"], p["timestamp"]))
        return [(p["numInputRows"], tracing.progress_end(p)) for p in evs]


def end_to_end(workload: str, res: dict, ctx) -> tuple[dict, dict]:
    """End-to-end metrics and the run's detail record."""
    detail: dict = {}
    if workload == "reference_stream":
        # a pass is one cycle: a day's arrival and the read that follows it
        fresh = dict(res["fresh"])
        pass_sums = [lat + fresh[i] for i, lat in res["reads"] if i in fresh]
        f_vals, r_vals = list(fresh.values()), [lat for _i, lat in res["reads"]]
        pooled = f_vals  # the tail users wait on is freshness
        detail.update(
            freshness_p50_ms=statistics.median(f_vals) * 1e3,
            freshness_n=len(f_vals), read_p50_ms=statistics.median(r_vals) * 1e3,
            read_n=len(r_vals),
            generator_late_ms_max=max(res["late"]) * 1e3,
        )
        geo = geomean([statistics.median(f_vals), statistics.median(r_vals)])
        ops = {"arrival": f_vals, "top10_read": r_vals}
    else:
        passes = res["passes"]
        ops: dict[str, list[float]] = {}
        for p in passes:
            for name, lat in p["latency"].items():
                ops.setdefault(name, []).append(lat)
        pass_sums = [sum(p["latency"].values()) for p in passes
                     if len(p["latency"]) == len(ops)]
        pooled = [x for v in ops.values() for x in v]
        geo = per_op_geomean(ops)
    t_val, t_pct, t_n, t_rule = tail_or_slowest(pooled, ops)
    detail.update(
        passes=len(pass_sums), tail_pct=t_pct, tail_n=t_n, tail_rule=t_rule,
        op_latency_ms={k: [round(x * 1e3, 3) for x in v] for k, v in ops.items()},
    )
    metrics = {
        "setup_s": (ctx.clock.setup_s, "s"),
        "pass_s": (statistics.median(pass_sums), "s"),
        "latency_geomean_ms": (geo * 1e3, "ms"),
        "latency_tail_ms": (t_val * 1e3, "ms"),
        "retained_heap_mb": (ctx.retained_heap_mb, "MB"),
    }
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("m13_sparkstreaming_python_azure_spark", "__spark_entry__.py",
                 "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"engine source not found in the checkout: {need}")

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = _private_dirs(args.workload, args.seed)

    def _deadline() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s", file=sys.stderr, flush=True)
        _stop_jvm(kill=True)
        _remove_work(work)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, _deadline)
    watchdog.daemon = True
    watchdog.start()
    try:
        out = run(args, work, cpus)
    finally:
        _stop_jvm()
        _remove_work(work)
        watchdog.cancel()
    print("perfbench-detail " + json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]), flush=True)
    return 0


def run(args, work: str, cpus: int) -> dict:
    from m13_sparkstreaming_python_azure_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": _jvm_opts(os.environ["TMPDIR"]),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    clock = workloads.Clock(T_PROCESS)
    t = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    session_start_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    listener = tracing.ProgressListener()
    spark.streams.addListener(listener)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    if args.trace:
        import __spark_entry__  # noqa: F401 - load the registry before patching

        tracing.install_layer_spans(tracer)
    ctx = Context(spark, tracer, clock, work, args.seed, listener)

    if args.workload == "reference_stream":
        res = workloads.run_reference_stream(ctx, args.seconds)
    else:
        ops = (workloads.SHORT_QUERIES if args.workload == "short_queries"
               else workloads.GATE_CYCLE)
        res = workloads.run_closed_loop(ctx, ops, args.seconds)
    metrics, detail = end_to_end(args.workload, res, ctx)
    tracer.unpatch()
    progress = listener.snapshot()
    spark.streams.removeListener(listener)
    for q in spark.streams.active:
        q.stop()
    spark.stop()

    detail.update(
        workload=args.workload, seed=args.seed, cpus=cpus,
        spark_version=pyspark.__version__, trace=args.trace,
        timed_s=ctx.timed_s, failures=res["failures"][:10],
        end_to_end={k: v for k, (v, _u) in metrics.items()},
    )
    if args.trace:
        n_passes = detail["passes"]
        log = tracing.read_event_log(os.path.join(work, "eventlog"))
        metrics = layers.per_layer(ctx, res, log, progress, session_start_s,
                                   n_passes, metrics)
        detail.update(
            lifecycle_at_pass_end=ctx.lifecycle,
            spans=layers.span_summary(ctx.tracer.spans, ctx.pass_marks[0],
                                      ctx.pass_marks[-1]),
        )
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"detail": detail, "result": result}


def _stop_jvm(kill: bool = False) -> None:
    """Stop the Spark JVM this process launched and wait until it has ended
    (the Python workers it forked end with it)."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if not kill:
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is waited for below
            pass
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30 if not kill else 5)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    SparkContext._gateway = None


if __name__ == "__main__":
    sys.exit(main())
