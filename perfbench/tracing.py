"""Tracing for the benchmark's traced mode, and the probes both modes share.

Spans are recorded by the benchmark's own wrappers around the calls into
each layer's public functions; nothing inside the engine is edited. Spark's
own view comes from an uncompressed event log (jobs, stages, tasks) and a
``StreamingQueryListener`` (per-trigger progress).
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PKG = "m13_sparkstreaming_python_azure_spark"


class Tracer:
    """In-memory spans: ``{id, name, op, parent, start, end, n}``. ``n`` is an
    optional count a wrapper takes from the call's result (files written)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "op": self.op,
                   "parent": stack[-1] if stack else None,
                   "start": time.time(), "end": None, "n": 0}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def _wrapper(self, fn, name: str, count=None):
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapped(*a, **kw):
                it = fn(*a, **kw)
                while True:
                    with self.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item
            return gen_wrapped

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if count:
                    rec["n"] = count(out)
                return out
        return wrapped

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, and every
        other binding of the same function in the engine's loaded modules
        (names bound by ``from module import attr`` at import time)."""
        orig = getattr(module, attr)
        wrapped = self._wrapper(orig, name, count)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")
                                   or mname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapped)
                    self._patched.append((mod, k, orig))

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(orig, name))
        self._patched.append((cls, attr, orig))

    def unpatch(self) -> None:
        for obj, k, orig in reversed(self._patched):
            setattr(obj, k, orig)
        self._patched.clear()


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the public entry points of the catalog, replay, snapshot and
    streaming layers. Functions of those modules that gates import inside
    their bodies are reached through the module attribute; names bound at
    import time elsewhere in the engine are rebound by ``Tracer.wrap``."""
    import importlib

    catalog = importlib.import_module(f"{PKG}.catalog")
    replay = importlib.import_module(f"{PKG}.sources.replay")
    snapshots = importlib.import_module(f"{PKG}.sources.snapshots")
    pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")

    tracer.wrap(catalog, "load_table", "catalog.load_table")
    tracer.wrap(replay, "replay_partitions", "replay.day")
    tracer.wrap(replay, "publish_chunk", "replay.publish_chunk")
    # _commit is the one place every snapshot write publishes a version, and
    # _write_data_files the one place data and deletion-vector files are
    # written; the paths it returns are the files new to the table.
    tracer.wrap(snapshots, "_commit", "snapshots.commit")
    tracer.wrap(snapshots, "_write_data_files", "snapshots.write_files", count=len)
    for attr, fn in list(vars(snapshots).items()):
        if (inspect.isfunction(fn) and not attr.startswith("_")
                and fn.__module__ == snapshots.__name__):
            tracer.wrap(snapshots, attr, f"snapshots.{attr}")
    for attr in ("start", "run_available_now", "stop", "table"):
        tracer.wrap_method(pipeline.StreamingAggPipeline, attr,
                           f"pipeline.{attr}")


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event (as its JSON dict) with its arrival time."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


def progress_end(p: dict) -> float:
    """Wall-clock end of a trigger: its start timestamp plus its duration."""
    import datetime as dt

    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000


def heap_mb(spark, collections: int = 4, pause_s: float = 0.25) -> float:
    """Driver JVM heap in use: the minimum over forced collections, after a
    Python collection first (which drops py4j references the JVM would
    otherwise keep alive). The pause between collections lets Spark's
    context cleaner release the blocks of RDDs, shuffles and broadcasts
    the previous collection found unreachable."""
    import gc

    gc.collect()
    mf = spark._jvm.java.lang.management.ManagementFactory
    readings = []
    for _ in range(collections):
        spark._jvm.java.lang.System.gc()
        readings.append(mf.getMemoryMXBean().getHeapMemoryUsage().getUsed())
        time.sleep(pause_s)
    return min(readings) / 2**20


def jvm_gc_ms(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def reset_heap_peaks(spark) -> None:
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        pools.get(i).resetPeakUsage()


def heap_peak_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        p = pools.get(i)
        if str(p.getType().toString()) == "Heap memory":
            total += p.getPeakUsage().getUsed()
    return total / 2**20


def lifecycle_counts(spark, tmp_root: str) -> dict[str, int]:
    """What queries left behind: catalog tables and views, persisted RDDs,
    active streams, and top-level entries under the run's private TMPDIR."""
    return {
        "tables": len(spark.catalog.listTables()),
        "persisted_rdds": int(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "active_streams": len(spark.streams.active),
        "temp_roots": len(os.listdir(tmp_root)),
    }


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of a DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs and task totals from an uncompressed, non-rolling event log.

    Returns ``{"jobs": [...]}`` where each job has ``group``, ``start``,
    ``end`` (seconds), ``stages`` and ``tasks`` counts, and task metric
    sums: ``run_ms``, ``cpu_ms``, ``gc_ms``, ``shuffle_write_b``,
    ``spill_b``.
    """
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": None, "stages": len(ev.get("Stage IDs", [])),
                        "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
                        "shuffle_write_b": 0, "spill_b": 0,
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    return {"jobs": [j for j in jobs.values() if j["end"] is not None]}
