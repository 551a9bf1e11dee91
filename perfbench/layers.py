"""Per-layer metrics of a traced run, each per timed pass unless its name
says otherwise (a median, a maximum or a fraction)."""

from __future__ import annotations

import statistics

from perfbench.stats import covered, self_times

_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def span_summary(spans: list[dict], w0: float, w1: float) -> dict:
    """Count, total and self time (ms) of each span name in the timed
    region; the traced run writes this out with its detail record."""
    spans = [s for s in spans if s["end"] is not None]
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if w0 <= s["start"] and s["end"] <= w1:
            agg = out.setdefault(s["name"], {"n": 0, "ms": 0.0, "self_ms": 0.0})
            agg["n"] += 1
            agg["ms"] += (s["end"] - s["start"]) * 1e3
            agg["self_ms"] += selfs[s["id"]] * 1e3
    return out


def per_layer(ctx, res, log, progress, session_start_s, n_passes, e2e) -> dict:
    from perfbench.tracing import progress_end

    w0, w1 = ctx.pass_marks[0], ctx.pass_marks[-1]
    n = max(n_passes, 1)
    spans = ctx.tracer.spans
    spans = [s for s in spans if s["end"] is not None]
    timed = [s for s in spans if w0 <= s["start"] and s["end"] <= w1]
    selfs = self_times(spans)

    def named(name):
        return [s for s in timed if s["name"] == name]

    def ms(ss):
        return sum(s["end"] - s["start"] for s in ss) * 1e3

    jobs = [j for j in log["jobs"] if w0 <= j["start"] <= w1]

    def inside(j, ss):
        return any(s["start"] <= j["start"] <= s["end"] for s in ss)

    def jobs_inside(ss, but_not=()):
        return sum(1 for j in jobs if inside(j, ss) and not inside(j, but_not))

    loads, builds, ops = named("catalog.load_table"), named("queries.build"), named("op")
    commits = named("snapshots.commit")
    job_iv = [(j["start"], j["end"]) for j in jobs]
    gap = sum((s["end"] - s["start"]) - covered(job_iv, s["start"], s["end"]) for s in ops)
    phases = [p for t, p in ctx.phases if w0 <= t <= w1]

    prog = [p for p in progress if w0 <= progress_end(p) <= w1]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    dur = [(p.get("durationMs") or {}) for p in data]
    states = [p.get("stateOperators") or [] for p in data]

    m = {
        "session.start_s": (session_start_s, "s"),
        "catalog.loads": (len(loads) / n, "count"),
        "catalog.load_ms": (ms(loads) / n, "ms"),
        "catalog.load_jobs": (jobs_inside(loads) / n, "count"),
        "queries.build_ms": (sum(selfs[s["id"]] for s in builds) * 1e3 / n, "ms"),
        "queries.build_jobs": (jobs_inside(builds, but_not=loads) / n, "count"),
        "plan.analysis_ms": (sum(p["analysis"] for p in phases) / n, "ms"),
        "plan.optimization_ms": (sum(p["optimization"] for p in phases) / n, "ms"),
        "plan.planning_ms": (sum(p["planning"] for p in phases) / n, "ms"),
        "exec.jobs": (len(jobs) / n, "count"),
        "exec.stages": (sum(j["stages"] for j in jobs) / n, "count"),
        "exec.tasks": (sum(j["tasks"] for j in jobs) / n, "count"),
        "exec.job_ms": (sum(j["end"] - j["start"] for j in jobs) * 1e3 / n, "ms"),
        "exec.driver_gap_ms": (gap * 1e3 / n, "ms"),
        "exec.executor_run_ms": (sum(j["run_ms"] for j in jobs) / n, "ms"),
        "exec.executor_cpu_ms": (sum(j["cpu_ms"] for j in jobs) / n, "ms"),
        "exec.gc_ms": (sum(j["gc_ms"] for j in jobs) / n, "ms"),
        "exec.shuffle_write_mb": (sum(j["shuffle_write_b"] for j in jobs) / 2**20 / n, "MB"),
        "exec.spill_mb": (sum(j["spill_b"] for j in jobs) / 2**20 / n, "MB"),
        "replay.day_ms": (_median((s["end"] - s["start"]) * 1e3
                                  for s in spans if s["name"] == "replay.day"), "ms"),
        "replay.publishes": (len(named("replay.publish_chunk")) / n, "count"),
        "replay.publish_ms": (ms(named("replay.publish_chunk")) / n, "ms"),
        "stream.batches": (len(prog) / n, "count"),
        "stream.data_batch_frac": (len(data) / len(prog) if prog else 0.0, "fraction"),
        "stream.batch_ms": (_median(d.get("triggerExecution", 0) for d in dur), "ms"),
        **{k: (_median(d.get(v, 0) for d in dur), "ms") for k, v in _PHASES.items()},
        "stream.state_rows": (max((sum(o.get("numRowsTotal", 0) for o in s)
                                   for s in states), default=0), "count"),
        "stream.state_commit_ms": (_median(sum(o.get("commitTimeMs", 0) for o in s)
                                           for s in states), "ms"),
        "stream.busy_frac": (sum(d.get("triggerExecution", 0) for d in dur)
                             / 1e3 / (w1 - w0), "fraction"),
        "snapshots.commits": (len(commits) / n, "count"),
        "snapshots.commit_ms": (ms(commits) / n, "ms"),
        "snapshots.files_written": (sum(s["n"] for s in named("snapshots.write_files"))
                                    / n, "count"),
        "jvm.gc_ms": (ctx.gc_ms / n, "ms"),
        "jvm.heap_peak_mb": (ctx.heap_peak, "MB"),
        "trace.setup_s": (e2e["setup_s"][0], "s"),
        "trace.pass_s": (e2e["pass_s"][0], "s"),
    }
    first, last = ctx.lifecycle[0], ctx.lifecycle[-1]
    for k in ("tables", "persisted_rdds", "active_streams", "temp_roots"):
        m[f"leak.{k}"] = ((last[k] - first[k]) / n, "count")
    backlog, late = 0, 0.0
    if "arrived" in res:
        arrived, ends = res["arrived"], res["ends"]
        for i, a in enumerate(arrived):
            waiting = sum(1 for j in range(i + 1) if ends[j] is None or ends[j] > a)
            backlog = max(backlog, waiting)
        late = max(res["late"]) * 1e3
    m["stream.backlog_max"] = (backlog, "count")
    m["stream.generator_late_ms"] = (late, "ms")
    return m
