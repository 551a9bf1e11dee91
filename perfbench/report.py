"""Steadiness report over saved benchmark runs.

    python3 perfbench/report.py RUNS_A [RUNS_B]

Each argument is a directory of saved run outputs: the full stdout of one
``perfbench/run.py`` invocation per file. For every workload and end-to-end
metric the report prints each set's median, quartiles and spread (the
distance between the quartiles as a share of the median), and, given two
sets, whether their medians agree within the metric's bound in
``BENCHMARK.json``, in either direction. It then prints every op's median
latency for every run, so ops that swap places between runs are visible,
and, where traced runs are present, the tracing overhead: traced minus
untraced ``pass_s`` and ``setup_s`` medians.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path[1:]]

from perfbench.stats import spread  # noqa: E402


def load_runs(run_dir: str) -> list[dict]:
    runs = []
    for name in sorted(os.listdir(run_dir)):
        path = os.path.join(run_dir, name)
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        detail = [ln for ln in lines if ln.startswith("perfbench-detail ")]
        if not lines or not detail:
            continue
        run = json.loads(detail[-1][len("perfbench-detail "):])
        run["result"] = json.loads(lines[-1])
        run["file"] = name
        runs.append(run)
    return runs


def bounds() -> dict[str, float]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def _fmt(x: float) -> str:
    return f"{x:10.3f}"


def summarize(runs: list[dict], workload: str, metric: str):
    vals = [r["end_to_end"][metric] for r in runs
            if r["workload"] == workload and not r["trace"]]
    if len(vals) < 2:
        return None
    return spread(vals), len(vals)


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load_runs(d) for d in argv]
    limit = bounds()
    workloads = sorted({r["workload"] for runs in sets for r in runs})
    ok = True
    print("workload          metric               set  n     q1     median         q3  spread  bound  verdict")
    for w in workloads:
        for metric, bound in limit.items():
            rows = []
            for i, runs in enumerate(sets):
                s = summarize(runs, w, metric)
                if s is None:
                    continue
                (q1, med, q3, spr), n = s
                verdict = "steady" if spr <= bound else "NOISY"
                rows.append(med)
                print(f"{w:17s} {metric:20s} {'AB'[i]:>3s} {n:2d} {_fmt(q1)} {_fmt(med)} "
                      f"{_fmt(q3)} {spr:7.3f} {bound:6.3f}  {verdict}")
                ok &= verdict == "steady"
            if len(rows) == 2:
                moved = (rows[1] - rows[0]) / rows[0]
                agree = abs(moved) <= bound
                ok &= agree
                print(f"{'':17s} {metric:20s}  B vs A median {moved:+.3f}  "
                      f"{'agree' if agree else 'DISAGREE'}")
    print("\nper-op median latency (ms) in every run")
    for i, runs in enumerate(sets):
        for r in runs:
            if r["trace"]:
                continue
            meds = {k: statistics.median(v) for k, v in r["op_latency_ms"].items()}
            order = " ".join(f"{k}={v:.0f}" for k, v in sorted(meds.items(), key=lambda kv: -kv[1]))
            print(f"{'AB'[i]} {r['workload']:17s} seed={r['seed']:<6d} {order}")
    print("\ntracing overhead (traced minus untraced median)")
    for w in workloads:
        for metric in ("setup_s", "pass_s"):
            plain = [r["end_to_end"][metric] for rs in sets for r in rs
                     if r["workload"] == w and not r["trace"]]
            traced = [r["end_to_end"][metric] for rs in sets for r in rs
                      if r["workload"] == w and r["trace"]]
            if plain and traced:
                d = statistics.median(traced) - statistics.median(plain)
                print(f"{w:17s} {metric:8s} {d:+.3f} s ({d / statistics.median(plain):+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
