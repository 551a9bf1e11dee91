"""The benchmark's own arithmetic, kept free of Spark so it can be tested."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def tail(
    values: Sequence[float], beyond: int = TAIL_BEYOND
) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the value
    is the one at index ``n - beyond - 1``, which leaves ``beyond`` samples
    beyond it; its percentile is the share of samples at or below it. With
    ``2 * beyond`` samples or fewer that percentile is 50 or lower, which is
    no tail, and ``None`` is returned.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    i = n - beyond - 1
    if 2 * (i + 1) <= n:
        return None
    return xs[i], 100.0 * (i + 1) / n, n


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def per_op_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean, over ops, of each op's median latency."""
    return geomean(statistics.median(v) for v in latencies.values())


def tail_or_slowest(
    pooled: Sequence[float], latencies: dict[str, list[float]]
) -> tuple[float, float | None, int, str]:
    """``latency_tail_ms``'s value: ``tail(pooled)`` where there are enough
    samples for a tail, otherwise the median latency of the slowest op, which
    is not a tail but, unlike a pooled median over unlike ops, steady.
    Returns ``(value, percentile or None, samples, rule)``."""
    t = tail(pooled)
    if t is not None:
        return (*t, "tail")
    return (max(statistics.median(v) for v in latencies.values()), None,
            len(pooled), "slowest-op median")


def spread(values: Sequence[float]) -> tuple[float, float, float, float]:
    """``(q1, median, q3, (q3 - q1) / median)`` as ``statistics.quantiles``
    gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def covering_batches(
    day_rows: Sequence[int], batches: Sequence[tuple[int, float]]
) -> list[float | None]:
    """Map each arrival to the end of the first batch that covers it.

    ``day_rows[i]`` is the row count of arrival ``i``; arrivals land in
    order. ``batches`` holds ``(input_rows, end_time)`` for each micro-batch
    in batch order. Arrival ``i`` is covered by the first batch whose
    cumulative input rows reach the cumulative rows of arrivals ``0..i``;
    several arrivals may fold into one batch. Arrivals no batch covers map
    to ``None``.
    """
    out: list[float | None] = []
    need, seen, b = 0, 0, 0
    for rows in day_rows:
        need += rows
        while b < len(batches) and seen + batches[b][0] < need:
            seen += batches[b][0]
            b += 1
        if b == len(batches):
            out.append(None)
            continue
        out.append(batches[b][1])
    return out


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover.

    A span is a dict with ``id``, ``parent`` (an id or ``None``), ``start``
    and ``end``. Overlapping children are merged first, so time covered by
    two children is subtracted once.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
