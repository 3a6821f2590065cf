"""Arithmetic the benchmark reports with: percentile eligibility,
failure ratios, medians and quartiles, the typical pass and span self
time. Pure Python, so the tests of these rules need no Spark."""

from __future__ import annotations

import math
import statistics

# A latency percentile is worth reporting only when at least this many
# samples lie strictly beyond it, so that one slow outlier cannot be the
# figure.
MIN_BEYOND = 10


def eligible(n: int, q: float) -> bool:
    """Whether percentile ``q`` (0-100) of ``n`` samples has at least
    ``MIN_BEYOND`` samples beyond it."""
    return n - math.ceil(n * q / 100.0) >= MIN_BEYOND


def fail_ratio(attempted: int, failed: int) -> float:
    """Operations that failed over operations attempted. A failure is an
    exception, an unexpected status or an output-check mismatch; one
    operation that fails in several ways still counts once."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def median(values) -> float:
    return float(statistics.median(values))


def median_pass_s(passes) -> float:
    """The time of a typical pass: for each operation, the median of its
    latencies over the passes, summed over the operations. ``passes``
    holds one {operation label: seconds} per pass. A stall in one
    operation of one pass moves the median of that operation only when
    it hits most passes."""
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for label, s in ops.items():
            by_op.setdefault(label, []).append(s)
    return sum(median(v) for v in by_op.values())


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Self time of each span: its duration minus the part of that
    interval its direct children cover. ``spans`` are dicts with
    ``start``, ``end`` and ``parent`` (an index into ``spans`` or None)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        inner = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(i, [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out.append((s["end"] - s["start"]) - covered(inner))
    return out
