"""Pure arithmetic on the harness's raw samples: percentiles, interval
coverage, span self time, fingerprint comparison and the metric
roll-ups. No I/O; `test_stats.py` covers it.
"""
import math
import statistics

TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def nearest_rank(xs, pct):
    """The nearest-rank percentile of xs and how many samples lie beyond it."""
    s = sorted(xs)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1], len(s) - k


def tail(xs, min_beyond=10):
    """The highest percentile of TAIL_PERCENTILES that has at least
    `min_beyond` samples beyond it, as (percentile, value), or None when
    there are too few samples for any of them.
    """
    for pct in TAIL_PERCENTILES:
        if not xs:
            break
        value, beyond = nearest_rank(xs, pct)
        if beyond >= min_beyond:
            return pct, value
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    clipped to [lo, hi] when given.
    """
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def uncovered(start, end, intervals):
    """Length of [start, end) that none of the intervals covers."""
    return (end - start) - union_length(intervals, start, end)


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: uncovered(s["start_ns"], s["end_ns"], children.get(s["id"], []))
            for s in spans}


def driver_times(spans, jobs):
    """Span id -> self time during which no job of the span was running:
    the span's own interval minus its children's and its jobs' intervals.
    """
    children, own = {}, {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    for j in jobs:
        own.setdefault(j["span"], []).append((j["start_ns"], j["end_ns"]))
    return {s["id"]: uncovered(s["start_ns"], s["end_ns"],
                               children.get(s["id"], []) + own.get(s["id"], []))
            for s in spans}


def fingerprint_matches(expected, rows, digest):
    """A call's output matches when both the row count and the hash agree."""
    return expected is not None and expected["rows"] == rows and expected["hash"] == digest


def measured_passes(passes):
    """The passes a run's figures cover: all but the first (cold) one when
    the run made more than one, else the single pass.
    """
    passes = sorted(set(passes))
    return passes[1:] if len(passes) > 1 else passes


def layer_of(span_name):
    """`operators.Dedup.clustersOfVerified` -> `operators.Dedup`."""
    return span_name.rsplit(".", 1)[0]
