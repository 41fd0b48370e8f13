"""Statistics helpers of the benchmark: percentiles that are only reported
when enough samples lie beyond them, interval unions for job time, and
span self time."""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """The q-th percentile (0 < q < 100) by the nearest-rank rule.

    A percentile is only meaningful when at least MIN_BEYOND samples lie
    beyond it, so fewer than MIN_BEYOND / (1 - q/100) samples raise
    TooFewSamples (100 samples for p90, 20 for p50)."""
    xs = sorted(values)
    n = len(xs)
    beyond = n * (100 - q) / 100
    if q >= 100 or q <= 0 or beyond + 1e-9 < MIN_BEYOND:
        raise TooFewSamples(f"p{q} needs {MIN_BEYOND} samples beyond it; {n} samples give {beyond:g}")
    return xs[max(0, math.ceil(n * q / 100) - 1)]


def union(intervals):
    """Merge (start, end) intervals; returns a sorted list of disjoint ones."""
    merged = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def length(intervals):
    """Total time covered by the intervals (overlaps counted once)."""
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    """The parts of the intervals that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def minus(intervals, holes):
    """Time covered by `intervals` but not by `holes`."""
    a = union(intervals)
    return length(a) - length([c for s, e in a for c in clip(holes, s, e)])


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - length(clip(children, s, e))


def median(values):
    return statistics.median(values)
