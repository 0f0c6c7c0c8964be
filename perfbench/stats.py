"""The benchmark's own statistics, kept free of Spark so they can be tested."""
import math


def median(values):
    """The middle value; the mean of the two middle ones for an even count."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values, beyond=10):
    """(percentile, value) for the highest whole percentile that still has
    at least `beyond` samples above it, by the nearest-rank rule.

    With fewer than 2 * `beyond` samples no percentile above the median
    has that many samples beyond it, so the median is returned as p50.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    pct = max(50, math.floor(100 * (n - beyond) / n))
    while pct > 50 and n - math.ceil(pct * n / 100) < beyond:
        pct -= 1
    if pct == 50:
        return 50, median(s)
    return pct, s[math.ceil(pct * n / 100) - 1]


def union_length(spans):
    """Total length covered by the (start, end) spans, overlaps counted once."""
    total = 0
    end = None
    for s, e in sorted(spans):
        if e <= s:
            continue
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(spans, lo, hi):
    """The parts of `spans` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in spans if min(e, hi) > max(s, lo)]


def driver_gap(action_span, job_spans):
    """Time of an action not covered by any of its jobs, in the spans' unit."""
    lo, hi = action_span
    return max(0, (hi - lo) - union_length(clip(job_spans, lo, hi)))
