"""Percentile, spread and ratio helpers of the benchmark."""
import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n, beyond=10):
    """The highest of TAIL_CANDIDATES that leaves at least ``beyond`` of
    ``n`` samples above it, or None when not even the median does."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) >= beyond * 100.0 - 1e-6:
            return p
    return None


def tail(values, beyond=10):
    """(percentile, value) of the highest supported tail; with too few
    samples for any tail, (None, the maximum)."""
    p = tail_percentile(len(values), beyond)
    return (p, percentile(values, p)) if p is not None else (None, max(values))


def ratio(num, den):
    """num / den, 0 when the base is empty."""
    return num / den if den else 0.0


def spread(values):
    """Inter-quartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, statistics.median(values))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
