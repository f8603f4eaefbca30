"""The benchmark's arithmetic, kept apart so it can be tested alone."""
import statistics

# Percentiles a report may name, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default does."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n, beyond=10):
    """The highest percentile in TAIL_LADDER with at least `beyond`
    of n samples above it, or None when even the median lacks them."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond:
            best = p
    return best


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the (start, end) intervals, each first
    clipped to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def window_stat(pairs, lo, hi, windows, p):
    """For (key, value) pairs with keys in [lo, hi), split that range
    into `windows` equal windows and give, per window that holds
    values, the p-th percentile of its values."""
    buckets = [[] for _ in range(windows)]
    width = (hi - lo) / windows
    for k, v in pairs:
        if lo <= k < hi:
            buckets[min(windows - 1, int((k - lo) / width))].append(v)
    return [percentile(b, p) for b in buckets if b]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")
