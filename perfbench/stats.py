"""Statistics the benchmark reports, kept free of I/O so test_stats.py can
pin them."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def nearest_rank(xs, p):
    """The nearest-rank p-quantile: the smallest sample with at least a
    share p of the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    rank = max(1, math.ceil(round(p * len(s), 9)))
    return s[rank - 1]


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    nearest rank at 1 - beyond/n. Returns (value, percentile, n). Below
    2 * `beyond` samples that percentile would sit under the median (or
    not exist), so the maximum is reported, at percentile 1.0."""
    n = len(xs)
    if n < 2 * beyond:
        return max(xs), 1.0, n
    p = 1.0 - beyond / n
    return nearest_rank(xs, p), p, n


def failed_frac(attempted, failed):
    """Calls that threw over calls attempted."""
    if attempted < 1:
        raise ValueError("no call attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def worst_median(samples):
    """The largest per-kind median: `samples` maps each call kind (a query
    key, or the stream's slice) to its timed wall times."""
    if not samples:
        raise ValueError("no call kinds")
    return max(median(xs) for xs in samples.values())
