"""The benchmark's own statistics, kept apart so they can be unit-tested."""
import math
import statistics

# Candidate tail percentiles, highest last.
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs):
    """(value, percentile, n): the highest ladder percentile that still has
    at least TAIL_MIN_BEYOND samples above its rank. Below 2 x
    TAIL_MIN_BEYOND samples no percentile qualifies and the median stands
    in, so the metric stays defined; the returned percentile says which."""
    n = len(xs)
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= TAIL_MIN_BEYOND:
            best = p
    value = median(xs) if best == 50 else percentile(xs, best)
    return value, best, n


def failure_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("no ops attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def quartile_spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
