"""Order statistics used by every metric."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_rank(n, cap=99.0, beyond=10):
    """1-based rank of the reported tail sample: the highest percentile,
    at most `cap`, that still has at least `beyond` samples above it; with too few samples
    for that, the upper median. Returns (rank, percentile)."""
    if n <= 0:
        return 0, 0.0
    k = min(n - beyond, math.floor(cap / 100.0 * n))
    k = max(k, n // 2 + 1)
    return k, 100.0 * k / n


def tail(xs, cap=99.0, beyond=10):
    """(value, percentile) of the tail sample by `tail_rank`."""
    if not xs:
        return 0.0, 0.0
    k, p = tail_rank(len(xs), cap, beyond)
    return sorted(xs)[k - 1], p


def spread(values):
    """Interquartile distance as a share of the median, as the benchmark's
    acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
