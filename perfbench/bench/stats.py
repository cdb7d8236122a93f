"""Order statistics the benchmark reports."""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else float('nan')


def tail(xs):
    """Highest whole percentile with at least MIN_BEYOND samples ranked
    after it, by the nearest-rank rule. Returns (percentile, value, n);
    percentile and value are None when n <= MIN_BEYOND."""
    n = len(xs)
    if n <= MIN_BEYOND:
        return None, None, n
    p = (100 * (n - MIN_BEYOND)) // n
    while p > 0 and math.ceil(p * n / 100) > n - MIN_BEYOND:
        p -= 1
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(xs)[rank - 1], n
