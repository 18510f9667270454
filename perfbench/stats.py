"""Pure metric arithmetic for the benchmark: percentiles, the tail rule,
failure fraction and run-to-run spread. Kept free of I/O so the tests can
pin it."""

import math
import statistics


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile with at least `min_beyond` of n samples
    beyond it, or None when the sample is too small for any."""
    for p in range(99, 0, -1):
        if beyond(n, p) >= min_beyond:
            return p
    return None


def failed_frac(attempted, failed):
    """Failed or wrong operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
