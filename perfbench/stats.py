"""Reductions of a run's raw samples to the reported figures."""
import statistics

# Samples a percentile must leave beyond it before it is reported as a tail.
BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile with at least BEYOND samples beyond it.

    Returns (percentile, value, samples beyond). Sorted ascending, the
    sample of rank n - BEYOND (1-based) has exactly BEYOND samples above
    it, which makes it the 100 * (n - BEYOND) / n percentile. Below
    2 * BEYOND samples that percentile is at or under the median, so the
    sample supports no tail: the maximum is returned as the 100th
    percentile with 0 samples beyond, and the report says so.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 2 * BEYOND:
        return 100.0, xs[-1], 0
    k = n - BEYOND
    return 100.0 * k / n, xs[k - 1], BEYOND

