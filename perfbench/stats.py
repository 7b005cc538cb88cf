"""Latency statistics with the benchmark's sample rules.

A percentile q is reported only when at least MIN_BEYOND samples lie
beyond it: a median needs 20 samples, a p90 needs 100. A failed
operation counts as a latency above every limit: it enters the samples
as +inf, so a percentile that lands on one is infinite."""
import math

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def min_samples(q):
    """Smallest sample count for which percentile q (0 < q < 1) has
    MIN_BEYOND samples beyond it."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(ok_ms, failed, q):
    """Nearest-rank percentile q of the successful latencies `ok_ms` plus
    `failed` operations counted as +inf. Raises TooFewSamples when the
    sample count is below min_samples(q)."""
    values = sorted(ok_ms) + [math.inf] * failed
    n = len(values)
    if n < min_samples(q):
        raise TooFewSamples(f"p{round(q * 100)} needs {min_samples(q)} samples, got {n}")
    return values[max(0, math.ceil(q * n) - 1)]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    import statistics
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
