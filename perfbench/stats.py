"""Latency statistics with failures counted as missing every limit.

A failed operation has no latency a user could accept, so it enters every
order statistic as +inf: a fix can then only lower a percentile, never
raise it.
"""
import math
import statistics

INF = math.inf
MIN_BEYOND = 10


def with_failures(latencies, n_failed):
    return sorted(latencies) + [INF] * n_failed


def p50(latencies, n_failed=0):
    xs = with_failures(latencies, n_failed)
    return statistics.median(xs) if xs else None


def tail(latencies, n_failed=0, min_beyond=MIN_BEYOND):
    """Highest nearest-rank percentile with at least ``min_beyond`` samples
    above it. Returns ``(value, percentile, samples)``; ``value`` and
    ``percentile`` are None when there are too few samples."""
    xs = with_failures(latencies, n_failed)
    n = len(xs)
    if n <= min_beyond:
        return None, None, n
    k = n - min_beyond - 1          # 0-based rank; n - 1 - k == min_beyond
    return xs[k], math.floor(1000.0 * (k + 1) / n) / 10.0, n


def failed_ratio(attempted, failed):
    return failed / attempted if attempted else None
