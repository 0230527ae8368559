"""The benchmark's own accounting: percentiles, failure handling, job-time
union and driver gap, and the steadiness statistics. Pure functions, so
they can be tested without building anything (see test_accounting.py)."""

import math
import statistics

INF = float("inf")
MIN_BEYOND = 10


def samples_beyond(n, p):
    """Samples strictly above the nearest-rank p-quantile of n samples."""
    return n - math.ceil(round(p * n, 9))


def needed_samples(p):
    """Smallest n with at least MIN_BEYOND samples beyond the p-quantile."""
    n = 1
    while samples_beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, p):
    """Nearest-rank p-quantile (0 < p < 1), or None when fewer than
    MIN_BEYOND samples lie beyond it: such a tail is one or two outliers,
    not a percentile."""
    n = len(values)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(round(p * n, 9)) - 1)]


def latency_samples(ops):
    """Latencies of (latency, ok) pairs; a failed or wrong operation
    enters as +inf, so it can only push a percentile up."""
    return [lat if ok else INF for lat, ok in ops]


def interval_union(intervals, window=None):
    """Total length covered by the union of [start, end] intervals,
    clipped to window=(lo, hi) when given."""
    spans = []
    for s, e in intervals:
        if window is not None:
            s, e = max(s, window[0]), min(e, window[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_time(jobs_ms, windows_ms):
    """Seconds during which at least one Spark job ran, summed over the
    timed windows (ms). Jobs outside every window do not count."""
    return sum(interval_union(jobs_ms, w) for w in windows_ms) / 1e3


def driver_gap(wall_s, job_s):
    """Wall time with no Spark job running."""
    return max(0.0, wall_s - job_s)


def median(values):
    return statistics.median(values) if values else None


def spread(values):
    """(q1, median, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, ((q3 - q1) / med if med else INF)
