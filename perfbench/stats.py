"""Percentile and tail helpers.

A tail is the highest percentile on a fixed ladder that still has at
least ten samples beyond it, so a reported tail always rests on ten
observations; with fewer than 20 samples there is no tail to report.
Percentiles use the nearest-rank rule on the sorted samples.
"""

import math
import statistics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """Samples strictly past the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values):
    """(percentile, value) of the reported tail, or None when no ladder
    step has MIN_BEYOND samples beyond it."""
    n = len(values)
    for p in LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def median(values):
    return statistics.median(values) if values else None


def describe(name, unit, values):
    """One report line: median and tail with the sample count."""
    n = len(values)
    if not n:
        return "%s: no samples" % name
    line = "%s p50=%.6g %s (n=%d)" % (name, median(values), unit, n)
    t = tail(values)
    if t is None:
        return line + "; tail: none (n < %d)" % (2 * MIN_BEYOND)
    p, v = t
    return line + "; tail p%g=%.6g %s (%d beyond)" % (p, v, unit, beyond(n, p))
