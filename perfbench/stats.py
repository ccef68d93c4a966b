"""Percentile and summary arithmetic shared by the runner and the tests."""
import math


def percentile(xs, p):
    """p-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default); None for an empty sample."""
    if not xs:
        return None
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def beyond(n, p):
    """How many of n sorted samples sit above the p-th percentile's
    interpolation position (n - 1) * p / 100."""
    return n - 1 - math.floor((n - 1) * p / 100.0) if n else 0


def supported_percentile(n, tail=10):
    """The highest whole percentile with at least `tail` samples beyond it
    (0 when the sample is smaller than tail + 1)."""
    best = 0
    for p in range(1, 100):
        if beyond(n, p) >= tail:
            best = p
    return best

