"""Percentiles that refuse to lie about their sample size.

A percentile is reported together with its sample count, and only when
the samples put at least MIN_ABOVE of them above it: with fewer, the
value is just the largest few samples (an earlier version of this
benchmark reported the median of 20 samples as a "tail"). Nearest-rank
definition: p is the smallest sample with at least p% of samples at or
below it.
"""
import math

MIN_ABOVE = 10
# samples that share a group (dumps committed by one micro-batch) are one
# measurement of the program: a grouped percentile needs this many groups
MIN_GROUPS = 3


class PercentileRefused(ValueError):
    pass


def min_samples(p):
    """Fewest samples that leave MIN_ABOVE above the p-th percentile."""
    n = 1
    while n - math.ceil(p / 100.0 * n) < MIN_ABOVE:
        n += 1
    return n


def percentile(samples, p):
    """(value, n): the p-th percentile (nearest rank) and the sample
    count, or PercentileRefused when fewer than MIN_ABOVE samples lie
    above its rank."""
    xs = sorted(samples)
    n = len(xs)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or n - rank < MIN_ABOVE:
        raise PercentileRefused(
            f"p{p:g} needs at least {min_samples(p)} samples "
            f"({MIN_ABOVE} above it); got {n}")
    return xs[rank - 1], n


def median(samples):
    """Median over a few repetitions (not a percentile claim)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2.0, n


def tail_pair(samples, lo, hi):
    """(p_lo, p_hi) records; asserts p_hi >= p_lo."""
    a, n = percentile(samples, lo)
    b, _ = percentile(samples, hi)
    if b < a:
        raise PercentileRefused(f"p{hi:g}={b} below p{lo:g}={a}")
    return {"value": a, "n": n, "p": lo}, {"value": b, "n": n, "p": hi}


def grouped_percentile(samples, groups, p):
    """percentile() over samples that come in groups (per-dump freshness,
    grouped by the commit that made each dump visible). Dumps that share
    a commit differ only by the publish schedule, so they are one
    measurement of the program: refused unless the samples span
    MIN_GROUPS distinct groups."""
    if len(groups) != len(samples):
        raise ValueError("one group per sample")
    v, n = percentile(samples, p)
    k = len(set(groups))
    if k < MIN_GROUPS:
        raise PercentileRefused(
            f"p{p:g} needs samples from {MIN_GROUPS} distinct commits; got {k}")
    return {"value": v, "n": n, "p": p, "groups": k}
