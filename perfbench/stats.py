"""Statistics the benchmark reports and the rules it is judged by."""
import math
import statistics

MIN_BEYOND = 10   # a reported percentile needs at least this many samples above it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def beyond(n, q):
    """How many of `n` samples lie strictly above the nearest-rank
    `q`-percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as `statistics.quantiles(values, n=4)` gives
    them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(parent, change, better):
    """How much worse the change's median is than the parent's, as a share
    of the parent's median (negative when it is better)."""
    p, c = statistics.median(parent), statistics.median(change)
    return (c - p) / p if better == "lower" else (p - c) / p


def verdict(parent, change, better, bound):
    """'regressed' when the change's median is worse by more than `bound`,
    'unresolved' when the parent's own spread exceeds the bound and the
    change does not win every pairing, else 'ok'."""
    if worse_by(parent, change, better) > bound:
        return "regressed"
    if len(parent) >= 2 and spread(parent) > bound:
        wins = all((c < p) if better == "lower" else (c > p) for c in change for p in parent)
        if not wins:
            return "unresolved"
    return "ok"


def wins(parent, change, better):
    """Share of the (parent, change) pairs, taken in order, in which the
    change reads better; ties count for neither side."""
    won = sum(1 for p, c in zip(parent, change) if (c < p if better == "lower" else c > p))
    return won / len(parent)


def overhead(units):
    """Tracing overhead from alternating (seconds, traced) units in run
    order: the median over traced units of the unit's time against the mean
    of its untraced neighbours, minus 1. Comparing neighbours cancels the
    steady speed-up of a warming JIT, which a ratio of the two medians would
    book as a negative overhead."""
    ratios = []
    for i, (sec, traced) in enumerate(units):
        near = [units[j][0] for j in (i - 1, i + 1) if 0 <= j < len(units) and not units[j][1]]
        if traced and near:
            ratios.append(sec / statistics.mean(near) - 1)
    return median(ratios)
