"""Summary statistics the benchmark reports: medians, tails, spreads and
self time. Pure Python, no Spark, so the rules are unit-tested directly."""

from __future__ import annotations

import statistics

#: a tail percentile needs at least this many samples strictly beyond it
TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as ``(value, percentile, n)``; ``None`` below ``TAIL_BEYOND + 1``
    samples, where no such percentile exists.

    With n sorted samples, the (n - 10)-th smallest has exactly 10 samples
    above it, so it sits at percentile 100 * (n - 10) / n."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    s = sorted(xs)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def spread(xs):
    """(median, q1, q3, (q3 - q1) / median) with quartiles as
    ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, ((q3 - q1) / med) if med else float("inf")


def covered(intervals):
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; child
    intervals are clipped to the span, and overlapping children count once."""
    s, e = span
    clipped = [(max(cs, s), min(ce, e)) for cs, ce in children]
    return (e - s) - covered([(a, b) for a, b in clipped if b > a])
