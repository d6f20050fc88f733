"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def nearest_rank(values, pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule: the smallest
    sample with at least ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(pct * len(xs) / 100))
    return float(xs[k - 1])


def tail_percentile(n: int, cap: float = 90.0, beyond: int = 10) -> float | None:
    """The highest percentile, at most ``cap``, that leaves at least
    ``beyond`` samples strictly above its nearest-rank sample; None when
    ``n`` is too small for any (``n <= beyond``).

    With 100 samples this is p90; with 40 it is p75; with 20 it is p50.
    """
    if n <= beyond:
        return None
    # the nearest-rank index k = ceil(p/100 * n) must satisfy n - k >= beyond
    return min(cap, math.floor(100 * (n - beyond) / n))


def tail(values, cap: float = 90.0, beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile used, sample count) of the tail latency.

    Below ``2 * beyond`` samples the qualifying percentile would sit below
    the median, which is no tail; the maximum is reported and the
    percentile reads 100.
    """
    n = len(values)
    pct = tail_percentile(n, cap, beyond)
    if pct is None or pct < 50:
        return float(max(values)), 100.0, n
    return nearest_rank(values, pct), float(pct), n


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
