"""Summary statistics used by the benchmark and its spread check."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def p50(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = TAIL_BEYOND) -> dict | None:
    """The highest percentile that still has ``beyond`` samples above it.

    With ``n`` sorted samples that is the sample with exactly ``beyond``
    larger ones, at percentile ``100 * (n - beyond) / n``. Returns ``None``
    when there are too few samples for any such percentile.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    return {"value": float(xs[n - beyond - 1]), "percentile": round(100.0 * (n - beyond) / n, 1), "n": n}


def spread(values) -> float:
    """Distance between the first and third quartile, as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
