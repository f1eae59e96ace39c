"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` samples
    above it, by nearest rank. Returns (value, percentile, sample count).

    Raises ValueError when there are too few samples for any such
    percentile, rather than reporting a maximum as a tail."""
    n = len(values)
    if n < beyond + 1:
        raise ValueError(f"{n} samples leave fewer than {beyond} beyond any percentile")
    pct = math.floor(100 * (n - beyond) / n)
    rank = math.ceil(pct * n / 100)  # 1-based nearest rank
    return float(sorted(values)[rank - 1]), pct, n
