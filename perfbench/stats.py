"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile (``statistics.quantiles``, n=4).

    A single value is its own quartiles.
    """
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def iqr(values: list[float]) -> float:
    q1, q3 = quartiles(values)
    return q3 - q1


def drift_ratio(values: list[float]) -> float:
    """Median of the last third of ``values`` / median of the first third.

    Above 1 means the later passes got slower.  Needs three values; the
    thirds are rounded up so that each holds at least one.
    """
    if len(values) < 3:
        raise ValueError(f"drift needs at least 3 passes, got {len(values)}")
    k = -(-len(values) // 3)
    return statistics.median(values[-k:]) / statistics.median(values[:k])
