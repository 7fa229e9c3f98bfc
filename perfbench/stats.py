"""Order statistics used by the benchmark and its acceptance rule.

One rule everywhere: a run reports the median of its samples, and the
run-to-run spread of a metric is the interquartile distance of its
per-run values (``statistics.quantiles(values, n=4)``, the exclusive
method) as a share of their median.
"""

from __future__ import annotations

import statistics


def median(values) -> float:
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) by the exclusive method; needs two or more values."""
    vals = [float(v) for v in values]
    if len(vals) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    if q2 == 0:
        raise ValueError("spread of a metric whose median is 0")
    return (q3 - q1) / abs(q2)


def worse_by(first: float, second: float, better: str) -> float:
    """How much ``second`` is worse than ``first``, as a share of
    ``first`` (negative when it is better)."""
    if first == 0:
        raise ValueError("relative change against 0")
    delta = (second - first) if better == "lower" else (first - second)
    return delta / abs(first)
