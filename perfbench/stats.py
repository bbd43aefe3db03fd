"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same definition as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def summarize(values, q: float) -> dict:
    """A percentile together with how many samples support it:
    ``n`` samples in all, ``beyond`` of them above the value."""
    v = percentile(values, q)
    return {
        "value": v,
        "n": len(values),
        "beyond": sum(1 for x in values if x > v),
    }


def prefix_self_times(
    names: list[str], cumulative: list[float]
) -> dict[str, float]:
    """Self time per stage from the times of successive pipeline
    prefixes: stage ``i`` costs prefix ``i`` minus prefix ``i - 1``.
    The self times sum to the last prefix's time by construction; a
    negative one means the two prefixes' noise exceeds that stage's
    cost and is reported as is."""
    if len(names) != len(cumulative):
        raise ValueError("one cumulative time per stage")
    out = {}
    prev = 0.0
    for name, t in zip(names, cumulative):
        out[name] = t - prev
        prev = t
    return out
