"""Percentiles, the tail-percentile rule and span self-time arithmetic."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values, empty: float | None = None) -> float:
    """Median of `values`; `empty` when there are none, if given."""
    xs = list(values)
    if not xs and empty is not None:
        return empty
    return percentile(xs, 50.0)


def tail_percentile(expected_samples: float) -> float:
    """Highest candidate percentile that leaves at least ten samples
    beyond it; the median when even that leaves fewer."""
    for p in TAIL_PERCENTILES:
        if round(expected_samples * (100.0 - p) / 100.0, 9) >= 10.0:
            return p
    return 50.0


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its child spans. `spans` holds
    (span_id, parent_id, start, end) tuples; parent_id is None for a
    root."""
    children: dict[int, list] = {}
    for sid, parent, a, b in spans:
        if parent is not None:
            children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - covered(children.get(sid, ()), a, b)
            for sid, _parent, a, b in spans}
