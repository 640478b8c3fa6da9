"""Statistics helpers shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics


def tail_percentile(samples: list[float], cap: int = 99,
                    beyond: int = 10) -> tuple[int, float]:
    """The highest whole percentile (at most ``cap``) that has at least
    ``beyond`` samples above it, and its nearest-rank value.

    With ``n`` samples the nearest-rank p-th percentile is the
    ``ceil(p * n / 100)``-th smallest, leaving ``n - ceil(p * n / 100)``
    samples beyond it.  Raises ``ValueError`` when even the median has
    fewer than ``beyond`` samples above it."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(cap, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1]
    raise ValueError(f"{n} samples leave fewer than {beyond} beyond "
                     "the median")


def iqr_frac(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[tuple[str, int, int, int]]) -> list[int]:
    """Self time of each span ``(name, start, end, parent_index)``: its
    duration minus the part of its interval its child spans cover."""
    children: dict[int, list[tuple[int, int]]] = {}
    for _, start, end, parent in spans:
        if parent >= 0:
            children.setdefault(parent, []).append((start, end))
    return [(end - start) - _covered(children.get(i, []), start, end)
            for i, (_, start, end, _) in enumerate(spans)]
