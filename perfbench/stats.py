"""Small statistics shared by the runner and the tracer."""

from __future__ import annotations

# a tail percentile is reported only with at least this many samples beyond it
TAIL_BEYOND = 10


def tail(xs) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least TAIL_BEYOND
    samples beyond it: ``(value, percentile, sample count)``.

    Of n sorted samples the one at rank k has n - k samples beyond it,
    so the highest such rank is k = n - TAIL_BEYOND and its percentile
    is 100 * k / n. With n <= TAIL_BEYOND no percentile qualifies and
    the maximum is returned with percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_BEYOND
    if k < 1:
        return float(s[-1]), 100.0, n
    return float(s[k - 1]), 100.0 * k / n, n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)
