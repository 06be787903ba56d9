"""Summary statistics the benchmark reports; the definitions are pinned
by test_perfbench.py."""

from __future__ import annotations


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    the two nearest ranks of the sorted values: rank ``q/100 * (n-1)``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = q / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values) -> float:
    return percentile(values, 50)


def failed_ratio(failed: int, attempted: int) -> float:
    """Operations that raised or returned a wrong result, over operations
    attempted."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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
