"""Order statistics and span arithmetic used by the runner and compare tool.

Pure Python, no Spark: everything here is unit-tested in
``test_perfbench.py``.
"""

from __future__ import annotations

import statistics

# percentiles the tail rule may report, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    xs = list(xs)
    if len(xs) < 2:
        v = xs[0] if xs else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _rank(pct: float, n: int) -> int:
    """ceil(pct * n / 100), in integers (pct has at most one decimal)."""
    return max(-(-round(pct * 10) * n // 1000), 1)


def nearest_rank(xs, pct: float):
    """The nearest-rank ``pct`` percentile of ``xs``."""
    s = sorted(xs)
    return s[_rank(pct, len(s)) - 1]


def tail_percentile(xs, min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples beyond it, as ``(pct, value)``; ``None`` when
    even the median lacks that support (fewer than ``2 * min_beyond``
    samples). With n samples the nearest-rank p-th percentile sits at
    rank ceil(p n / 100), leaving n - rank samples above it."""
    xs = list(xs)
    n = len(xs)
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= min_beyond:
            return pct, nearest_rank(xs, pct)
    return None


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span; overlapping children count once)."""
    s, e = span["start"], span["end"]
    clipped = [(max(c["start"], s), min(c["end"], e)) for c in children]
    return (e - s) - covered([iv for iv in clipped if iv[1] > iv[0]])
