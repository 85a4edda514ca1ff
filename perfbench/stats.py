"""Arithmetic behind the benchmark's metrics, kept free of I/O so that
perfbench/test_stats.py can check it directly."""

import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    """The q-th percentile (integer q in 1..100) of `xs` by the
    nearest-rank method, with the number of samples it rests on. A
    percentile is only reported when at least ten samples lie beyond it,
    so it returns (None, n) otherwise."""
    n = len(xs)
    rank = max(1, -(-q * n // 100))
    if n == 0 or n - rank < 10:
        return None, n
    return sorted(xs)[rank - 1], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end) intervals,
    optionally clipped to [lo, hi)."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(parent, children):
    """A span's self time: its duration minus the part of its interval
    that its children cover."""
    a, b = parent
    return (b - a) - union_length(children, a, b)
