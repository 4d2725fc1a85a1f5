"""The benchmark's own arithmetic: percentiles, driver gap, recall,
index size ratio. Pure Python, no Spark, so it is unit-tested on its own
(test_stats.py)."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values`` and
    the sample count it rests on. Nearest rank always returns a measured
    sample, never an interpolation between two. Raises on no samples."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1], len(ordered)


def median(values: list[float]) -> float:
    """Median (mean of the two middle samples for an even count)."""
    if not values:
        raise ValueError("median of no samples")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by the union of ``intervals``, each clipped
    to [lo, hi] when given. Overlapping and nested intervals count once."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    clipped.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in clipped:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap(call_start: float, call_end: float,
               job_intervals: list[tuple[float, float]]) -> float:
    """Wall time of a call not covered by any of its Spark jobs: the
    call's length minus the union of its job intervals clipped to it."""
    wall = call_end - call_start
    return max(0.0, wall - union_length(job_intervals, call_start, call_end))


def recall_at_k(found: list, exact: list, k: int = 10) -> float:
    """|top-k found ∩ top-k exact| / |top-k exact|; 1.0 when the exact
    list is empty (nothing to miss)."""
    truth = set(exact[:k])
    if not truth:
        return 1.0
    return len(truth.intersection(found[:k])) / len(truth)


def bytes_per_input_byte(index_bytes: int, texts: list[str],
                         n_vectors: int, dim: int, bytes_per_value: int = 4) -> float:
    """Bytes under the index root per byte of input: UTF-8 text bytes of
    the live documents plus the raw vector bytes."""
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    input_bytes = text_bytes + n_vectors * dim * bytes_per_value
    if input_bytes <= 0:
        raise ValueError("no input bytes")
    return index_bytes / input_bytes
