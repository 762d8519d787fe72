"""Pure helpers shared by the benchmark runner and its self-tests: no
Spark, no I/O beyond the directory walk."""

from __future__ import annotations

import math
import os
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failure_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def dir_bytes(root: str) -> tuple[int, int]:
    """(total bytes, file count) of the regular files under ``root``;
    symlinks are not followed, so nothing outside the tree is counted."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if os.path.isfile(path) and not os.path.islink(path):
                total += os.path.getsize(path)
                files += 1
    return total, files


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(parent: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = parent
    return (hi - lo) - covered(children, lo, hi)
