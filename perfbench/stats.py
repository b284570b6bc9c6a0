"""The benchmark's arithmetic: percentiles, failure share, span self
time and idle share. Pure functions, covered by ``test_perfbench.py``."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)
TAIL_MIN_BEYOND = 10


def nearest_rank(values, pct: float) -> float:
    """The smallest value with at least ``pct`` percent of values at or below it."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("no values")
    k = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[k - 1]


def tail(values) -> tuple[float, float | None, int]:
    """``(value, percentile, n)`` at the highest ladder percentile that has
    at least ten samples above it. With fewer than 20 samples no
    percentile qualifies: the median is returned with percentile ``None``."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (1.0 - pct / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            return nearest_rank(values, pct), pct, n
    return statistics.median(values), None, n


def failed_frac(failed: int, attempted: int) -> float:
    """Failed share of attempted operations; an empty run is an error."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def idle_frac(run_s: float, wall_s: float, cores: int) -> float:
    """Share of core-seconds in ``wall_s`` that ran no task: 1 − run ÷ (wall × cores)."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("wall and cores must be positive")
    return 1.0 - run_s / (wall_s * cores)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    A span is a dict with ``id``, ``parent`` (``None`` for a root),
    ``start`` and ``end``. Children are clipped to their parent.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            clip = (max(s["start"], p["start"]), min(s["end"], p["end"]))
            if clip[1] > clip[0]:
                kids.setdefault(p["id"], []).append(clip)
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], []))
        for s in spans
    }


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def sum_of_medians(columns: dict[str, list[float]]) -> float:
    """Sum over keys of the median of each key's values: the total of a
    typical pass when each key is a step and its values are passes."""
    return sum(statistics.median(v) for v in columns.values() if v)


def sum_of_mins(columns: dict[str, list[float]]) -> float:
    """Sum over keys of the lowest of each key's values: the total of a
    best pass when each key is a step and its values are passes."""
    return sum(min(v) for v in columns.values() if v)
