"""Pure arithmetic of the benchmark: percentiles, the tail rule, span
self time and the stall flag. No Spark and no I/O, so the self-tests
check it directly."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def _rank(pct: int, n: int) -> int:
    """1-based nearest rank of the ``pct``-th percentile of ``n`` values,
    in integer arithmetic so that no rounding error moves it."""
    return max(1, (pct * n + 99) // 100)


def nearest_rank(values: list[float], pct: int) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    xs = sorted(values)
    return xs[_rank(pct, len(xs)) - 1]


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)``: the highest whole percentile that still
    has at least ``TAIL_MIN_BEYOND`` samples above its rank. When not even
    the median has that many (fewer than 20 samples) it falls back to the
    median, reported as percentile 50."""
    n = len(values)
    pct = 99
    while pct > 50 and n - _rank(pct, n) < TAIL_MIN_BEYOND:
        pct -= 1
    return nearest_rank(values, pct), pct, n


@dataclass(frozen=True)
class Span:
    """One call into a layer. ``parent`` is the index of the enclosing
    span in the same list, or -1; ``jobs`` counts the Spark jobs launched
    in the span itself, not in its children."""

    name: str
    start: float
    end: float
    parent: int
    sample: int
    label: str = ""
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.dur - _covered(kids.get(i, [])) for i, s in enumerate(spans)]


def unattributed(wall: float, spans: list[Span], is_layer) -> float:
    """Sample wall minus the time covered by its top-level layer spans:
    the layer spans that have no layer span above them."""
    def top(i: int) -> bool:
        p = spans[i].parent
        while p >= 0:
            if is_layer(spans[p].name):
                return False
            p = spans[p].parent
        return True

    tops = [
        (s.start, s.end)
        for i, s in enumerate(spans)
        if is_layer(s.name) and top(i)
    ]
    return wall - _covered(tops)


# A sample is suspect when the fixed anchor beside it ran this much slower
# than the run's fastest anchor, or when the sample kept fewer than this
# share of the cores busy. Healthy samples of both workloads keep 1.5-3.2
# of 4 cores busy (a share of 0.37-0.8, loaded host included); the stalled
# topk rep of ROADMAP.md item 2 read 6.6 s wall on ~3 CPU-s, a share of
# 0.11. The share is fixed rather than taken from the run's own samples,
# so a run of one sample is judged too.
STALL_ANCHOR_RATIO = 2.0
STALL_BUSY_SHARE = 0.25


def stall_flags(
    walls: list[float],
    cpus: list[float],
    anchors: list[float],
    cores: int,
) -> list[bool]:
    """``anchors`` has one more entry than ``walls``: the anchor before
    sample ``i`` is ``anchors[i]`` and the one after it ``anchors[i+1]``.
    ``cpus`` are the samples' CPU seconds over ``cores`` cores."""
    if len(anchors) != len(walls) + 1 or len(cpus) != len(walls):
        raise ValueError("need one anchor before and after every sample")
    floor = min(anchors)
    return [
        max(anchors[i], anchors[i + 1]) > STALL_ANCHOR_RATIO * floor
        or cpus[i] / walls[i] < STALL_BUSY_SHARE * cores
        for i in range(len(walls))
    ]
