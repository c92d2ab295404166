"""Pure helpers of the benchmark: interval arithmetic, span self time and
failure accounting. Nothing here touches Spark, so the tests run without a
session."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals.
    Overlapping intervals count once, so concurrent jobs are not double
    counted."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to ``[lo, hi]``; those wholly outside are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(start: float, end: float, jobs: list[tuple[float, float]]) -> float:
    """Wall time of ``[start, end]`` during which no Spark job ran: the wall
    minus the union of the job intervals inside it. Never negative."""
    return (end - start) - union_length(clip(jobs, start, end))


@dataclass
class Span:
    """One timed interval. ``parent`` is the id of the span that caused it
    (None for a pass); every span of one pass shares ``pass_id``."""

    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def layer_self_times(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Self time per layer, per pass: ``{pass_id: {layer: seconds}}``.

    Each instant of a pass goes to the deepest span covering it, so a
    span's self time is the part of it no child covers, and overlapping
    siblings (concurrent Spark jobs) count once. The layers of a pass
    therefore add up to the pass span's duration."""
    by_id = {s.id: s for s in spans}

    def depth(s: Span) -> int:
        d = 0
        while s.parent is not None:
            s, d = by_id[s.parent], d + 1
        return d

    out: dict[int, dict[str, float]] = {}
    for pass_id in sorted({s.pass_id for s in spans}):
        mine = [(depth(s), s) for s in spans if s.pass_id == pass_id]
        cuts = sorted({t for _, s in mine for t in (s.start, s.end)})
        per = out.setdefault(pass_id, {})
        for a, b in zip(cuts, cuts[1:]):
            cover = [(d, s) for d, s in mine if s.start <= a and s.end >= b]
            if cover:
                layer = max(cover, key=lambda c: c[0])[1].layer
                per[layer] = per.get(layer, 0.0) + (b - a)
    return out


def innermost(spans: list[Span], start: float, end: float) -> Span | None:
    """The shortest span that contains the midpoint of ``[start, end]``:
    the parent a Spark job gets when only its times are known."""
    mid = (start + end) / 2
    best = None
    for s in spans:
        if s.start <= mid <= s.end and (best is None or s.seconds < best.seconds):
            best = s
    return best


@dataclass
class Accounting:
    """Failure accounting over the timed passes.

    An operation is one query execution or one flow pass. A pass with any
    failed operation adds no wall sample, so a later fix of a failing stage
    reads as a gain and never as a slowdown against "time to fail"."""

    attempted: int = 0
    failed: int = 0
    failures: list[dict] = field(default_factory=list)
    walls: list[float] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)

    def record(
        self,
        pass_id: int,
        ops: int,
        wall: float,
        failures: list[tuple[str, str]],
        samples: dict[str, float] | None = None,
    ) -> bool:
        """Account one pass of ``ops`` operations; ``failures`` lists
        ``(stage or query, exception class)`` per failed operation, with
        ``WrongResult`` for an output that failed its check. Returns whether
        the pass succeeded."""
        if len(failures) > ops:
            raise ValueError(f"{len(failures)} failures in a pass of {ops} operations")
        self.attempted += ops
        self.failed += len(failures)
        self.failures.extend({"pass": pass_id, "stage": st, "error": err} for st, err in failures)
        if failures:
            return False
        self.walls.append(wall)
        for k, v in (samples or {}).items():
            self.samples.setdefault(k, []).append(v)
        return True

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None
