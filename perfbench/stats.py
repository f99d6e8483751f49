"""Geometric means and the span tracer, free of Spark imports so the
benchmark's tests can exercise them alone."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def type_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over job types of each type's median, so every
    type carries equal weight however often it ran (TPC-H power
    style)."""
    return geomean([statistics.median(v) for v in samples.values() if v])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: int | None
    sid: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans.  ``span`` is a context manager; a span opened
    inside another becomes its child.  Disabled, it records nothing."""

    def __init__(self, enabled: bool, clock=time.perf_counter) -> None:
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.job: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, self.clock(), math.nan,
                 self._open[-1] if self._open else None, self.job,
                 len(self.spans), attrs)
        self.spans.append(s)
        self._open.append(s.sid)
        try:
            yield s
        finally:
            self._open.pop()
            s.end = self.clock()

    def self_times(self) -> dict[int, float]:
        """Per span: its duration minus the part of its interval that
        its children cover (the union of their intervals, clipped to
        the span)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, lo, hi = 0.0, None, None
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                c_lo, c_hi = max(c.start, s.start), min(c.end, s.end)
                if c_hi <= c_lo:
                    continue
                if hi is None or c_lo > hi:
                    if hi is not None:
                        covered += hi - lo
                    lo, hi = c_lo, c_hi
                else:
                    hi = max(hi, c_hi)
            if hi is not None:
                covered += hi - lo
            out[s.sid] = s.dur - covered
        return out

    def to_records(self) -> list[dict]:
        selft = self.self_times()
        return [{"id": s.sid, "name": s.name, "start": s.start,
                 "end": s.end, "parent": s.parent, "job": s.job,
                 "self_s": selft[s.sid], **s.attrs} for s in self.spans]
