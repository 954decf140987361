"""In-memory spans around the benchmark's calls into each module.

A span is (name, start, end, parent).  Spans stay in memory and are
written out once, when the run ends.  Nothing inside the package under
test is edited: :func:`wrap_attr` swaps a module attribute or a class
method for a timing wrapper for the length of a traced run and puts the
original back afterwards.

Self time of a span is its duration minus the part of its interval that
its children cover (overlapping children count once).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        iv = [
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in kids.get(s.id, [])
        ]
        out[s.id] = s.duration - _covered([(lo, hi) for lo, hi in iv if hi > lo])
    return out


class Tracer:
    """Collects spans.  A span opened on a thread with no open span of
    its own (Spark calls ``foreachBatch`` functions on a callback
    thread) takes the innermost open span of the thread that created
    the tracer as its parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), None,
                     parent.id if parent else None, dict(attrs))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def durations(self, name: str, since: float = float("-inf")) -> list[float]:
        """Durations of the closed spans named ``name`` that started at
        or after ``since`` (a ``time.perf_counter()`` reading)."""
        return [
            s.duration
            for s in self.spans
            if s.name == name and s.end is not None and s.start >= since
        ]

    def totals(self, name: str, since: float = float("-inf")) -> tuple[int, float]:
        """(calls, summed duration) of those spans."""
        ds = self.durations(name, since)
        return len(ds), sum(ds)

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=own[s.id]) for s in self.spans], fh, indent=0
            )


@contextmanager
def wrap_attr(tracer: Tracer, owner, attr: str, span_name: str, attrs=None):
    """Replace ``owner.attr`` (module function or class method) by a
    wrapper that records a span per call; restore it on exit.  ``attrs``,
    if given, maps the call's arguments to the span's attributes."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def timed(*a, **kw):
        with tracer.span(span_name, **(attrs(*a, **kw) if attrs else {})):
            return orig(*a, **kw)

    setattr(owner, attr, timed)
    try:
        yield
    finally:
        setattr(owner, attr, orig)
