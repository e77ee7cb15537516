"""In-memory span tracer for the benchmark's traced run.

A span records name, start, end and parent. Spans stay in memory and are
written out once, at the end of the run. A span's self time is its
duration minus the part of its interval that its child spans cover.

While a span is open, its path is set as the Spark job description
(`setJobDescription`), so every Spark job the span launches can be
matched to it in the event log.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Collects spans; `sc` (a SparkContext) is optional and only used to
    tag Spark jobs with the open span's path."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def path(self, sid: int) -> str:
        names = []
        cur: int | None = sid
        while cur is not None:
            names.append(self.spans[cur].name)
            cur = self.spans[cur].parent
        return "/".join(reversed(names))

    def _describe(self) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                "perfbench:" + self.path(self._stack[-1]) if self._stack else None
            )

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.clock())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self._describe()
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self._describe()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        sp = self.spans[sid]
        end = sp.end if sp.end is not None else sp.start
        kids = [(c.start, c.end if c.end is not None else end) for c in self.children(sid)]
        return sp.duration - _covered(kids, sp.start, end)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        """Summed duration of every span called `name` (outermost only)."""
        return sum(s.duration for s in self.find(name)
                   if not self._has_ancestor_named(s, name))

    def total_self(self, name: str) -> float:
        return sum(self.self_time(s.sid) for s in self.find(name))

    def _has_ancestor_named(self, sp: Span, name: str) -> bool:
        cur = sp.parent
        while cur is not None:
            if self.spans[cur].name == name:
                return True
            cur = self.spans[cur].parent
        return False

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace `module.attr` by a function that runs the original
        inside a span called `name`. Undo with `restore`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        traced.__perfbench_orig__ = (module, attr, orig)
        setattr(module, attr, traced)

    @staticmethod
    def restore(module, attr: str) -> None:
        fn = getattr(module, attr)
        orig = getattr(fn, "__perfbench_orig__", None)
        if orig is not None:
            setattr(module, attr, orig[2])

    def to_records(self, wall_s: float | None = None) -> list[dict]:
        out = []
        for s in self.spans:
            rec = {
                "id": s.sid,
                "name": s.name,
                "path": self.path(s.sid),
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "duration_s": s.duration,
                "self_s": self.self_time(s.sid),
            }
            if wall_s:
                rec["self_share_of_wall"] = rec["self_s"] / wall_s
            out.append(rec)
        return out

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.to_records(extra.get("wall_s")), **extra}, f, indent=1)
