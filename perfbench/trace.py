"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, the engine layer it enters, start and end times, a
parent and a trace id shared by every span of one pass or request. The
tree is workload -> pass/request -> op -> construct/execute/sink. Spans
stay in memory and are written out when the run ends.

While a span is open its id is the Spark job group, so every job the
span starts can be traced back to it through Spark's status store
(sparkstats.StageReader). A disabled tracer records nothing
and touches no Spark state: that is the untraced mode the end-to-end
numbers come from.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    trace: str
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context=None, enabled: bool = True):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, layer: str, new_trace: bool = False):
        """Open a span under the innermost open one. ``new_trace``
        starts a trace id (a pass or a request); otherwise the parent's
        trace id is inherited."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = f"span-{next(self._ids)}"
        trace = sid if new_trace or parent is None else parent.trace
        s = Span(sid, name, layer, parent.id if parent else None, trace, time.perf_counter())
        self._stack.append(s)
        self._set_group(sid, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                self._set_group(self._stack[-1].id, self._stack[-1].name)
            elif self.sc is not None:
                self.sc._jsc.clearJobGroup()

    def _set_group(self, sid: str, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(sid, name, False)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of its
    interval that its child spans cover, summed by layer."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - covered(kids.get(s.id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out
