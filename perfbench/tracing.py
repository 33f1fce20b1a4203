"""In-memory spans around the engine's public entry points.

The traced run patches a handful of public names for its own lifetime and
records one span per call: name, start, end, parent span and a trace id (the
micro-batch id for the tail path, the cursor position for the feed path).
Spans stay in memory and are written once, when the run ends.  Nothing here
is imported by the engine; the patches are undone by ``Tracer.uninstall``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str | None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: Any = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None and parent is not None:
            trace_id = parent.trace_id
        s = Span(
            span_id=next(self._ids),
            name=name,
            start=time.time(),
            end=0.0,
            parent=parent.span_id if parent else None,
            trace_id=None if trace_id is None else str(trace_id),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        trace_arg: str | None = None,
        summarize: Callable[[Any], dict] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``uninstall``.
        ``trace_arg`` names the keyword argument that carries the trace id;
        ``summarize`` turns the call's return value into span attributes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            tid = kwargs.get(trace_arg) if trace_arg else None
            with tracer.span(name, tid) as s:
                out = original(*args, **kwargs)
                if summarize is not None:
                    s.attrs.update(summarize(out))
                return out

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def write(self, path: str) -> None:
        with self._lock:
            spans = [asdict(s) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_time_s": self_times(self.spans)}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def span_self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it that its child spans cover."""
    return span.duration - _covered([(c.start, c.end) for c in children], span.start, span.end)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + span_self_time(s, kids.get(s.span_id, []))
    return out
