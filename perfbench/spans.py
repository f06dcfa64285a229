"""Spans recorded from outside the program.

The benchmark wraps the public functions of each layer (see
``layers.py``); the wrappers open a :class:`Span` here.  Spans are
kept in memory and written once, when the run ends.

A span records its name, start, end, parent, pass id and thread.  A
span opened on a thread with no open span of its own (a worker thread
of the release dashboard, say) takes the innermost span open on the
client thread as its parent, so work overlapped on other threads still
counts as the parent's children.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    """One call into a layer; ``start``/``end`` are epoch seconds, the
    clock Spark stamps its jobs with."""

    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    pass_id: int
    thread: str


class Recorder:
    """Holds every span of a run; inactive recorders record nothing."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.pass_id = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._client:
            return self._client_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        """Innermost open span of this thread, else of the client thread."""
        stack = self._stack()
        if stack:
            return stack[-1]
        return self._client_stack[-1] if self._client_stack else None

    def open(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self.current()
        span = Span(
            id=next(self._ids),
            name=name,
            start=time.time(),
            end=None,
            parent=parent.id if parent else None,
            pass_id=self.pass_id,
            thread=threading.current_thread().name,
        )
        self._stack().append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def dump(self, path: str) -> None:
        """Write every span, with its self time (``self_s``), as one list."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": selfs.get(s.id)} for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover.

    Children that overlap each other (on different threads) are counted
    once: the covered part is the union of their intervals, clipped to
    the parent.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start)
        - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
        if s.end is not None
    }
