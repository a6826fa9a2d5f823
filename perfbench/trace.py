"""In-memory span recorder that wraps the program's public functions from
outside.

A span is (name, start, end, parent) with wall-clock epoch seconds, so
Spark event-log timestamps (epoch milliseconds) line up with it.  The
benchmark loop has one client, so spans never overlap except by nesting;
one stack is shared by all threads because Structured Streaming runs the
foreachBatch body on a py4j callback thread while the main thread waits in
processAllAvailable(), and that body must nest under the main thread's
span.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans only while `enabled`; wrappers stay installed and
    cost one attribute check when it is off."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._restore: list = []

    def open(self, name: str, **attrs) -> Span:
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), name, time.time(), parent, attrs=attrs)
            self.spans.append(s)
            self._stack.append(s)
            return s

    def close(self, s: Span) -> None:
        with self._lock:
            s.end = time.time()
            self._stack.remove(s)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def wrapped(self, fn, name: str, after=None):
        """`fn` recording a span `name` per call while enabled.  `after`
        (span, result, args, kwargs) may add attributes once the call has
        returned; it runs outside the span's timed interval."""
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(s)
            if after is not None:
                after(s, result, args, kwargs)
            return result
        return call

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr` (a module, class or dict entry) to `new` until
        `unpatch_all`."""
        if isinstance(owner, dict):
            old = owner[attr]
            owner[attr] = new
            self._restore.append(lambda: owner.__setitem__(attr, old))
        else:
            old = owner.__dict__[attr]
            setattr(owner, attr, new)
            self._restore.append(lambda: setattr(owner, attr, old))

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap `owner.attr` so each call records a span `name`."""
        fn = owner[attr] if isinstance(owner, dict) else owner.__dict__[attr]
        self.replace(owner, attr, self.wrapped(fn, name, after))

    def unpatch_all(self) -> None:
        while self._restore:
            self._restore.pop()()

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, **({"attrs": s.attrs} if s.attrs else {})}
                for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    direct children (children may not overlap one another, but the union
    is taken anyway so a malformed trace cannot go negative)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out

