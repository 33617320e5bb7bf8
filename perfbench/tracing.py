"""In-memory spans recorded around the engine's public layer functions.

The benchmark wraps those functions at run time from its own files; the
engine itself carries no tracing. A span records its name, start, end and
the span that caused it. Spans opened on a pool thread whose own stack is
empty take as parent the most recently started span still open on another
thread: with one client in a closed loop that is the call that handed the
work to the pool.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            else:
                latest = max(self._open.values(), key=lambda s: s.start, default=None)
                parent = latest.id if latest else None
            sp = Span(next(self._ids), name, self.clock(), parent)
            self._open[sp.id] = sp
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self._open.pop(sp.id, None)

    def patch(self, owner: Any, attr: str, name: str,
              on_result: Callable[[Span, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` while the tracer is active; ``restore`` undoes it."""
        fn = getattr(owner, attr) if not isinstance(owner, type) else vars(owner)[attr]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            sp = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out
            except BaseException as exc:
                sp.attrs["error"] = type(exc).__name__
                raise
            finally:
                self.close(sp)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.
    Overlapping children (pool threads) are counted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.id, [])
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.id] = sp.dur - union_length(clipped)
    return out


def subtree(spans: list[Span], root_ids: set[int]) -> dict[int, int]:
    """Span id -> the id of its ancestor in ``root_ids`` (roots map to
    themselves); spans outside every root are left out."""
    by_id = {sp.id: sp for sp in spans}
    out: dict[int, int] = {}
    for sp in spans:
        cur: Span | None = sp
        while cur is not None and cur.id not in root_ids:
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        if cur is not None:
            out[sp.id] = cur.id
    return out
