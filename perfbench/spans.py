"""In-memory span recorder and per-layer self-time arithmetic.

The traced run wraps the public entry points of each engine layer from
the benchmark's own files (see :func:`Tracer.wrap`); the engine is not
edited. Each call of a wrapped entry point while the tracer is active
records one span ``{id, name, start, end, parent, op_id, attrs}``; spans
stay in memory and are written out once, when the run ends.

A span's self time is its duration minus the part of its interval that
its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    attrs: dict = field(default_factory=dict)


def covered_length(intervals: Iterable[tuple[float, float]],
                   lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id → self time (seconds)."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered_length(children.get(s.id, ()), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans for wrapped callables while :attr:`active` is true.

    One op at a time (the benchmark has one client); the span stack is
    per thread, so a wrapped call made from a helper thread records a
    span without a parent but with the current op id.
    """

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.active = False
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def start(self, name: str) -> Span:
        stack = self._stack()
        s = Span(self._new_id(), name, self.clock(), 0.0,
                 stack[-1] if stack else None, self.op_id)
        stack.append(s.id)
        return s

    def finish(self, s: Span) -> None:
        s.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] == s.id:
            stack.pop()
        with self._lock:
            self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the block (no-op while inactive)."""
        if not self.active:
            yield None
            return
        s = self.start(name)
        try:
            yield s
        except BaseException as exc:
            s.attrs["error"] = type(exc).__name__
            raise
        finally:
            self.finish(s)

    def wrap(self, owner: object, attr: str, name: str,
             on_result: Callable[[dict, tuple, object], None] | None = None
             ) -> None:
        """Replace ``owner.attr`` (a function, method or classmethod) with a
        wrapper that records span ``name`` around each call.
        ``on_result(attrs, args, result)`` may add attributes to the span."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s.attrs, args, result)
                return result

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patched.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), separators=(",", ":")) + "\n")

