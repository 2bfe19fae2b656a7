"""Spans recorded from outside the package, around calls into its layers.

A :class:`Tracer` keeps every span in memory; the benchmark writes them out
once when the run ends. Wrappers are installed by replacing module or class
attributes (:meth:`Tracer.patch`), so no package code changes; an inactive
tracer makes each wrapper a plain pass-through.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None  # op id (negative for warm-up ops); None outside ops

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, fn, name: str, prefix: str) -> None:
        """Trace ``fn`` wherever a module under ``prefix`` binds it."""
        self._undo += rebind(fn, self.wrap(fn, name), prefix)

    def patch_method(self, cls: type, attr: str, name: str) -> None:
        fn = vars(cls)[attr]
        self._undo.append((cls, attr, fn))
        setattr(cls, attr, self.wrap(fn, name))

    def unpatch(self) -> None:
        restore(self._undo)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def rebind(fn, replacement, prefix: str) -> list[tuple[object, str, object]]:
    """Replace ``fn`` wherever a loaded module under ``prefix`` binds it (its
    defining module and every ``from x import fn`` site), so calls are seen
    however the caller looks it up. Returns what :func:`restore` undoes."""
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                undo.append((mod, attr, val))
                setattr(mod, attr, replacement)
    return undo


def restore(undo: list[tuple[object, str, object]]) -> None:
    while undo:
        obj, attr, val = undo.pop()
        setattr(obj, attr, val)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children of one parent never overlap: the driver is single-threaded)."""
    out = [s.duration for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


def coverage(spans: list[Span], root: int) -> float:
    """Share of span ``root``'s wall time covered by its direct children."""
    total = spans[root].duration
    covered = sum(s.duration for s in spans if s.parent == root)
    return covered / total if total > 0 else 1.0
