"""In-memory span recorder for the traced benchmark run.

Spans are recorded only from the benchmark's own files: around each
call the benchmark makes into a layer of ``iceberg_catalog_bench_spark``
and, for calls a query builder makes internally, through wrappers the
benchmark installs on module functions in its own process. Each span
has a name, a layer, start and end times, its parent, and the id of
the operation it belongs to. Nothing is written until the run ends.

The recorder is single-threaded: the benchmark is one closed-loop
client, so the open spans form a stack.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Iterator


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool, clock: Callable[[], float] = time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextmanager
    def span(self, name: str, layer: str, new_op: bool = False) -> Iterator[None]:
        """Record one span; ``new_op`` starts a new operation id that
        every span nested inside it shares."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if new_op:
            op = self._next_op
            self._next_op += 1
        else:
            op = parent.op if parent else None
        s = Span(len(self.spans), name, layer, self.clock(), 0.0,
                 parent.span_id if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = self.clock()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
    return out


def patch_module_functions(tracer: Tracer, package: str, original: Callable,
                           name: str, layer: str) -> Callable[[], None]:
    """Replace every module-level reference to ``original`` inside the
    already-imported modules of ``package`` with a traced wrapper, so
    calls a query builder makes through its own ``from x import f``
    binding are recorded too. Returns a function that undoes it."""
    wrapped = tracer.wrap(original, name, layer)
    patched: list[tuple[Any, str]] = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapped)
                patched.append((mod, attr))

    def restore() -> None:
        for mod, attr in patched:
            setattr(mod, attr, original)

    return restore
