"""In-memory spans around calls into the library's modules.

The benchmark traces the program from outside: :meth:`Tracer.instrument`
replaces each public function of a module with a wrapper that records a
span (name, layer, start, end, parent, query id) and then calls the
original. Spans stay in memory and are written out when the run ends.

A span's *self time* is its duration minus the part of its interval that
its child spans cover; :func:`self_times` computes it and
:func:`rollup` sums spans per layer and per function.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from types import ModuleType


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<function>", e.g. "operators.util.fan_out"
    layer: str  # module path below the package, e.g. "operators.util"
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals.

    Children may overlap each other (spans opened on other threads), so
    the union is taken rather than a plain sum."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.dur - covered(children[s.id], s.start, s.end) for s in spans}


def rollup(spans: list[Span]) -> dict[str, dict]:
    """Per layer and per function: ``calls``, inclusive ``s``, ``self_s``,
    ``changed`` (calls whose result was not their first argument) and
    ``returned`` (the sum of integer results, e.g. frames released)."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(
        lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "changed": 0, "returned": 0}
    )
    for s in spans:
        for key in (s.layer, s.name):
            r = out[key]
            r["calls"] += 1
            r["s"] += s.dur
            r["self_s"] += selfs[s.id]
            r["changed"] += int(bool(s.attrs.get("changed")))
            ret = s.attrs.get("returned")
            if isinstance(ret, int) and not isinstance(ret, bool):
                r["returned"] += ret
    return dict(out)


class Tracer:
    """Records spans; one per benchmark run. ``enabled`` switches the
    wrappers to plain pass-through so one session can time a pass with
    and without tracing."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = True
        self.query: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> Span:
        st = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, layer, self.clock(),
                        parent=st[-1] if st else None, query=self.query)
            self.spans.append(span)
        st.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        st = self._stack()
        if st and st[-1] == span.id:
            st.pop()

    @contextlib.contextmanager
    def region(self, name: str, layer: str):
        """A span opened by the benchmark itself around one of its steps."""
        if not self.enabled:
            yield None
            return
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, layer: str, fn: Callable) -> Callable:
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if args:
                span.attrs["changed"] = result is not args[0]
            if isinstance(result, int):
                span.attrs["returned"] = result
            return result

        traced.__perfbench_original__ = fn
        return traced

    def instrument(self, modules: dict[str, ModuleType], package: str) -> int:
        """Wrap every public, non-generator function defined in each
        module, then rebind every reference to an original that modules
        of ``package`` already imported by name. Modules imported later
        bind the wrappers. Returns the number of functions wrapped."""
        swapped: dict[int, Callable] = {}
        for layer, mod in modules.items():
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(obj)
                    or hasattr(obj, "__perfbench_original__")
                ):
                    continue
                wrapped = self.wrap(layer, obj)
                setattr(mod, attr, wrapped)
                swapped[id(obj)] = wrapped
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = swapped.get(id(obj))
                if w is not None and w.__perfbench_original__ is obj:
                    setattr(mod, attr, w)
        return len(swapped)
