"""Spans around the engine's layer boundaries, recorded from outside.

`install(tracer)` replaces every public function and public method of
the layer modules below with a wrapper that records a span while the
tracer is active and calls straight through while it is not.  The
workload modules bind engine functions by name at import time
(`from dbt_lab_spark.operators.scan import scan`), so `install` must
run before any `dbt_lab_spark.workload*` module is imported; it also
rebinds the copies the engine modules took of each other's functions.

The wrappers keep the wrapped function's module and qualified name, so
cloudpickle still pickles a function shipped to a Python worker by
reference and the worker runs the original, untraced function.

Spans live in memory (`Tracer.spans`) until the run ends.  A layer's
self time is each span's duration minus the part of it its child spans
cover (`self_times`).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# layer -> modules (a package stands for all of its submodules)
LAYERS: dict[str, tuple[str, ...]] = {
    "catalog": ("dbt_lab_spark.catalog",),
    "parser": ("dbt_lab_spark.parser", "dbt_lab_spark.sql"),
    "operators": ("dbt_lab_spark.operators",),
    "functions": ("dbt_lab_spark.functions",),
    "llm": ("dbt_lab_spark.llm",),
    "snapshots": ("dbt_lab_spark.plans.snapshots",),
    "matview": ("dbt_lab_spark.plans.matview",),
    "streaming": ("dbt_lab_spark.streaming",),
}


@dataclass(frozen=True)
class Span:
    sid: int
    parent: int | None
    op: int | None
    layer: str
    name: str
    t0: float
    t1: float


class Tracer:
    """Span recorder.  Spans opened on one thread nest by a per-thread
    stack; a span opened on a thread with an empty stack (a streaming
    foreachBatch callback) is parented to the innermost open span of the
    thread running the current op."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self._op_stack: list[int] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield
            return
        st = self._stack()
        if st:
            parent = st[-1]
        else:  # another thread working for the op: child of the op's innermost span
            parent = self._op_stack[-1] if self._op_stack else None
        sid = next(self._ids)
        if layer == "op":
            self._op_stack = st
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, self.op, layer, name, t0, t1))


def _wrap(tracer: Tracer, fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(layer, name):
            return fn(*args, **kwargs)

    return traced


def _modules(name: str):
    mod = importlib.import_module(name)
    yield mod
    for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
        yield from _modules(f"{name}.{info.name}")


def install(tracer: Tracer) -> int:
    """Wrap the layer modules' public functions and methods; returns the
    number of wrapped callables."""
    loaded = [m for m in sys.modules if m.startswith("dbt_lab_spark.workload")]
    if loaded:
        raise RuntimeError(f"tracing installed after {loaded[0]} was imported")
    swapped: dict[int, tuple[object, object]] = {}
    n = 0
    for layer, roots in LAYERS.items():
        for root in roots:
            for mod in _modules(root):
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and obj.__name__ == attr:
                        w = _wrap(tracer, obj, layer, f"{mod.__name__}.{attr}")
                        setattr(mod, attr, w)
                        swapped[id(obj)] = (obj, w)
                        n += 1
                    elif inspect.isclass(obj):
                        n += _wrap_class(tracer, obj, layer)
    # `from x import f` copies held by other engine modules
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("dbt_lab_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            hit = swapped.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, attr, hit[1])
    return n


def _wrap_class(tracer: Tracer, cls: type, layer: str) -> int:
    n = 0
    for attr, obj in list(vars(cls).items()):
        if attr.startswith("_"):
            continue
        name = f"{cls.__module__}.{cls.__qualname__}.{attr}"
        if inspect.isfunction(obj) and obj.__name__ == attr:
            setattr(cls, attr, _wrap(tracer, obj, layer, name))
        elif isinstance(obj, (staticmethod, classmethod)):
            setattr(cls, attr, type(obj)(_wrap(tracer, obj.__func__, layer, name)))
        else:
            continue
        n += 1
    return n


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer spent in that layer's spans and not in a child span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.t0, s.t1))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += (s.t1 - s.t0) - _covered(s.t0, s.t1, children.get(s.sid, []))
    return dict(out)
