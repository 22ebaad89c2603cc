"""Spans around calls into the program's modules, recorded from outside.

``Tracer.install`` replaces every public function of the traced modules
with a ``_Traced`` wrapper, in the defining module and in every
``big_data_bowl_spark`` namespace that imported it, and ``uninstall``
puts the originals back.  Spans stay in memory as
``(id, name, start, end, parent, exec_id)`` tuples, with epoch-second
times so they line up with the Spark event log, and are written out once
at the end of a run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager

PACKAGE = "big_data_bowl_spark"

# layer name -> module path; every public function of the module is traced
MODULE_LAYERS = [
    "operators.graph", "operators.separation", "operators.windows",
    "operators.joins", "operators.aggregates", "ml.clustering", "ml.lstm",
    "sources.io", "pipeline.dedup", "pipeline.similarity",
    "pipeline.multimodal", "pipeline.bpe", "sources.layout",
]
# layer name -> (module path, function): single functions traced alone
FUNCTION_LAYERS = {"schemas.arrow_fanout": ("schemas", "arrow_fanout")}
LAYERS = MODULE_LAYERS + list(FUNCTION_LAYERS)


class _Traced:
    """A callable stand-in for a traced function.  It keeps the original's
    signature (through ``__wrapped__``) for Spark's higher-order-function
    arity check, and pickles as the original so closures shipped to
    Python workers carry no tracer state."""

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.exec_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []  # (namespace, attr, original)
        # perf_counter for resolution, shifted onto the epoch clock
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)  # reserve the id; filled on exit
        self._stack.append(sid)
        t0 = self.now()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, self.now(), parent,
                               self.exec_id)

    def install(self) -> None:
        targets = []  # (layer, module, attr name, function)
        for layer in MODULE_LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for attr, fn in vars(mod).items():
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    targets.append((layer, mod, attr, fn))
        for layer, (path, attr) in FUNCTION_LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{path}")
            targets.append((layer, mod, attr, getattr(mod, attr)))
        wrapped = {id(fn): _Traced(self, layer, fn)
                   for layer, _, _, fn in targets}
        spaces = [m for name, m in list(sys.modules.items())
                  if m is not None and (name == PACKAGE
                                        or name.startswith(PACKAGE + "."))]
        for ns in spaces:
            for attr, val in list(vars(ns).items()):
                w = wrapped.get(id(val))
                if w is not None and w._fn is val:
                    setattr(ns, attr, w)
                    self._patched.append((ns, attr, val))

    def uninstall(self) -> None:
        for ns, attr, val in reversed(self._patched):
            setattr(ns, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "exec_id")
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(keys, s))) + "\n")


def self_times(spans: list[tuple]) -> dict[str, tuple[float, int]]:
    """Per span name: (self seconds, calls).  Self time is a span's
    duration minus the part of it its direct children cover."""
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[4] is not None:
            covered.setdefault(s[4], []).append((s[2], s[3]))
    out: dict[str, list] = {}
    for sid, name, t0, t1, _, _ in spans:
        acc = out.setdefault(name, [0.0, 0])
        acc[0] += (t1 - t0) - union_length(covered.get(sid, []), t0, t1)
        acc[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
