"""In-memory span recorder for the traced run.

A span is ``(id, parent, op, layer, name, start, end)``. Spans are opened
by the benchmark around each op and phase, and — while
:func:`instrumented` is active — around every call into a public
function of the layer modules in :data:`LAYER_MODULES`, by swapping the
module attributes (and every other package module's imported reference
to them) for timing wrappers. Nothing in the program changes on disk and
nothing is wrapped outside a traced pass.

A layer's self time is the time its spans cover minus the part of that
time their child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict

PKG = "amazonredshift_blueprints_spark"

# layer name -> modules whose public functions belong to it
LAYER_MODULES = {
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "operators.text": ["operators.text"],
    "operators.graph": ["operators.graph"],
    "operators.ml": ["operators.ml"],
    "ingest": ["ingest"],
    "export": ["export"],
    "sqlrun": ["sqlrun"],
    "dml": ["dml"],
    "timetravel": ["timetravel"],
    "transactions": ["transactions"],
    "functions": [
        "functions.redshift_compat",
        "functions.copy_unload",
        "functions.dml_statements",
        "functions.system_tables",
    ],
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, str, str, float, float]] = []
        self._stack: list[int] = []
        self._open: dict[int, tuple] = {}
        self.op = ""

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sid = len(self.spans) + len(self._open)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        self._open[sid] = (parent, self.op, layer, name, start)
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            parent, op, layer, name, start = self._open.pop(sid)
            self.spans.append((sid, parent, op, layer, name, start, end))

    def self_times(self, start: int, end: int) -> dict[str, float]:
        """Σ self time per layer over the spans recorded in ``[start, end)``."""
        spans = self.spans[start:end]
        child_time: dict[int, float] = defaultdict(float)
        for _sid, parent, *_rest, start, end in spans:
            if parent is not None:
                child_time[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, _parent, _op, layer, _name, start, end in spans:
            out[layer] += (end - start) - child_time.get(sid, 0.0)
        return dict(out)

    def layer_time(self, layer: str, name: str, start: int, end: int) -> float:
        """Σ duration of the outermost ``layer`` spans of function ``name``
        recorded in ``[start, end)``, so recursive calls count once."""
        spans = self.spans[start:end]
        by_id = {s[0]: s for s in spans}
        total = 0.0
        for sid, parent, _op, lay, nm, t0, t1 in spans:
            if lay != layer or nm != name:
                continue
            p = by_id.get(parent)
            while p is not None and not (p[3] == layer and p[4] == name):
                p = by_id.get(p[1])
            if p is None:
                total += t1 - t0
        return total

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "op", "layer", "name", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _public_functions(module) -> dict[str, object]:
    return {
        name: fn
        for name, fn in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(fn)
        and fn.__module__ == module.__name__
    }


class _Traced:
    """Timing wrapper for one function. Pickles as the module attribute
    it replaced, so a wrapped function shipped to a Python worker (as a
    UDF) arrives there unwrapped."""

    def __init__(self, tracer: Tracer, layer: str, module, fn) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._module, self._fn = tracer, layer, module, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (self._module, self._fn.__name__)


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Wrap every public function of the layer modules for the duration."""
    wrappers: dict[int, _Traced] = {}  # keyed by id of the wrapped function
    for layer, mods in LAYER_MODULES.items():
        for mod_name in mods:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            for fn in _public_functions(module).values():
                wrappers[id(fn)] = _Traced(tracer, layer, module, fn)
    swapped: list[tuple[object, str, object]] = []
    for mod_name, module in list(sys.modules.items()):
        if module is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(module).items()):
            w = wrappers.get(id(value))
            if w is not None and w._fn is value:
                swapped.append((module, attr, value))
                setattr(module, attr, w)
    try:
        yield
    finally:
        for module, attr, value in swapped:
            setattr(module, attr, value)
