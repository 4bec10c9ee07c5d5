"""In-memory spans, and wrappers that put spans around the program's layers.

A span has a name, a start, an end, a parent and a pass id. Parent stacks are
kept per thread; a thread whose stack is empty (a pool worker started inside a
query's construction) hangs its spans under the tracer's current ``root``.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# module -> layer; the public functions of each module are wrapped in spans
LAYER_MODULES = {
    "tscan_spark.corpus": "corpus",
    "tscan_spark.annotate": "annotate",
    "tscan_spark.lexicons": "lexicons",
    "tscan_spark.pipeline": "pipeline",
    "tscan_spark.pipeline_ext": "pipeline",
    "tscan_spark.pipeline_ratios": "pipeline",
    "tscan_spark.pipeline_sem": "pipeline",
    "tscan_spark.vocab_dim": "vocab_dim",
    "tscan_spark.operators.parse": "operators.parse",
    "tscan_spark.operators.ner": "operators.ner",
    "tscan_spark.operators.sequential": "operators.sequential",
    "tscan_spark.operators.dedup": "operators.dedup",
}
LAYERS = sorted(set(LAYER_MODULES.values()))


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.root: int | None = None
        self.pass_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            self._next += 1
            sid = self._next
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.pass_id))

    def to_dicts(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, reach), min(c.end, s.end)
            if b > a:
                covered += b - a
                reach = b
        out[s.id] = (s.end - s.start) - covered
    return out


class _Traced:
    """A public function of a layer module, called inside a span.

    Pickles as the module attribute it replaced, so a closure shipped to a
    Python worker resolves it to the plain function there.
    """

    def __init__(self, tracer: Tracer, layer: str, module, name: str, fn):
        self._tracer, self._layer, self._module, self._name, self._fn = tracer, layer, module, name, fn
        self.__wrapped__ = fn
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (pkgutil.resolve_name, (f"{self._module}:{self._name}",))


def wrap_layers(tracer: Tracer):
    """Replace every public function of the layer modules; return the undo."""
    replaced = []
    for module, layer in LAYER_MODULES.items():
        mod = importlib.import_module(module)
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module:
                continue
            setattr(mod, name, _Traced(tracer, layer, module, name, fn))
            replaced.append((mod, name, fn))

    def unwrap() -> None:
        for mod, name, fn in replaced:
            setattr(mod, name, fn)

    return unwrap
