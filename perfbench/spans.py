"""Span tracer for the traced benchmark run.

Wraps the public functions of each measured layer of the package from
outside it: every package module that binds a wrapped function gets the
wrapper, so a name imported with ``from ... import`` (``load_table`` in
the query modules) and a module global looked up at call time
(``parse_mdx`` inside ``mdx_query``) are both traced. A span records its
layer, function, start, end, parent and the face it belongs to; a layer's
self time is its span minus the spans of its direct children.

The wrappers keep the wrapped function's ``__module__`` and
``__qualname__`` and are installed under the same name, so a wrapped
function shipped to a Python worker is pickled by reference and the
worker runs the original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "datawarehousefinal_spark"

# Measured layer -> the modules whose public functions it owns. Faces
# themselves (the query modules) are timed by the runner as spans of
# layer "queries"; execution of a face's plan is layer "engine".
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "mdx": ("operators.mdx",),
    **{
        f"operators.{m}": (f"operators.{m}",)
        for m in (
            "dedup", "similarity", "curation", "olap", "aggnav",
            "surrogate", "scd", "star", "dataset",
        )
    },
    "ml": ("ml.pipelines",),
    "sources.load_table": ("sources.testdata",),
    "sources.read": ("sources.readers", "sources.bucketing"),
    "sources.write": ("sources.writers", "sources.layout"),
}


@dataclass
class Span:
    layer: str
    name: str
    face: str
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Tracer:
    """Collects spans in memory while ``installed``; ``install`` and
    ``uninstall`` patch and restore the layer functions."""

    spans: list[Span] = field(default_factory=list)
    face: str = ""
    py4j_calls: int = 0
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    # -- spans ---------------------------------------------------------
    def begin(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, name, self.face, parent, time.perf_counter()))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        if self._stack.pop() != idx:
            raise RuntimeError(f"span {span.layer}.{span.name} closed out of order")
        if span.parent is not None:
            self.spans[span.parent].child_s += span.dur

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        import py4j.clientserver as cs

        pkg = importlib.import_module(PACKAGE)
        modules = [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")
        ]
        wrappers = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{PACKAGE}.{short}")
                for name, fn in vars(mod).items():
                    if (
                        inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__
                        and not name.startswith("_")
                    ):
                        wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
                    self._patched.append((mod, name, obj))

        send = cs.ClientServerConnection.send_command
        tracer = self

        @functools.wraps(send)
        def counting(conn, *args, **kwargs):
            tracer.py4j_calls += 1
            return send(conn, *args, **kwargs)

        cs.ClientServerConnection.send_command = counting
        self._patched.append((cs.ClientServerConnection, "send_command", send))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # -- summaries -----------------------------------------------------
    @property
    def open_spans(self) -> int:
        return len(self._stack)

    def unclosed(self) -> int:
        """Spans that never ended (``end`` still 0) or ended before they began."""
        return sum(1 for s in self.spans if s.end < s.start)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: ``calls`` and ``self_s``."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0}
        )
        for s in self.spans:
            out[s.layer]["calls"] += 1
            out[s.layer]["self_s"] += s.self_s
        return out

    def name_totals(self, layer: str, name: str) -> tuple[int, float]:
        """Calls and self time of one function of one layer."""
        hits = [s for s in self.spans if s.layer == layer and s.name == name]
        return len(hits), sum(s.self_s for s in hits)
