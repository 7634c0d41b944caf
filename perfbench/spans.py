"""In-memory span tracing around the engine's public functions.

:func:`install` wraps, from outside the package, every public function of
the traced modules (``graph.algorithms``, ``graph.builder``, each
``operators.*`` module, ``pipeline.graph_queries``), the pin methods of
:class:`pyspark.sql.DataFrame` and the membership/insert methods of
``session.SessionMemo``.  It must run before ``cyber_etl_spark.plans`` is
imported, so that the plan modules bind the wrappers; bindings made
earlier by other package modules are re-pointed at the wrappers too.

A span is ``(name, start, end, parent, query)``.  Spans stay in memory
until the run writes them out.  While the tracer is inactive a wrapper
only tests a flag and calls through, so untraced passes in the same
process run the engine unchanged.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# module -> layer prefix of its spans
TRACED_MODULES = {
    "cyber_etl_spark.graph.algorithms": "graph",
    "cyber_etl_spark.graph.builder": "graph",
    "cyber_etl_spark.pipeline.graph_queries": "pipeline",
}
PIN_METHODS = ("localCheckpoint", "checkpoint", "cache")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    query: str = ""


@dataclass
class MemoBuild:
    """One miss-to-insert interval of a ``SessionMemo`` key."""

    label: str
    start: float
    end: float
    query: str


@dataclass
class Tracer:
    active: bool = False
    query: str = ""
    spans: list[Span] = field(default_factory=list)
    builds: list[MemoBuild] = field(default_factory=list)
    memo_lookups: int = 0
    memo_hits: int = 0
    _local: threading.local = field(default_factory=threading.local)
    _misses: dict = field(default_factory=dict)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        self.spans.append(
            Span(name, time.perf_counter(), parent=st[-1] if st else -1, query=self.query)
        )
        st.append(len(self.spans) - 1)
        return st[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    # -- SessionMemo hooks -------------------------------------------------
    def memo_probe(self, memo, key, hit: bool) -> None:
        if not self.active:
            return
        self.memo_lookups += 1
        self.memo_hits += hit
        if not hit:
            self._misses[(id(memo), key)] = time.perf_counter()

    def memo_insert(self, memo, key) -> None:
        t0 = self._misses.pop((id(memo), key), None) if self.active else None
        if t0 is not None:
            label = ":".join(os.path.basename(str(k)) for k in key[1:])
            self.builds.append(MemoBuild(label, t0, time.perf_counter(), self.query))


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def _public_functions(mod):
    for attr, obj in list(vars(mod).items()):
        if not attr.startswith("_") and inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            yield attr, obj


def install(tracer: Tracer) -> None:
    """Wrap the traced layers; call before importing ``cyber_etl_spark.plans``."""
    if "cyber_etl_spark.plans" in sys.modules:
        raise RuntimeError("spans.install must run before cyber_etl_spark.plans is imported")
    import cyber_etl_spark.operators as ops
    from cyber_etl_spark.session import SessionMemo
    from pyspark.sql import DataFrame

    modules = dict(TRACED_MODULES)
    for info in pkgutil.iter_modules(ops.__path__):
        modules[f"{ops.__name__}.{info.name}"] = f"operators.{info.name}"

    originals: dict[int, object] = {}
    for modname, prefix in modules.items():
        mod = importlib.import_module(modname)
        for attr, fn in _public_functions(mod):
            span = f"{prefix}.{attr}"
            wrapped = _wrap(tracer, span, fn)
            setattr(mod, attr, wrapped)
            originals[id(fn)] = wrapped
    # `from x import f` bindings made while the modules above were imported
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("cyber_etl_spark") and mod is not None:
            for attr, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and wrapped is not obj:
                    setattr(mod, attr, wrapped)

    import pyspark.sql.classic.dataframe  # noqa: F401  the concrete DataFrame class

    for cls in (DataFrame, *DataFrame.__subclasses__()):
        for meth in PIN_METHODS:
            if meth in vars(cls):
                setattr(cls, meth, _wrap(tracer, "pin", vars(cls)[meth]))

    contains, setitem = SessionMemo.__contains__, SessionMemo.__setitem__

    def memo_contains(self, key):
        hit = contains(self, key)
        tracer.memo_probe(self, key, hit)
        return hit

    def memo_setitem(self, key, value):
        setitem(self, key, value)
        tracer.memo_insert(self, key)

    SessionMemo.__contains__ = memo_contains
    SessionMemo.__setitem__ = memo_setitem


# -- analysis ------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, ())) for i, s in enumerate(spans)
    ]


def build_times(builds: list[MemoBuild]) -> tuple[float, float]:
    """(exclusive, inclusive) seconds of memo builds.  A build nested in
    another build's miss-to-insert window (the ``w`` backbone building the
    ``weighted`` edges) counts once in the exclusive sum."""
    inclusive = sum(b.end - b.start for b in builds)
    exclusive = 0.0
    for b in builds:
        inner = [
            (c.start, c.end)
            for c in builds
            if c is not b and b.start <= c.start and c.end <= b.end
        ]
        exclusive += (b.end - b.start) - union_length(inner)
    return exclusive, inclusive
