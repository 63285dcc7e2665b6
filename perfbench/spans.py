"""Spans around the package's public functions, recorded from outside.

``Tracer.instrument`` replaces each target function or method with a
wrapper that opens a span; no module of the package changes.  A
module-level function is replaced everywhere it was bound by
``from module import name`` too.  Spans are held in memory and written
out at exit.

A span opened on a worker thread (``build_checkpointed`` compiles the
hubs of one level on a thread pool) takes as parent the span the main
thread has open at that moment.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time

# span name -> (module, attribute path).  Names are ``layer.function``.
TARGETS = {
    "session.get_spark": ("dataforge_core_spark.session", "get_spark"),
    "loader.load_project": ("dataforge_core_spark.loader", "load_project"),
    "parser.parse_expression": (
        "dataforge_core_spark.parser", "parse_expression"),
    "paths.graph": ("dataforge_core_spark.paths", "RelationGraph.__init__"),
    "paths.resolve": ("dataforge_core_spark.paths", "RelationGraph.resolve"),
    "plans.plan_source": ("dataforge_core_spark.plans.planner", "plan_source"),
    "compiler.compile_source": (
        "dataforge_core_spark.compiler", "SourceCompiler.compile_source"),
    "compiler.compile_output": (
        "dataforge_core_spark.compiler", "SourceCompiler.compile_output"),
    "compiler.incremental_upsert": (
        "dataforge_core_spark.compiler", "SourceCompiler.incremental_upsert"),
    "runner.build": ("dataforge_core_spark.runner", "ProjectRunner.build"),
    "runner.build_checkpointed": (
        "dataforge_core_spark.runner", "ProjectRunner.build_checkpointed"),
    "runner.build_outputs": (
        "dataforge_core_spark.runner", "ProjectRunner.build_outputs"),
    "sources.read_source": (
        "dataforge_core_spark.sources.readers", "read_source"),
    "imports.import_project": (
        "dataforge_core_spark.imports", "import_project"),
    "imports.to_project": ("dataforge_core_spark.imports", "MetaStore.to_project"),
    "probe.validate_project": (
        "dataforge_core_spark.probe", "validate_project"),
    "probe.run_probe": ("dataforge_core_spark.probe", "run_probe"),
    "sql_emitter.emit_all": (
        "dataforge_core_spark.sql_emitter", "SqlEmitter.emit_all"),
    "backends.execute": (
        "dataforge_core_spark.backends", "SparkWarehouse.execute"),
}


class Tracer:
    """Collects spans ``{name, start, end, parent, iter}``; ``parent``
    is an index into ``spans`` or None.  A disabled tracer records
    nothing and ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "iter": self.iteration}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        """Wrap every ``TARGETS`` entry (no-op when disabled)."""
        if not self.enabled:
            return
        for name, (mod_name, path) in TARGETS.items():
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)
            traced = self.wrap(name, orig)
            setattr(owner, attr, traced)
            if outer:
                continue  # a method: every caller looks it up on the class
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(
                    "dataforge_core_spark"
                ):
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval its child
    spans cover; overlapping children (threads) count once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(hi - lo - covered)
    return out


def totals(spans: list[dict], iteration: str | None = None) -> dict:
    """``{name: (inclusive seconds, self seconds, calls)}`` over the
    spans of one iteration (all spans when ``iteration`` is None).  A
    span nested in a span of the same name adds no inclusive time, so
    recursion is not counted twice."""
    selfs = self_times(spans)
    out: dict[str, list] = {}
    for i, s in enumerate(spans):
        if iteration is not None and s["iter"] != iteration:
            continue
        t = out.setdefault(s["name"], [0.0, 0.0, 0])
        t[1] += selfs[i]
        t[2] += 1
        p = s["parent"]
        while p is not None and spans[p]["name"] != s["name"]:
            p = spans[p]["parent"]
        if p is None:
            t[0] += s["end"] - s["start"]
    return {k: tuple(v) for k, v in out.items()}
