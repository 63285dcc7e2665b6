"""The one registry of stored indexes: relations an operator builds once
per (session, arguments) and every later query reads.

``@stored(name)`` wraps a build function ``fn(spark, sf_dir, ...)``.  The
first call builds and keeps the result; later calls with the same
session and the same bound arguments (defaults applied, so ``f(s, d)``
and ``f(s, d, cap=DEFAULT)`` share one entry) return the kept value.

Concurrency: each key has its own lock, taken double-checked, so two
threads asking for one index build it once and both get the identical
object.  A build that needs another index simply calls it and waits if
another thread is building that one.  Builds call each other along a
DAG, so the thread holding a lock is always running, never waiting on
its waiter: a thread pool of any width cannot deadlock on the store.

Every registered function is callable as ``fn(spark, sf_dir)``; that is
what lets a benchmark build every stored index without a hand-kept list
(``registered()``), and ``clear_all(spark)`` drop them all and free
their checkpoint blocks without per-index unpacking."""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.session import free_local_checkpoint, session_key

_registry: dict[str, Callable] = {}
_values: dict[tuple, object] = {}
_locks: dict[tuple, threading.Lock] = {}
_guard = threading.Lock()  # held only to look up / create a key's lock
_MISSING = object()


def stored(name: str) -> Callable[[Callable], Callable]:
    """Register ``fn`` under ``name`` and keep its result per key."""

    def deco(fn: Callable) -> Callable:
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, *args, **kwargs):
            bound = sig.bind(spark, *args, **kwargs)
            bound.apply_defaults()
            rest = list(bound.arguments.values())[1:]
            key = (name, session_key(spark), *rest)
            value = _values.get(key, _MISSING)
            if value is not _MISSING:
                return value
            with _guard:
                lock = _locks.setdefault(key, threading.Lock())
            with lock:
                value = _values.get(key, _MISSING)
                if value is _MISSING:
                    value = _values[key] = fn(*bound.args, **bound.kwargs)
                return value

        if name in _registry:
            raise ValueError(f"stored index {name!r} registered twice")
        _registry[name] = wrapper
        return wrapper

    return deco


def registered() -> dict[str, Callable]:
    """name -> stored function, in registration order, for every module
    of the operators package (imported here so the map is complete) and
    any other module already imported that registers one."""
    from dataforge_core_spark import operators

    for m in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{m.name}")
    return dict(_registry)


def _frames(value):
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _frames(v)


def clear_all(spark: SparkSession) -> None:
    """Forget every stored value and free what it held: checkpoint
    blocks of each frame stored for this session's application
    (including frames inside tuples, lists and dicts), then the
    CacheManager entries of persisted ones.  Values of another
    application belong to a stopped context and are just dropped."""
    app = session_key(spark)
    with _guard:
        held = [v for k, v in _values.items() if k[1] == app]
        _values.clear()
    for value in held:
        for df in _frames(value):
            free_local_checkpoint(df)
    spark.catalog.clearCache()
