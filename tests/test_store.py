"""The stored-index registry (operators/_store.py): one build per key
under concurrency, nested builds without deadlock, and no operator
module keeping a cache of its own beside it."""

from __future__ import annotations

import importlib
import pkgutil
import sys
import threading
import time

import pytest

from dataforge_core_spark.operators import _store


@pytest.fixture
def scratch_store():
    """Register test-only stored functions; unregister them after."""
    names: list[str] = []

    def register(name: str):
        names.append(name)
        return _store.stored(name)

    yield register
    for name in names:
        _store._registry.pop(name, None)
    for key in [k for k in _store._values if k[0] in names]:
        _store._values.pop(key, None)


def _run_threads(*targets, timeout: float = 60.0) -> None:
    threads = [threading.Thread(target=t, daemon=True) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    assert not any(t.is_alive() for t in threads), "stored build deadlocked"


def test_same_key_builds_once_across_threads(spark, sf_dir, scratch_store):
    """Two threads ask for one key at once: the build runs exactly once
    (it sleeps inside the critical section, so the second caller
    deterministically arrives mid-build) and both get the identical
    object — no double materialization or half-built temp view."""
    calls: list[int] = []
    barrier = threading.Barrier(2)

    @scratch_store("test_same_key")
    def build(spark, sf_dir, cap: int = 3):
        calls.append(cap)
        time.sleep(0.5)
        return object()

    got: list = [None, None]

    def caller(i: int, **kw):
        def run():
            barrier.wait()
            got[i] = build(spark, sf_dir, **kw)

        return run

    # defaults are bound into the key: f(s, d) and f(s, d, cap=3) share it
    _run_threads(caller(0), caller(1, cap=3))
    assert calls == [3]
    assert got[0] is not None and got[0] is got[1]
    assert build(spark, sf_dir, cap=4) is not got[0]
    assert calls == [3, 4]


def test_thread_stress_builds_each_key_once(spark, sf_dir, scratch_store):
    """16 threads (more than the cores) hammer 4 keys of one stored
    function under a tiny switch interval: each key is built exactly
    once and every caller of a key gets the identical object — a lost
    check-then-act race would build a key twice."""
    builds: dict[int, int] = {k: 0 for k in range(4)}
    count_lock = threading.Lock()

    @scratch_store("test_stress")
    def build(spark, sf_dir, k: int = 0):
        with count_lock:
            builds[k] += 1
        time.sleep(0.01)
        return object()

    got: dict[int, list] = {k: [] for k in range(4)}

    def worker(i: int):
        def run():
            for j in range(25):
                k = (i + j) % 4
                got[k].append(build(spark, sf_dir, k))

        return run

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _run_threads(*[worker(i) for i in range(16)])
    finally:
        sys.setswitchinterval(interval)
    assert builds == {k: 1 for k in range(4)}
    assert all(len({id(o) for o in objs}) == 1 for objs in got.values())


def test_nested_builds_do_not_deadlock(spark, sf_dir, scratch_store):
    """A's build calls B while another thread is already building B:
    A waits on B's lock, B finishes, both complete and share B."""
    b_started = threading.Event()
    b_calls: list[int] = []

    @scratch_store("test_nested_b")
    def build_b(spark, sf_dir):
        b_calls.append(1)
        b_started.set()
        time.sleep(0.5)
        return object()

    @scratch_store("test_nested_a")
    def build_a(spark, sf_dir):
        assert b_started.wait(30)
        return ("a", build_b(spark, sf_dir))

    got: dict = {}
    _run_threads(
        lambda: got.__setitem__("b", build_b(spark, sf_dir)),
        lambda: got.__setitem__("a", build_a(spark, sf_dir)),
    )
    assert b_calls == [1]
    assert got["a"][1] is got["b"]


def test_no_module_level_cache_dicts():
    """Every stored index goes through the registry: no operators
    module (enumerated from the package, so a new module is covered)
    and not the entry module keeps a ``*_cache`` dict of its own."""
    import __spark_entry__ as entry
    from dataforge_core_spark import operators

    mods = [
        importlib.import_module(f"{operators.__name__}.{m.name}")
        for m in pkgutil.iter_modules(operators.__path__)
    ]
    assert len(mods) >= 12, "operators package enumeration looks broken"
    leftovers = [
        f"{mod.__name__}.{name}"
        for mod in [*mods, entry]
        for name, val in vars(mod).items()
        if name.endswith("_cache") and isinstance(val, dict)
    ]
    assert not leftovers, leftovers
