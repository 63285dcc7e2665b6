"""The bench harness is round-critical (the driver records BENCH_r{N}
from its stdout): an index build that raises, or a clear that leaves
blocks behind, silently breaks the round's perf record.  This drives
bench's index phase end-to-end at sf0.001 — the same code path
bench.main() runs at sf0.1."""

from __future__ import annotations

import importlib
import os
import sys


def _bench(sf_dir: str):
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    import bench

    return importlib.reload(bench)


def test_index_phase_builds_every_stored_index_and_clears(spark, sf_dir):
    """bench's index phase builds every registered stored index (a build
    that raises would kill the round's bench), and clear_all then
    forgets every value and frees every block the builds persisted."""
    import __spark_entry__  # noqa: F401  (registers engine_hub_compile)
    from dataforge_core_spark.operators import _store

    bench = _bench(sf_dir)
    jsc = spark.sparkContext._jsc

    def persistent() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    _store.clear_all(spark)
    before = persistent()
    times, wall = bench._run_index_builds(spark)
    names = set(_store.registered())
    assert "engine_hub_compile" in names
    assert set(times) == names and wall > 0
    assert {k[0] for k in _store._values} >= names
    _store.clear_all(spark)
    assert not _store._values, "clear_all left stored values behind"
    leaked = persistent() - before
    assert not leaked, f"stored builds left persisted RDDs: {leaked}"


def test_host_speed_probe_positive():
    bench = _bench("/root/testdata/sf0.001")
    s = bench._host_speed()
    assert 0 < s < 60, s


def test_noisy_lanes_are_registered_queries():
    """Every NOISY_LANES name must exist in the registry — a renamed
    lane silently loses its 5-run treatment otherwise."""
    bench = _bench("/root/testdata/sf0.001")
    import __spark_entry__ as e

    missing = bench.NOISY_LANES - set(e.queries())
    assert not missing, missing


def test_steal_gauge_pure():
    """_steal_pct must compute the steal share of total ticks and fail
    closed (-1.0) on missing/degenerate samples — the gauge the r16
    stamps use to attribute uniform lane inflation to hypervisor
    throttling."""
    bench = _bench("/root/testdata/sf0.001")
    t0 = [0] * 10
    t1 = [10, 0, 0, 70, 0, 0, 0, 20, 0, 0]  # 20% of 100 ticks stolen
    assert bench._steal_pct(t0, t1) == 20.0
    # guest ticks (fields 8-9) are already inside user/nice: counting
    # them again would shrink the share to 20/130
    t1g = [10, 0, 0, 70, 0, 0, 0, 20, 30, 0]
    assert bench._steal_pct(t0, t1g) == 20.0
    assert bench._steal_pct([], t1) == -1.0
    assert bench._steal_pct(t0, t0) == -1.0
    ticks = bench._cpu_ticks()
    assert ticks == [] or len(ticks) >= 8
