"""Tests of the benchmark's own pieces; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen  # noqa: E402
import metrics  # noqa: E402
import wideproj  # noqa: E402
from spans import Tracer, self_times, totals  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def test_same_seed_same_data(tmp_path):
    for run in ("a", "b"):
        datagen.write_tpch(str(tmp_path / run), 7, 0.001)
        datagen.write_corpus(str(tmp_path / run), 7, 0.001)
        datagen.write_upsert_batch(
            str(tmp_path / run), str(tmp_path / run / "batch.parquet"),
            7, 1, 20,
        )
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert len(a) == len(datagen.TPCH_TABLES + datagen.CORPUS_TABLES) + 1
    assert a == b
    datagen.write_tpch(str(tmp_path / "c"), 8, 0.001)
    c = _digest(str(tmp_path / "c"))
    assert c["lineitem.parquet"] != a["lineitem.parquet"]


def test_same_seed_same_project(tmp_path):
    runs = [
        wideproj.generate(str(tmp_path / run), 3, 2) for run in ("a", "b")
    ]
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert runs[0].expected_types == runs[1].expected_types
    assert runs[0].n_rules == len(runs[0].expected_types)


def test_project_shape_follows_iteration_not_seed(tmp_path):
    a = wideproj.generate(str(tmp_path / "a"), 1, 5)
    b = wideproj.generate(str(tmp_path / "b"), 2, 5)
    assert a.expected_types == b.expected_types
    with open(os.path.join(a.project_dir, "relations.yaml")) as f:
        rel_a = f.read()
    with open(os.path.join(b.project_dir, "relations.yaml")) as f:
        assert f.read() == rel_a
    assert _digest(a.data_dir) != _digest(b.data_dir)


def test_generated_project_loads(tmp_path):
    from dataforge_core_spark import load_project

    wp = wideproj.generate(str(tmp_path), 1, 1, n_sources=8)
    project = load_project(wp.project_dir)
    assert len(project.sources) == 8
    assert len(project.outputs) == 3
    assert sum(len(s.rules) for s in project.sources) == wp.n_rules


def test_lane_draw_stable_and_covers_every_module():
    from workloads import LANE_POOL, draw_lanes

    assert draw_lanes(11) == draw_lanes(11)
    drawn = draw_lanes(0)
    assert {m for m, _ in drawn} == set(metrics.OPERATOR_MODULES)
    assert all(lane in LANE_POOL[m] for m, lane in drawn)


def test_lane_pool_names_real_lanes():
    import importlib

    from workloads import LANE_POOL

    for m, lanes in LANE_POOL.items():
        mod = importlib.import_module(f"dataforge_core_spark.operators.{m}")
        assert set(lanes) <= set(mod.queries()), m


def test_every_workload_fills_every_step_metric():
    from workloads import STEPS, WORKLOADS

    steps = [n for n, *_ in metrics.E2E if n.startswith("step")]
    assert set(STEPS) == set(WORKLOADS)
    assert all(len(s) == len(steps) for s in STEPS.values())


def test_steal_pct():
    import host

    hz = os.sysconf("SC_CLK_TCK")
    # user nice system idle iowait irq softirq steal
    t0 = [0] * 8
    t1 = [hz, 0, hz, 4 * hz, hz, 0, 0, 3 * hz]
    assert host.steal_pct(t0, t1) == pytest.approx(30.0)


def test_app_cpu_counts_this_process_and_no_jit_outside_a_jvm():
    import host

    before = host.app_cpu_seconds(None)
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert host.app_cpu_seconds(None) - before >= 0.2
    # this process has no JIT compiler threads to leave out
    assert host.jit_cpu_seconds(os.getpid()) == 0.0
    assert host.app_cpu_seconds(os.getpid()) == pytest.approx(
        2 * host.proc_cpu_seconds(), abs=0.05
    )


def _span(name, start, end, parent=None, it="i"):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "iter": it}


def test_self_time_subtracts_children_once():
    spans = [
        _span("a", 0.0, 10.0),
        _span("b", 1.0, 4.0, parent=0),
        _span("c", 3.0, 6.0, parent=0),  # overlaps b (another thread)
        _span("d", 8.0, 12.0, parent=0),  # runs past its parent's end
        _span("e", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 1, 3, 4, 1])


def test_totals_do_not_double_count_recursion():
    spans = [
        _span("f", 0.0, 5.0),
        _span("f", 1.0, 2.0, parent=0),
        _span("g", 6.0, 7.0, it="j"),
    ]
    tot = totals(spans, "i")
    assert tot["f"][0] == pytest.approx(5.0)
    assert tot["f"][1] == pytest.approx(5.0)  # 4 outer + 1 inner
    assert tot["f"][2] == 2
    assert "g" not in tot


def test_tracer_parents_and_disabled():
    t = Tracer(True)
    t.iteration = "i"
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_metric_names_and_benchmark_json():
    for name, *_ in metrics.E2E + metrics.LAYERS:
        assert metrics.NAME_RE.match(name), name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [
        n for n, *_ in metrics.E2E
    ]
    assert [m["name"] for m in spec["per_layer"]] == [
        n for n, *_ in metrics.LAYERS
    ]
    for m, (_, unit, better, bound) in zip(spec["end_to_end"], metrics.E2E):
        assert (m["unit"], m["better"], m["bound"]) == (unit, better, bound)
    for m, (_, unit, better, _) in zip(spec["per_layer"], metrics.LAYERS):
        assert (m["unit"], m["better"]) == (unit, better)
