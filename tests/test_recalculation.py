"""Recalculation mode (W4): only keep_current rules + their dependency
closure are recomputed from an existing hub; the result equals a full
rebuild (u_enr_query_generate_elements.sql:62-75)."""

from __future__ import annotations


def test_recalculation_closure(spark, sf_dir):
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import load_project

    project = load_project("projects/tpch_demo")
    compiler = SourceCompiler(spark, project)
    orders = project.source_by_name()["tpch_orders"]
    # cust_order_rank is the only window (auto keep_current) rule; nothing
    # depends on it inside orders
    assert compiler.recalculation_closure(orders) == {"cust_order_rank"}


def test_recalculation_matches_full_rebuild(spark, sf_dir):
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner

    project = load_project("projects/tpch_demo")
    runner = ProjectRunner(spark, project, {"DATA_DIR": sf_dir})
    hubs = runner.build()
    orders = project.source_by_name()["tpch_orders"]
    full = hubs["tpch_orders"]

    # simulate a stale hub: corrupt the window column, then recalculate
    from pyspark.sql import functions as F

    stale = full.withColumn("cust_order_rank", F.lit(-1))
    recalced = runner.compiler.recalculate(orders, stale, hubs)

    assert sorted(recalced.columns) == sorted(full.columns)
    cols = sorted(full.columns)
    a = sorted([tuple(repr(r[c]) for c in cols) for r in full.collect()])
    b = sorted([tuple(repr(r[c]) for c in cols) for r in recalced.collect()])
    assert a == b


def test_recalculation_noop_without_keep_current(spark, sf_dir):
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner

    project = load_project("projects/tpch_demo")
    runner = ProjectRunner(spark, project, {"DATA_DIR": sf_dir})
    hubs = runner.build()
    region = project.source_by_name()["tpch_region"]
    assert runner.compiler.recalculation_closure(region) == set()
    out = runner.compiler.recalculate(region, hubs["tpch_region"], hubs)
    assert out is hubs["tpch_region"]


def test_window_partition_keys(spark):
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import load_project

    project = load_project("projects/tpch_demo")
    compiler = SourceCompiler(spark, project)
    by_name = project.source_by_name()
    assert compiler.window_partition_keys(by_name["tpch_orders"]) == [
        "o_custkey"
    ]
    # no keep_current rules -> not prunable
    assert compiler.window_partition_keys(by_name["tpch_region"]) is None


def test_partition_pruned_recalculation_matches_full(spark, sf_dir):
    """Pruned recompute over a subset of changed customers must agree
    with the full recalculation everywhere."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner

    project = load_project("projects/tpch_demo")
    runner = ProjectRunner(spark, project, {"DATA_DIR": sf_dir})
    hubs = runner.build()
    orders = project.source_by_name()["tpch_orders"]
    full = hubs["tpch_orders"]

    # stale ranks for a subset of customers ("their partitions changed")
    changed = full.select("o_custkey").distinct().limit(5)
    changed_keys = [r.o_custkey for r in changed.collect()]
    stale = full.withColumn(
        "cust_order_rank",
        F.when(
            F.col("o_custkey").isin(changed_keys), F.lit(-1)
        ).otherwise(F.col("cust_order_rank")),
    )

    pruned = runner.compiler.recalculate_pruned(
        orders, stale, hubs, changed
    )
    cols = sorted(full.columns)
    assert sorted(pruned.columns) == cols
    a = sorted([tuple(repr(r[c]) for c in cols) for r in full.collect()])
    b = sorted([tuple(repr(r[c]) for c in cols) for r in pruned.collect()])
    assert a == b


def test_partition_pruned_requires_common_keys(spark):
    import pytest

    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.model import Project, ProjectError

    src = parse_source_dict(
        {
            "source_name": "s",
            "source_table": "t",
            "target_table": "h",
            "raw_attributes": ["a long", "b long"],
            "rules": [
                {
                    "name": "r1",
                    "expression": "SUM([This].a) OVER (PARTITION BY [This].a)",
                },
                {
                    "name": "r2",
                    "expression": "SUM([This].a) OVER (PARTITION BY [This].b)",
                },
            ],
        }
    )
    project = Project(sources=[src], relations=[])
    compiler = SourceCompiler(spark, project)
    assert compiler.window_partition_keys(src) is None
    with pytest.raises(ProjectError, match="partition-pruned"):
        compiler.recalculate_pruned(src, None, {}, None)


def test_incremental_append_refreshes_uniqueness_flags(spark, tmp_path):
    """Appending a duplicate of an existing unique-rule value must flip
    the EXISTING row's _uv_flag too — uniqueness is whole-table
    semantics, so incremental_append re-derives every flag over the
    merged frame (the trap a naive append-only build falls into)."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    src = parse_source_dict(
        {
            "source_name": "u_src",
            "source_table": "u_src_view",
            "target_table": "hub_u_src",
            "raw_attributes": ["id long", "code string"],
            "rules": [
                {
                    "name": "code_up",
                    "expression": "upper([This].code)",
                    "unique": True,
                },
            ],
        }
    )
    compiler = SourceCompiler(spark, Project(sources=[src]))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, code string"
    )
    inc = spark.createDataFrame([(3, "a")], "id long, code string")
    existing = compiler.compile_source(src, base, {})
    flags = {
        r.id: r.code_up_uv_flag for r in existing.collect()
    }
    assert flags == {1: True, 2: True}
    updated = compiler.incremental_append(src, existing, inc, {})
    flags = {r.id: r.code_up_uv_flag for r in updated.collect()}
    # row 1's 'A' is no longer unique once row 3 arrives
    assert flags == {1: False, 2: True, 3: False}

    # and the merged result equals a full rebuild over (base u inc)
    full = compiler.compile_source(src, base.unionByName(inc), {})
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_append_null_partition_key(spark):
    """Spark windows put every NULL partition-key row in ONE group, so an
    appended NULL-key row must force recomputation of the existing
    NULL-key rows' window columns.  Plain ``=`` semi/anti pruning would
    leave them on the 'unchanged' side with stale values (ADVICE r5)."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    src = parse_source_dict(
        {
            "source_name": "n_src",
            "source_table": "n_src_view",
            "target_table": "hub_n_src",
            "raw_attributes": ["id long", "grp string", "amt long"],
            "rules": [
                {
                    "name": "grp_total",
                    "expression": (
                        "SUM([This].amt) OVER (PARTITION BY [This].grp)"
                    ),
                },
            ],
        }
    )
    compiler = SourceCompiler(spark, Project(sources=[src]))
    base = spark.createDataFrame(
        [(1, None, 10), (2, "x", 5)], "id long, grp string, amt long"
    )
    inc = spark.createDataFrame(
        [(3, None, 7)], "id long, grp string, amt long"
    )
    # the pruned path must be the one exercised
    assert compiler._window_confinement(
        src, compiler.recalculation_closure(src)
    ) == ("keys", ["grp"])
    existing = compiler.compile_source(src, base, {})
    updated = compiler.incremental_append(src, existing, inc, {})
    totals = {r.id: r.grp_total for r in updated.collect()}
    # rows 1 and 3 share the NULL group: both must show the merged sum
    assert totals == {1: 17, 2: 5, 3: 17}
    full = compiler.compile_source(src, base.unionByName(inc), {})
    assert sorted(map(tuple, updated.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_upsert_null_upsert_key(spark):
    """A NULL-keyed incoming row REPLACES the NULL-keyed existing row
    (null-safe key match) — re-running the same upsert is a no-op, and
    the displaced NULL window partition is recomputed."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    src = parse_source_dict(
        {
            "source_name": "nu_src",
            "source_table": "nu_src_view",
            "target_table": "hub_nu_src",
            "raw_attributes": ["id long", "grp string", "amt long"],
            "rules": [
                {
                    "name": "grp_total",
                    "expression": (
                        "SUM([This].amt) OVER (PARTITION BY [This].grp)"
                    ),
                },
            ],
        }
    )
    compiler = SourceCompiler(spark, Project(sources=[src]))
    base = spark.createDataFrame(
        [(None, None, 10), (1, "x", 5), (2, None, 3)],
        "id long, grp string, amt long",
    )
    new = spark.createDataFrame(
        [(None, None, 100)], "id long, grp string, amt long"
    )
    existing = compiler.compile_source(src, base, {})
    updated = compiler.incremental_upsert(src, existing, new, ["id"], {})
    rows = {r.id: (r.amt, r.grp_total) for r in updated.collect()}
    # NULL-id row replaced (amt 100), NULL grp partition recomputed
    assert rows == {None: (100, 103), 1: (5, 5), 2: (3, 103)}
    # idempotent: same upsert again changes nothing
    again = compiler.incremental_upsert(src, updated, new, ["id"], {})
    assert sorted(map(repr, again.collect())) == sorted(
        map(repr, updated.collect())
    )


def test_incremental_append_equals_full_rebuild_windowed(spark, sf_dir):
    """Window rule path (pruned recompute): appending late rows must
    reproduce the full rebuild bit-for-bit, including ranks of
    pre-existing rows displaced by the new data."""
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sources.readers import read_source
    from dataforge_core_spark.operators.engine_rows import (
        _orders_only_project,
    )

    project, orders = _orders_only_project()
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    raw = read_source(spark, orders, {"DATA_DIR": sf_dir})
    # split mid-stream so appended orders land BEFORE existing ones in
    # the rank order for many customers
    base_raw = raw.filter("o_orderkey % 3 != 0")
    inc_raw = raw.filter("o_orderkey % 3 = 0")
    base_hub = runner.compiler.compile_source(orders, base_raw, {})
    updated = runner.compiler.incremental_append(
        orders, base_hub, inc_raw, {}
    )
    full = runner.compiler.compile_source(orders, raw, {})
    assert sorted(updated.columns) == sorted(full.columns)
    cols = sorted(full.columns)
    a = sorted(map(repr, updated.select(*cols).collect()))
    b = sorted(map(repr, full.select(*cols).collect()))
    assert a == b


def test_upsert_plan_recomputes_window_once(spark, sf_dir):
    """The upsert splits only the kept hub rows by the touched window
    keys and recomputes them together with the incoming batch, so the
    plan holds one Window: the batch's own window value is never used
    (every incoming row is in a touched partition) and Catalyst prunes
    it."""
    from dataforge_core_spark.operators.engine_rows import (
        _orders_only_project,
    )
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sources.readers import read_source

    project, orders = _orders_only_project()
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    raw = read_source(spark, orders, {"DATA_DIR": sf_dir})
    existing = runner.compiler.compile_source(orders, raw, {})
    batch = raw.filter("o_orderkey % 97 = 0").withColumn(
        "o_custkey", raw.o_custkey + 1
    )
    updated = runner.compiler.incremental_upsert(
        orders, existing.localCheckpoint(eager=True), batch,
        ["o_orderkey"], {},
    )
    plan = updated._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Window [") == 1, plan
