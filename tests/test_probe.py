"""Probe-based type inference tests (SURVEY §5 mechanism 1 parity)."""

import pytest

from dataforge_core_spark.model import ProjectError
from dataforge_core_spark.probe import build_probe_sql, check_boolean, run_probe


def test_probe_success_type(spark):
    res = run_probe(spark, "[This].a + 1", {"This.a": "bigint"})
    assert res.status == "success"
    assert res.data_type == "bigint"


def test_probe_decimal_inference(spark):
    res = run_probe(spark, "[This].a * 2", {"This.a": "decimal"})
    assert res.status == "success"
    assert res.data_type.startswith("decimal")


def test_probe_date_function(spark):
    res = run_probe(
        spark, "date_format([This].d, 'yyyyMM')", {"This.d": "timestamp"}
    )
    assert res.status == "success"
    assert res.data_type == "string"


def test_probe_null_warning(spark):
    # miniSparky.py:66-72: NULL first row -> 'improper type casting' warning.
    # (The reference runs Spark 3.5 non-ANSI where CAST('zzz' AS int) is
    # silently NULL; under Spark 4 ANSI the same silent-NULL path is
    # try_cast — the probe mechanism is identical.)
    res = run_probe(spark, "try_cast('zzz' AS int)")
    assert res.status == "warning"
    assert "improper type casting" in res.message


def test_probe_extraneous_input(spark):
    # miniSparky.py:73-77: injected extra select item -> error
    res = run_probe(spark, "1 as col1, 2")
    assert res.status == "error"
    assert "Extraneous input" in res.message


def test_probe_aggregate_wrapping(spark):
    sql = build_probe_sql(
        "SUM([orders].x) + [This].y",
        {"orders.x": "bigint", "This.y": "int"},
    )
    assert "first_value(" in sql  # non-aggregated param wrapped (:51-53)
    res = run_probe(
        spark,
        "SUM([orders].x) + [This].y",
        {"orders.x": "bigint", "This.y": "int"},
    )
    assert res.status == "success"
    assert res.data_type == "bigint"


def test_check_boolean(spark):
    check_boolean(spark, "[This].a = [Related].b", {"This.a": "bigint", "Related.b": "bigint"})
    with pytest.raises(ProjectError, match="must be boolean"):
        check_boolean(spark, "[This].a + 1", {"This.a": "bigint"})


def test_probe_window_expression(spark):
    res = run_probe(
        spark,
        "ROW_NUMBER() OVER (PARTITION BY [This].k ORDER BY [This].t)",
        {"This.k": "string", "This.t": "timestamp"},
    )
    assert res.status == "success"
    assert res.data_type == "int"


def test_validate_project_demo(spark):
    """Dependency-ordered probe waves over the demo project: everything
    probes clean with correctly inferred types."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import validate_project

    project = load_project("projects/tpch_demo")
    report = validate_project(spark, project)
    errors = [r for r in report if r["status"] == "error"]
    assert not errors, errors
    by_name = {r["name"]: r for r in report if r["kind"] == "rule"}
    assert by_name["tpch_lineitem.net_price_int"]["data_type"] == "bigint"
    assert by_name["tpch_customer.order_statuses"]["data_type"] == "array<string>"
    assert all(
        r["data_type"] == "boolean"
        for r in report
        if r["kind"] in ("relation", "filter")
    )


def test_probe_cache_no_requery(spark):
    """Second validation of the same project issues ZERO probe queries:
    probe results are pure functions of (expression, param types) over a
    constant literal view, cached per session by probe SQL (the
    reference caches equivalently in its metadata DB, SURVEY §7.3)."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import probe_stats, validate_project

    project = load_project("projects/tpch_demo")
    first = validate_project(spark, project)
    runs_after_first = probe_stats["runs"]
    second = validate_project(spark, project)
    assert probe_stats["runs"] == runs_after_first, "probe re-queried"
    assert probe_stats["hits"] >= len(second)
    assert [r["status"] for r in first] == [r["status"] for r in second]


def test_probe_store_cross_run_persistence(spark, tmp_path):
    """A fresh session (simulated by dropping the per-session cache)
    resolves an already-probed expression from the file-backed
    ProbeStore without issuing a probe query (the reference persists
    inferred types in its metadata DB, impc_update_test_results.sql)."""
    from dataforge_core_spark import probe

    store = probe.ProbeStore(str(tmp_path))
    prev = probe.set_probe_store(store)
    try:
        probe._probe_cache.pop(spark, None)
        expr = "concat([This].a, '-', [This].b) || 'probe-store-test'"
        runs0 = probe.probe_stats["runs"]
        r1 = probe.run_probe(spark, expr)
        assert probe.probe_stats["runs"] == runs0 + 1
        assert r1.status == "success" and r1.data_type == "string"
        # simulate a brand-new session: session cache gone, store remains
        probe._probe_cache.pop(spark, None)
        store2 = probe.ProbeStore(str(tmp_path))  # re-read from disk
        probe.set_probe_store(store2)
        hits0 = probe.probe_stats["store_hits"]
        r2 = probe.run_probe(spark, expr)
        assert probe.probe_stats["runs"] == runs0 + 1  # no new probe job
        assert probe.probe_stats["store_hits"] == hits0 + 1
        assert (r2.status, r2.data_type) == (r1.status, r1.data_type)
    finally:
        probe.set_probe_store(prev)


def test_validate_cli_second_run_zero_probes(spark, tmp_path):
    """`--validate --state DIR` twice: the second run issues ZERO probe
    queries even from a cold session cache — results come from the
    persisted probe_cache.json."""
    from dataforge_core_spark import probe
    from dataforge_core_spark.cli import main

    state = str(tmp_path / "state")
    prev = probe.set_probe_store(None)
    try:
        probe._probe_cache.pop(spark, None)
        assert main(["--validate", "projects/tpch_demo", "--state", state]) == 0
        assert probe._probe_store is not None  # CLI installed the store
        runs_after_first = probe.probe_stats["runs"]
        probe._probe_cache.pop(spark, None)  # simulate a new session
        assert main(["--validate", "projects/tpch_demo", "--state", state]) == 0
        assert probe.probe_stats["runs"] == runs_after_first
    finally:
        probe.set_probe_store(prev)


def _dtype_mismatches(spark, project, subs):
    """For every rule without a cast, the DataFrame hub's column type
    mapped to a datatypes-view column against the probes' view column.
    Returns (rules compared, mismatches)."""
    from dataforge_core_spark.probe import _view_col_for, infer_types
    from dataforge_core_spark.runner import ProjectRunner

    hubs = ProjectRunner(spark, project, subs, persist_hubs=False).build()
    types = infer_types(spark, project)[1]
    n, bad = 0, []
    for name, df in hubs.items():
        dtypes = dict(df.dtypes)
        for rule in project.source_by_name()[name].rules:
            if rule.cast_datatype:
                continue
            n += 1
            want = _view_col_for(dtypes[rule.name])
            got = types.get((name, rule.name))
            if want != got:
                bad.append((name, rule.name, dtypes[rule.name], got))
    return n, bad


def test_probe_types_match_dataframe_dtypes(spark, sf_dir, tmp_path):
    """The emitter takes rule types from the probes instead of building
    every hub DataFrame; the two agree on every uncast rule of the demo
    project and of 30 generated wide projects."""
    import sys

    from dataforge_core_spark.loader import load_project

    sys.path.insert(0, "perfbench")
    try:
        import wideproj
    finally:
        sys.path.remove("perfbench")

    n, bad = _dtype_mismatches(
        spark,
        load_project("projects/tpch_demo"),
        {"DATA_DIR": sf_dir},
    )
    assert n == 33 and not bad, bad
    total = 0
    for seed in range(30):
        wp = wideproj.generate(
            str(tmp_path / f"w{seed}"), seed, seed,
            n_sources=6, rules_per_source=5,
        )
        n, bad = _dtype_mismatches(
            spark, load_project(wp.project_dir), {"DATA_DIR": wp.data_dir}
        )
        assert not bad, (seed, bad)
        total += n
    assert total == 1080


def test_validate_and_emit_never_list_the_catalog(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The datatypes-view check is one tableExists call, so neither
    validation nor emission lists the session catalog."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import validate_project
    from dataforge_core_spark.sql_emitter import SqlEmitter

    def boom(*a, **k):
        raise AssertionError("catalog listed")

    monkeypatch.setattr(spark.catalog, "listTables", boom)
    project = load_project("projects/tpch_demo")
    report = validate_project(spark, project)
    assert not [r for r in report if r["status"] == "error"]
    run_sql = SqlEmitter(
        project, {"DATA_DIR": sf_dir}, spark=spark
    ).emit_all(str(tmp_path))
    assert "CREATE TABLE" in run_sql


def test_emit_with_warm_probe_cache_runs_no_spark_job(spark, sf_dir, tmp_path):
    """After a validate, the emitter's type reads are cache hits: it
    builds no DataFrame and launches no Spark job."""
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.probe import validate_project
    from dataforge_core_spark.sql_emitter import SqlEmitter

    project = load_project("projects/tpch_demo")
    validate_project(spark, project)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    run_sql = SqlEmitter(
        project, {"DATA_DIR": sf_dir}, spark=spark
    ).emit_all(str(tmp_path))
    assert set(tracker.getJobIdsForGroup()) - before == set()
    # the probe types still drive decimal normalization
    assert "AS decimal(38,12)) AS `" in run_sql


def test_probe_store_one_flush_per_wave(spark, tmp_path, monkeypatch):
    """A wave's fresh results reach probe_cache.json in one
    merge-and-replace, not one per expression."""
    from dataforge_core_spark import probe

    replaced = []
    real_replace = probe.os.replace
    monkeypatch.setattr(
        probe.os, "replace",
        lambda a, b: (replaced.append(b), real_replace(a, b)),
    )
    prev = probe.set_probe_store(probe.ProbeStore(str(tmp_path)))
    try:
        probe._probe_cache.pop(spark, None)
        exprs = [f"[This].int + {i} || 'one-flush'" for i in range(5)]
        exprs.append("count([o].string) + 7")
        res = probe.run_probe_wave(spark, [(e, {"int": "int"}) for e in exprs])
        assert all(r.status == "success" for r in res)
        assert len(replaced) == 1
        reread = probe.ProbeStore(str(tmp_path))
        for e, r in zip(exprs, res):
            assert reread.get(probe.build_probe_sql(e, {"int": "int"})) == r
    finally:
        probe.set_probe_store(prev)


def test_probe_wave_fuses_misses_by_kind(spark):
    """Cache misses of one wave run as one plain and one aggregate
    query; a window expression runs alone; results equal the solo
    probes'."""
    from dataforge_core_spark import probe

    ptypes = {"int": "int", "decimal": "decimal", "date": "date"}
    exprs = [
        "[This].int * 3 + 11",
        "[This].decimal / 7",
        "date_add([This].date, 13)",
        "sum([o].int) + [This].int + 17",
        "max([o].date)",
        "rank() OVER (ORDER BY [This].int, 19)",
    ]
    items = [(e, ptypes) for e in exprs]
    prev = probe.set_probe_store(None)
    try:
        probe._probe_cache.pop(spark, None)
        runs = probe.probe_stats["runs"]
        fused = probe.run_probe_wave(spark, items)
        assert probe.probe_stats["runs"] - runs == 3
        hits = probe.probe_stats["hits"]
        assert probe.run_probe_wave(spark, items) == fused
        assert probe.probe_stats["hits"] - hits == len(exprs)
        probe._probe_cache.pop(spark, None)
        assert [probe.run_probe(spark, e, p) for e, p in items] == fused
    finally:
        probe.set_probe_store(prev)
    assert [r.data_type for r in fused] == [
        "int", "decimal(14,6)", "date", "bigint", "date", "int",
    ]
