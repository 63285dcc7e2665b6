"""The emitted Spark SQL (the reference's build artifact) must execute and
produce the same hub/output contents as the DataFrame compiler."""

from __future__ import annotations

import os
import tempfile

import pytest


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    import shutil

    # CREATE TABLE AS writes managed tables under spark-warehouse; a stale
    # dir from a killed session blocks re-creation
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    project = load_project("projects/tpch_demo")
    subs = {"DATA_DIR": sf_dir}
    target = tempfile.mkdtemp(prefix="dfspark_target_")
    run_sql = SqlEmitter(project, subs, spark=spark).emit_all(target)
    # execute the emitted statements on the session catalog
    n = run_statements(spark, run_sql)
    assert n >= 2 * len(project.sources)  # DROP + CREATE per source
    runner = ProjectRunner(spark, project, subs)
    hubs = runner.build()
    outs = runner.build_outputs(hubs)
    return project, hubs, outs, target


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(repr(r[c]) for c in cols) for r in df.collect()]
    )


@pytest.mark.parametrize(
    "source_name",
    [
        "tpch_region",
        "tpch_nation",
        "tpch_supplier",
        "tpch_orders",
        "tpch_customer",
        "tpch_lineitem",
        "tpch_part",
    ],
)
def test_sql_hub_matches_dataframe_hub(built, spark, source_name):
    project, hubs, _, _ = built
    src = project.source_by_name()[source_name]
    sql_df = spark.table(src.target_table)
    df = hubs[source_name]
    assert sorted(sql_df.columns) == sorted(df.columns)
    assert _rows(sql_df) == _rows(df)


@pytest.mark.parametrize("output_name", ["feature_customer", "entity_union"])
def test_sql_output_matches_dataframe_output(built, spark, output_name):
    _, _, outs, _ = built
    sql_df = spark.table(output_name)
    df = outs[output_name]
    assert sorted(sql_df.columns) == sorted(df.columns)
    assert _rows(sql_df) == _rows(df)


def test_artifact_layout(built):
    project, _, _, target = built
    assert os.path.isfile(os.path.join(target, "run.sql"))
    for s in project.sources:
        assert os.path.isfile(
            os.path.join(target, "sources", f"{s.source_name}.sql")
        )
    for o in project.outputs:
        assert os.path.isfile(
            os.path.join(target, "outputs", f"{o.output_name}.sql")
        )


def test_cli_build(tmp_path):
    from dataforge_core_spark.cli import main

    rc = main(
        [
            "--build",
            "projects/tpch_demo",
            "--target",
            str(tmp_path / "target"),
            "--data-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    assert (tmp_path / "target" / "run.sql").is_file()


def _stream_project(batch_reads_stream: bool):
    """A batch source ``b`` and a stream source ``s``; with
    ``batch_reads_stream`` a rule of ``b`` looks ``s`` up."""
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    b = parse_source_dict(
        {
            "source_name": "b",
            "source_table": "t_b",
            "target_table": "hub_b",
            "raw_attributes": ["k long"],
            "rules": [
                {"name": "s_v", "expression": "[s].v"}
                if batch_reads_stream
                else {"name": "k2", "expression": "[This].k * 2"}
            ],
        }
    )
    s = parse_source_dict(
        {
            "source_name": "s",
            "source_table": "stream",
            "target_table": "enriched_events_stream",
            "processing_type": "stream",
            "raw_attributes": ["k long", "v double"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[b]- kv -[s]",
                "expression": "[This].k = [Related].k",
                "cardinality": "M-1",
            }
        ]
    )
    return Project(sources=[b, s], relations=rels)


def test_stream_sources_leave_run_sql(tmp_path):
    """A ``processing_type: stream`` source runs via streaming/, as the
    runner skips it: run.sql must not create its hub."""
    from dataforge_core_spark.sql_emitter import SqlEmitter

    run_sql = SqlEmitter(_stream_project(False)).emit_all(str(tmp_path))
    assert "CREATE TABLE hub_b" in run_sql
    assert "enriched_events_stream" not in run_sql
    assert not (tmp_path / "sources" / "s.sql").exists()


def test_batch_hub_reading_stream_source_is_named(tmp_path):
    """A batch hub that reads a stream source cannot be built; both
    back ends say which hub reads which stream (not a bogus cycle)."""
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter

    project = _stream_project(True)
    msg = r"Source 'b' reads stream source\(s\) s"
    with pytest.raises(ProjectError, match=msg):
        SqlEmitter(project).emit_all(str(tmp_path))
    with pytest.raises(ProjectError, match=msg):
        ProjectRunner(None, project).build()


def test_compile_front_end_has_one_implementation():
    """The emitter and the probe render the shared plans/ decisions:
    neither imports the DataFrame runner (nor the emitter the compiler),
    the compiler renders no hub SQL of its own, and only parser.rewrite
    applies character spans right to left."""
    import glob
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dataforge_core_spark",
    )

    def imports(path):
        with open(path) as f:
            return re.findall(
                r"^\s*(?:from|import)\s+dataforge_core_spark\.(\w+)",
                f.read(),
                re.M,
            )

    assert not {"compiler", "runner"} & set(
        imports(os.path.join(pkg, "sql_emitter.py"))
    )
    assert "runner" not in imports(os.path.join(pkg, "probe.py"))
    # the DataFrame runner executes plans/render.py's hub SQL: it renders
    # no relation predicate and writes no join text of its own
    with open(os.path.join(pkg, "compiler.py")) as f:
        compiler = f.read()
    assert "render_relation" not in compiler
    assert "LEFT JOIN" not in compiler
    span_loop = re.compile(r"key=lambda \w+: -(?:\w+\[0\]|\w+\.start)")
    files = [
        os.path.join(pkg, "compiler.py"),
        os.path.join(pkg, "sql_emitter.py"),
        *glob.glob(os.path.join(pkg, "plans", "*.py")),
    ]
    for path in files:
        with open(path) as f:
            assert not span_loop.search(f.read()), path
    with open(os.path.join(pkg, "parser.py")) as f:
        assert len(span_loop.findall(f.read())) == 1
