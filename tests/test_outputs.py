"""Output sub-types (S5 — u_validate_output.sql:21-76) + channel routing."""

from __future__ import annotations

import os

import pytest


def _mini_project(sf_dir):
    from dataforge_core_spark.loader import parse_output_dict, parse_source_dict
    from dataforge_core_spark.model import Project

    src = parse_source_dict(
        {
            "source_name": "nation_min",
            "source_table": f"{sf_dir}/nation.parquet",
            "target_table": "hub_nation_min",
            "raw_attributes": ["n_nationkey int", "n_name string"],
        }
    )

    def out(name, output_type, file_format=None, columns=None):
        return parse_output_dict(
            {
                "output_name": name,
                "output_type": output_type,
                "file_format": file_format,
                "columns": columns or ["nation string", "key int"],
                "channels": [
                    {
                        "source_name": "nation_min",
                        "mappings": ["n_name nation", "n_nationkey key"],
                    }
                ],
            }
        )

    return Project(sources=[src]), out


def test_virtual_and_file_outputs(spark, sf_dir, tmp_path):
    from dataforge_core_spark.runner import ProjectRunner

    project, out = _mini_project(sf_dir)
    project.outputs = [
        out("v_nations", "virtual"),
        out("f_nations", "file", "parquet"),
        out("t_nations", "text", None, None),
    ]
    # text outputs must be single-column (u_validate_output.sql:39-41)
    project.outputs[2] = out(
        "t_nations", "file", "text", ["nation string"]
    )
    project.outputs[2].channels[0].mappings = (
        project.outputs[2].channels[0].mappings[:1]
    )
    runner = ProjectRunner(spark, project, persist_hubs=False)
    runner.materialize(str(tmp_path))
    n = spark.table("v_nations").count()
    assert n > 0
    pq = spark.read.parquet(str(tmp_path / "f_nations"))
    assert pq.count() == n
    txt = spark.read.text(str(tmp_path / "t_nations"))
    assert txt.count() == n


def test_text_output_multi_column_rejected(spark, sf_dir, tmp_path):
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project, out = _mini_project(sf_dir)
    project.outputs = [out("bad_text", "file", "text")]
    runner = ProjectRunner(spark, project, persist_hubs=False)
    with pytest.raises(ProjectError, match="exactly one column"):
        runner.materialize(str(tmp_path))


def test_aggregate_mapping_requires_aggregate_op(spark, sf_dir):
    from dataforge_core_spark.loader import parse_output_dict
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project, _ = _mini_project(sf_dir)
    project.outputs = [
        parse_output_dict(
            {
                "output_name": "bad",
                "columns": ["n long"],
                "channels": [
                    {
                        "source_name": "nation_min",
                        "mappings": ["count(n_nationkey) n"],
                    }
                ],
            }
        )
    ]
    runner = ProjectRunner(spark, project, persist_hubs=False)
    with pytest.raises(ProjectError, match="operation_type"):
        runner.build_outputs()


_BAD_CHANNELS = {
    "filter_on_other_source": (
        {"filter": "[orders_o].o_totalprice > 0"},
        "may only reference \\[This\\]",
    ),
    "unknown_attribute": ({"filter": "[This].nope > 0"}, "unknown attribute"),
    "aggregate_in_filter": (
        {"filter": "sum([orders_o].o_totalprice) > 0"},
        "cannot contain aggregates",
    ),
    "aggregate_without_operation": (
        {"mappings": ["count(c_custkey) n"]},
        "requires operation_type: Aggregate",
    ),
    "aggregate_not_whitelisted": (
        {"operation_type": "Aggregate", "mappings": ["nosuchagg(c_custkey) n"]},
        "not an allowed aggregate",
    ),
    "aggregate_without_aggregates": (
        {"operation_type": "Aggregate", "mappings": ["c_custkey n"]},
        "has no aggregate mappings",
    ),
    "unknown_source": ({"source_name": "nope"}, "unknown source"),
    "unpivot": ({"unpivot": "c_custkey"}, "Unpivot not supported"),
}


@pytest.mark.parametrize("case", sorted(_BAD_CHANNELS))
def test_invalid_channel_same_error_in_both_back_ends(spark, sf_dir, case):
    """The DataFrame compiler and the SQL emitter reject the same output
    channels with the same message."""
    from dataforge_core_spark.loader import parse_output_dict, parse_source_dict
    from dataforge_core_spark.model import Project, ProjectError
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter

    cust = parse_source_dict(
        {
            "source_name": "cust_o",
            "source_table": f"{sf_dir}/customer.parquet",
            "target_table": "hub_cust_o",
            "raw_attributes": ["c_custkey long", "c_acctbal double"],
        }
    )
    orders = parse_source_dict(
        {
            "source_name": "orders_o",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "hub_orders_o",
            "raw_attributes": ["o_custkey long", "o_totalprice double"],
        }
    )
    overrides, match = _BAD_CHANNELS[case]
    channel = {"source_name": "cust_o", "mappings": ["c_custkey n"]}
    out = parse_output_dict(
        {
            "output_name": "bad",
            "columns": ["n long"],
            "channels": [{**channel, **overrides}],
        }
    )
    project = Project(sources=[cust, orders])
    runner = ProjectRunner(spark, project, persist_hubs=False)
    with pytest.raises(ProjectError, match=match) as df_err:
        runner.compiler.compile_output(out, runner.build())
    with pytest.raises(ProjectError) as sql_err:
        SqlEmitter(project).emit_output(out)
    assert str(sql_err.value) == str(df_err.value)


def test_set_operation_channels_dataframe_and_sql_parity(spark, sf_dir):
    """O3 extension: INTERSECT/EXCEPT channels must produce the same
    result through the DataFrame compiler and the emitted SQL artifact
    (the artifact parenthesizes operands to preserve the left-
    associative grouping bare SQL precedence would change)."""
    import tempfile

    from dataforge_core_spark.operators.engine_rows import engine_set_ops
    from dataforge_core_spark.loader import parse_output_dict
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    df = engine_set_ops(spark, sf_dir)
    got = sorted(r.cust for r in df.collect())
    # semantic spot-check against direct SQL on the base tables
    expected = sorted(
        r.cust
        for r in spark.sql(
            f"""
            SELECT cust FROM (
              SELECT c_custkey AS cust
              FROM parquet.`{sf_dir}/customer.parquet` WHERE c_acctbal > 0
              INTERSECT
              SELECT o_custkey FROM parquet.`{sf_dir}/orders.parquet`
            )
            EXCEPT
            SELECT c_custkey FROM parquet.`{sf_dir}/customer.parquet`
            WHERE c_acctbal > 5000
            """
        ).collect()
    )
    assert got == expected and len(got) > 0

    # the emitted SQL artifact must produce the same table
    from dataforge_core_spark.operators.engine_rows import _set_ops_project

    project = _set_ops_project(sf_dir)
    for name in ("enriched_cust_so", "enriched_orders_so", "cust_set_ops"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil as _sh

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        _sh.rmtree(os.path.join(wh, name), ignore_errors=True)
    run_sql = SqlEmitter(project, {}, spark=spark).emit_all(
        tempfile.mkdtemp(prefix="dfspark_setops_")
    )
    run_statements(spark, run_sql)
    sql_got = sorted(r.cust for r in spark.table("cust_set_ops").collect())
    assert sql_got == expected

    # loader rejects unknown set operations
    with pytest.raises(ProjectError, match="set_operation"):
        parse_output_dict(
            {
                "output_name": "bad",
                "columns": ["x long"],
                "channels": [
                    {"source_name": "s", "mappings": ["a x"]},
                    {
                        "source_name": "s",
                        "set_operation": "minus",
                        "mappings": ["a x"],
                    },
                ],
            }
        )


def test_partition_ordinal_honored(spark, sf_dir, tmp_path):
    """Output columns with a partition_ordinal hint ("9
    outputColumnTable.sql":18 — declared but never read by the
    reference's core) become hive-style directory partitions in the
    writer and a PARTITIONED BY clause in the emitted CTAS; values
    round-trip and the MetaStore preserves the hint."""
    import shutil

    from dataforge_core_spark.imports import MetaStore, import_project
    from dataforge_core_spark.loader import parse_output_dict
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    project, _ = _mini_project(sf_dir)
    po = parse_output_dict(
        {
            "output_name": "p_nations",
            "columns": [
                "nation string",
                {"name": "key", "type": "int", "partition_ordinal": 1},
            ],
            "channels": [
                {
                    "source_name": "nation_min",
                    "mappings": ["n_name nation", "n_nationkey key"],
                }
            ],
        }
    )
    assert po.partition_columns() == ["key"]
    project.outputs = [po]
    runner = ProjectRunner(spark, project, persist_hubs=False)
    runner.materialize(str(tmp_path))
    # hive-style directory partitions on disk
    subdirs = {d for d in os.listdir(tmp_path / "p_nations") if "=" in d}
    assert any(d.startswith("key=") for d in subdirs)
    back = spark.read.parquet(str(tmp_path / "p_nations"))
    assert back.count() == spark.read.parquet(
        f"{sf_dir}/nation.parquet"
    ).count()

    # emitted artifact carries PARTITIONED BY and executes equivalently
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS p_nations")
    emitter = SqlEmitter(project, spark=spark)
    art = emitter.emit_output(po)
    assert "PARTITIONED BY (`key`)" in art
    run_sql = emitter.emit_all(str(tmp_path / "target"))
    run_statements(spark, run_sql)
    tbl = spark.table("p_nations")
    a = sorted((r["key"], r["nation"]) for r in tbl.collect())
    b = sorted((r["key"], r["nation"]) for r in back.collect())
    assert a == b

    # MetaStore round-trip keeps the hint
    store = MetaStore(str(tmp_path / "state"))
    report = import_project(store, project)
    assert "error" not in report
    back_proj = store.to_project()
    assert back_proj.outputs[0].partition_columns() == ["key"]


def test_csv_and_json_file_outputs(spark, sf_dir, tmp_path):
    """Extension file sub-types beyond the reference's parquet/avro/text:
    csv (with header) and json-lines round-trip the output rows."""
    from dataforge_core_spark.runner import ProjectRunner

    project, out = _mini_project(sf_dir)
    project.outputs = [
        out("c_nations", "file", "csv"),
        out("j_nations", "file", "json"),
    ]
    runner = ProjectRunner(spark, project, persist_hubs=False)
    runner.materialize(str(tmp_path))
    csv = spark.read.option("header", "true").csv(str(tmp_path / "c_nations"))
    js = spark.read.json(str(tmp_path / "j_nations"))
    assert csv.count() == js.count() > 0
    assert sorted(csv.columns) == sorted(js.columns)


def test_zorder_ordinal_clusters_files(spark, sf_dir, tmp_path):
    """Output columns with a zorder_ordinal hint ("9
    outputColumnTable.sql":19 — declared but never read by the
    reference's core) cluster rows within each written file via a LOCAL
    sort: every part file must be internally sorted on the hinted key
    (tight per-file min/max stats = footer-level file skipping), values
    round-trip unchanged, and the hint survives the MetaStore."""
    import glob

    from dataforge_core_spark.imports import MetaStore, import_project
    from dataforge_core_spark.loader import (
        parse_output_dict,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    src = parse_source_dict(
        {
            "source_name": "orders_min",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "hub_orders_min",
            "raw_attributes": ["o_orderkey long", "o_totalprice double"],
        }
    )
    po = parse_output_dict(
        {
            "output_name": "z_orders",
            "output_type": "file",
            "file_format": "parquet",
            "columns": [
                "okey long",
                {"name": "price", "type": "double", "zorder_ordinal": 1},
            ],
            "channels": [
                {
                    "source_name": "orders_min",
                    "mappings": ["o_orderkey okey", "o_totalprice price"],
                }
            ],
        }
    )
    assert po.zorder_columns() == ["price"]
    project = Project(sources=[src])
    project.outputs = [po]
    runner = ProjectRunner(spark, project, persist_hubs=False)
    runner.materialize(str(tmp_path))

    files = glob.glob(str(tmp_path / "z_orders" / "part-*.parquet"))
    assert files
    total = 0
    for f in files:
        prices = [r.price for r in spark.read.parquet(f).collect()]
        total += len(prices)
        assert prices == sorted(prices), f"unsorted file {f}"
    src_df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert total == src_df.count()
    back = spark.read.parquet(str(tmp_path / "z_orders"))
    assert sorted(
        (r.okey, r.price) for r in back.collect()
    ) == sorted(
        (r.o_orderkey, r.o_totalprice)
        for r in src_df.select("o_orderkey", "o_totalprice").collect()
    )

    # hint round-trips through the import/diff engine's store
    store = MetaStore(str(tmp_path / "state"))
    import_project(store, project)
    re_read = store.to_project()
    assert re_read.outputs[0].zorder_columns() == ["price"]
