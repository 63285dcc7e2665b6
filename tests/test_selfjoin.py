"""Self-join lookup (J3): a relation from a source to itself, resolved via
an explicit relation path, joining the in-flight pipeline (the reference
joins cte(n-1) — u_enr_query_generate_query.sql:90-91)."""

from __future__ import annotations


def test_self_relation_lookup(spark, sf_dir):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    src = parse_source_dict(
        {
            "source_name": "orders_sj",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "enriched_orders_sj",
            "raw_attributes": [
                "o_orderkey long",
                "o_custkey long",
                "o_totalprice double",
            ],
            "rules": [
                {
                    "name": "prev_price",
                    "expression": "[orders_sj].o_totalprice",
                    "parameters": [
                        {
                            "source_name": "orders_sj",
                            "relations": ["[orders_sj]- prev -[orders_sj]"],
                        }
                    ],
                },
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[orders_sj]- prev -[orders_sj]",
                "expression": "[This].o_orderkey = [Related].o_orderkey + 1",
                "cardinality": "M-1",
            }
        ]
    )
    project = Project(sources=[src], relations=rels)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = {
        r["o_orderkey"]: r["prev_price"]
        for r in hubs["orders_sj"].collect()
    }
    expect = {
        r["o_orderkey"]: r["prev"]
        for r in spark.sql(
            f"""
            SELECT a.o_orderkey, b.o_totalprice AS prev
            FROM parquet.`{sf_dir}/orders.parquet` a
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` b
              ON a.o_orderkey = b.o_orderkey + 1
            """
        ).collect()
    }
    assert got == expect
    assert any(v is not None for v in got.values())


def test_two_hop_self_paths(spark, sf_dir, tmp_path):
    """Later hops back to the source being built join the in-flight frame
    in both back ends: ``[prev, prev]`` reads the grand-predecessor, and
    ``[prev, prev2]`` joins on ``nk``, a rule of the source itself, so
    its second hop waits for that rule."""
    import shutil

    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    def via(*rels):
        return [{"source_name": "orders_sp", "relations": list(rels)}]

    prev = "[orders_sp]- prev -[orders_sp]"
    prev2 = "[orders_sp]- prev2 -[orders_sp]"
    src = parse_source_dict(
        {
            "source_name": "orders_sp",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "enriched_orders_sp",
            "raw_attributes": ["o_orderkey long", "o_totalprice double"],
            "rules": [
                {
                    "name": "gp_price",
                    "expression": "[orders_sp].o_totalprice",
                    "parameters": via(prev, prev),
                },
                {
                    "name": "far_price",
                    "expression": "[orders_sp].o_totalprice",
                    "parameters": via(prev, prev2),
                },
                {"name": "nk", "expression": "[This].o_orderkey + 2"},
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": prev,
                "expression": "[This].o_orderkey = [Related].o_orderkey + 1",
                "cardinality": "M-1",
            },
            {
                "name": prev2,
                "expression": "[This].o_orderkey = [Related].nk",
                "cardinality": "M-1",
            },
        ]
    )
    project = Project(sources=[src], relations=rels)
    expect = sorted(
        tuple(r)
        for r in spark.sql(
            f"""
            SELECT a.o_orderkey, c.o_totalprice, d.o_totalprice
            FROM parquet.`{sf_dir}/orders.parquet` a
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` b
              ON a.o_orderkey = b.o_orderkey + 1
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` c
              ON b.o_orderkey = c.o_orderkey + 1
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` d
              ON b.o_orderkey = d.o_orderkey + 2
            """
        ).collect()
    )
    assert any(r[1] is not None for r in expect)
    assert any(r[2] is not None for r in expect)
    cols = ("o_orderkey", "gp_price", "far_price")

    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = sorted(tuple(r) for r in hubs["orders_sp"].select(*cols).collect())
    assert got == expect

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    run_sql = SqlEmitter(project).emit_all(str(tmp_path / "target"))
    try:
        run_statements(spark, run_sql)
        got = sorted(
            tuple(r)
            for r in spark.table("enriched_orders_sp").select(*cols).collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS enriched_orders_sp")
    assert got == expect
