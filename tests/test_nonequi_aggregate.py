"""Non-equi (theta) correlated aggregates: the LATERAL fallback path
(join + group on a synthetic row key) when the M-hop predicate is not a
pure equi-conjunction."""

from __future__ import annotations


def _theta_project(sf_dir):
    """cust counts and sums its orders priced above its own account
    balance: an M-hop predicate that is not a pure equi-conjunction."""
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    cust = parse_source_dict(
        {
            "source_name": "cust",
            "source_table": f"{sf_dir}/customer.parquet",
            "target_table": "hub_cust_theta",
            "raw_attributes": ["c_custkey long", "c_acctbal double"],
            "rules": [
                {"name": "big_order_count", "expression": "COUNT([ord].o_orderkey)"},
                {"name": "big_order_total", "expression": "SUM([ord].o_totalprice)"},
            ],
        }
    )
    ord_src = parse_source_dict(
        {
            "source_name": "ord",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "hub_ord_theta",
            "raw_attributes": ["o_orderkey long", "o_custkey long", "o_totalprice double"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[cust]- big -[ord]",
                "expression": (
                    "[This].c_custkey = [Related].o_custkey "
                    "AND [This].c_acctbal < [Related].o_totalprice"
                ),
                "cardinality": "1-M",
            }
        ]
    )
    return Project(sources=[cust, ord_src], relations=rels)


def test_theta_aggregate(spark, sf_dir):
    from dataforge_core_spark.runner import ProjectRunner

    project = _theta_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = {
        r["c_custkey"]: (r["big_order_count"], r["big_order_total"])
        for r in hubs["cust"].collect()
    }
    expect = {
        r["c_custkey"]: (r["cnt"], r["tot"])
        for r in spark.sql(
            f"""
            SELECT c.c_custkey,
                   COUNT(o.o_orderkey) AS cnt,
                   SUM(o.o_totalprice) AS tot
            FROM parquet.`{sf_dir}/customer.parquet` c
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` o
              ON c.c_custkey = o.o_custkey
             AND c.c_acctbal < o.o_totalprice
            GROUP BY c.c_custkey
            """
        ).collect()
    }
    assert got == expect
    assert any(v[0] > 0 for v in got.values())


def test_theta_aggregate_sql_emission_is_a_project_error(sf_dir, tmp_path):
    """run.sql has no stable row key to group a theta aggregate on; the
    emitter says so with a ProjectError naming the relation."""
    import pytest

    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.sql_emitter import SqlEmitter

    with pytest.raises(ProjectError, match=r"theta predicates.*big"):
        SqlEmitter(_theta_project(sf_dir)).emit_all(str(tmp_path))
