"""Transits into aggregates (SURVEY §7.3): inner expressions referencing
third sources (pre-joined onto the aggregation side via cardinality-1
paths from the target) and [This] values (grouped on the distinct [This]
values the aggregate reads)."""

from __future__ import annotations

import pytest


def _base_sources(sf_dir):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )

    part = parse_source_dict(
        {
            "source_name": "p",
            "source_table": f"{sf_dir}/part.parquet",
            "target_table": "hub_p_tr",
            "raw_attributes": ["p_partkey long", "p_retailprice double"],
            "rules": [],
        }
    )
    li = parse_source_dict(
        {
            "source_name": "li",
            "source_table": f"{sf_dir}/lineitem.parquet",
            "target_table": "hub_li_tr",
            "raw_attributes": [
                "l_orderkey long",
                "l_partkey long",
                "l_quantity double",
            ],
        }
    )
    orders = parse_source_dict(
        {
            "source_name": "o",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "hub_o_tr",
            "raw_attributes": ["o_orderkey long", "o_totalprice double"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[p]- pk -[li]",
                "expression": "[This].p_partkey = [Related].l_partkey",
                "cardinality": "1-M",
            },
            {
                "name": "[li]- ok -[o]",
                "expression": "[This].l_orderkey = [Related].o_orderkey",
                "cardinality": "M-1",
            },
        ]
    )
    return part, li, orders, rels


def _weighted_qty_project(sf_dir):
    """part aggregates lineitems weighted by the *order's* totalprice —
    the orders attribute transits into the aggregate via the
    cardinality-1 path lineitem -> orders."""
    from dataforge_core_spark.model import Project, Rule

    part, li, orders, rels = _base_sources(sf_dir)
    part.rules.append(
        Rule(
            name="weighted_qty",
            expression=(
                "SUM(CAST([li].l_quantity AS decimal(18,2)) "
                "* CAST([o].o_totalprice AS decimal(18,2)))"
            ),
        )
    )
    return Project(sources=[part, li, orders], relations=rels)


def test_third_source_transit_aggregate(spark, sf_dir):
    """See _weighted_qty_project: the DataFrame runner compiles it."""
    from dataforge_core_spark.runner import ProjectRunner

    project = _weighted_qty_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = {
        r["p_partkey"]: r["weighted_qty"]
        for r in hubs["p"].collect()
    }
    expect = {
        r["p_partkey"]: r["w"]
        for r in spark.sql(
            f"""
            SELECT p.p_partkey,
                   SUM(CAST(l.l_quantity AS decimal(18,2))
                       * CAST(o.o_totalprice AS decimal(18,2))) AS w
            FROM parquet.`{sf_dir}/part.parquet` p
            LEFT JOIN parquet.`{sf_dir}/lineitem.parquet` l
              ON p.p_partkey = l.l_partkey
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY p.p_partkey
            """
        ).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert (got[k] is None) == (expect[k] is None), k
        if got[k] is not None:
            assert got[k] == expect[k], k


def _run_sql_rows(spark, project, tmp_path, source_name):
    """The rows of ``source_name``'s hub table after run.sql ran."""
    import shutil

    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    by_name = project.source_by_name()
    try:
        run_statements(
            spark, SqlEmitter(project).emit_all(str(tmp_path / "target"))
        )
        return sorted(spark.table(by_name[source_name].target_table).collect())
    finally:
        for s in project.sources:
            spark.sql(f"DROP TABLE IF EXISTS {s.target_table}")


def test_transit_aggregate_run_sql_matches_runner(spark, sf_dir, tmp_path):
    """run.sql renders a transit aggregate as the runner does: its
    target side is the join SELECT over the target hub and its transit
    hop, so the emitted table equals the runner's frame."""
    from dataforge_core_spark.runner import ProjectRunner

    project = _weighted_qty_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    want = sorted(hubs["p"].collect())
    assert any(r["weighted_qty"] is not None for r in want)
    assert _run_sql_rows(spark, project, tmp_path, "p") == want


def _qty_when_cheap_project(sf_dir):
    """part sums quantity above its own retail price threshold: a
    [This] value inside the aggregate."""
    from dataforge_core_spark.model import Project, Rule

    part, li, orders, rels = _base_sources(sf_dir)
    part.rules.append(
        Rule(
            name="qty_when_cheap",
            expression=(
                "SUM(CASE WHEN [li].l_quantity * 1000 > [This].p_retailprice "
                "THEN [li].l_quantity ELSE 0 END)"
            ),
        )
    )
    return Project(sources=[part, li, orders], relations=rels)


def _qty_when_cheap_expect(spark, sf_dir):
    """The hand-written LEFT JOIN … GROUP BY of _qty_when_cheap_project's
    part hub."""
    return sorted(
        spark.sql(
            f"""
            SELECT p.p_partkey, p.p_retailprice,
                   SUM(CASE WHEN l.l_quantity * 1000 > p.p_retailprice
                       THEN l.l_quantity ELSE 0 END) AS q
            FROM parquet.`{sf_dir}/part.parquet` p
            LEFT JOIN parquet.`{sf_dir}/lineitem.parquet` l
              ON p.p_partkey = l.l_partkey
            GROUP BY p.p_partkey, p.p_retailprice
            """
        ).collect()
    )


def test_this_transit_aggregate(spark, sf_dir):
    """See _qty_when_cheap_project: row-correlated, grouped on the
    distinct [This] values it reads."""
    from dataforge_core_spark.runner import ProjectRunner

    project = _qty_when_cheap_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = sorted(hubs["p"].collect())
    assert got == _qty_when_cheap_expect(spark, sf_dir)
    assert any(r["qty_when_cheap"] for r in got)


def test_this_transit_aggregate_run_sql_matches_runner(
    spark, sf_dir, tmp_path
):
    """run.sql builds a [This]-transit aggregate as the runner does: the
    emitted table, the runner's frame and the hand-written LEFT JOIN …
    GROUP BY hold the same rows."""
    from dataforge_core_spark.runner import ProjectRunner

    project = _qty_when_cheap_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    want = sorted(hubs["p"].collect())
    assert want == _qty_when_cheap_expect(spark, sf_dir)
    assert _run_sql_rows(spark, project, tmp_path, "p") == want


def test_transit_unreachable_error(spark, sf_dir):
    """A transit source with no cardinality-1 path from the target is
    rejected."""
    from dataforge_core_spark.loader import parse_relations_list
    from dataforge_core_spark.model import Project, ProjectError, Rule
    from dataforge_core_spark.runner import ProjectRunner

    part, li, orders, _ = _base_sources(sf_dir)
    # drop the li->o relation: 'o' unreachable from the target
    rels = parse_relations_list(
        [
            {
                "name": "[p]- pk -[li]",
                "expression": "[This].p_partkey = [Related].l_partkey",
                "cardinality": "1-M",
            },
        ]
    )
    part.rules.append(
        Rule(name="bad", expression="SUM([li].l_quantity * [o].o_totalprice)")
    )
    project = Project(sources=[part, li, orders], relations=rels)
    with pytest.raises(ProjectError):
        ProjectRunner(spark, project, persist_hubs=False).build()
