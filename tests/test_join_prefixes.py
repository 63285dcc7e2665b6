"""One join per relation-path prefix (SURVEY J2, u_enr_query_add_join.sql:
33-41,74-97): the planner registers one single-hop element per distinct
path prefix, both back ends join each prefix once, and both compute the
reference's flat ``(A ⟕ B) ⟕ C`` per-hop form."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from dataforge_core_spark.loader import load_project
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import plan_source
from dataforge_core_spark.runner import ProjectRunner
from dataforge_core_spark.sources.readers import read_source

PROJ = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "projects", "tpch_demo"
)


@pytest.fixture(scope="module")
def project():
    return load_project(PROJ)


def test_tpch_demo_path_hops_share_prefixes(project):
    """customer and lineitem reference 13 path hops (nation; nation →
    region; orders; nation → supplier / supplier; orders; orders →
    customer; orders → customer → nation) over 8 distinct prefixes, each
    the child of the prefix one hop shorter."""
    g = RelationGraph(project.relations)
    elements = hops = 0
    for name in ("tpch_customer", "tpch_lineitem"):
        plan = plan_source(project, g, project.source_by_name()[name])
        elements += len(plan.joins)
        hops += sum(
            len(j.path.hops) for j in plan.joins.values() if j.needed or j.aggs
        )
        for j in plan.joins.values():
            if len(j.path.hops) == 1:
                assert j.parent is None
                continue
            parent = plan.joins[j.parent]
            assert parent.kind == "lookup"
            assert parent.path.hops == j.path.hops[:-1]
        # a rule's join_deps hold every prefix on its path
        for el in plan.rules.values():
            for pid in el.join_deps:
                parent = plan.joins[pid].parent
                assert parent is None or parent in el.join_deps
    assert (elements, hops) == (8, 13)


def _broadcast_hubs(plan: str, hubs: dict) -> list[str]:
    """The hub each BroadcastExchange of an executed plan reads, once per
    exchange and hub, identified by its checkpoint scan's columns."""
    by_cols = {frozenset(df.columns): name for name, df in hubs.items()}
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        read = set()
        for sub in lines[i + 1:]:
            if len(sub) - len(sub.lstrip(" :+-")) <= indent:
                break
            m = re.search(r"Scan ExistingRDD\[([^\]]*)\]", sub)
            if m:
                cols = frozenset(
                    re.sub(r"#\d+L?$", "", c) for c in m.group(1).split(",")
                )
                read.add(by_cols.get(cols))
        out += sorted(read - {None})
    return out


@pytest.mark.parametrize(
    "source_name, dim",
    [("tpch_customer", "tpch_nation"), ("tpch_lineitem", "tpch_orders")],
)
def test_checkpointed_hub_broadcasts_each_hub_once(
    project, spark, sf_dir, source_name, dim
):
    r = ProjectRunner(spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False)
    hubs = r.build_checkpointed()
    src = project.source_by_name()[source_name]
    base = read_source(spark, src, {"DATA_DIR": sf_dir})
    df = r.compiler.compile_source(src, base, hubs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    read = _broadcast_hubs(plan, hubs)
    assert read.count(dim) == 1, read
    assert len(read) == len(set(read)), read


def _flat_project(data_dir: str, tag: str):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    def src(name, attrs, rules=()):
        return parse_source_dict(
            {
                "source_name": f"{tag}_{name}",
                "source_table": f"{data_dir}/{name}.parquet",
                "target_table": f"{tag}_hub_{name}",
                "raw_attributes": attrs,
                "rules": list(rules),
            }
        )

    rules = [{"name": "c_name", "expression": f"[{tag}_c].name"}]
    rels = parse_relations_list(
        [
            {
                "name": f"[{tag}_a]- ab -[{tag}_b]",
                "expression": "[This].bk = [Related].bk",
                "cardinality": "M-1",
            },
            {
                # not null-rejecting: an A row with no B match still
                # meets C's ck = 0 row in the flat form
                "name": f"[{tag}_b]- bc -[{tag}_c]",
                "expression": "coalesce([This].ck, 0) = [Related].ck",
                "cardinality": "M-1",
            },
        ]
    )
    return Project(
        sources=[
            src("a", ["ak int", "bk int"], rules),
            src("b", ["bk int", "ck int"]),
            src("c", ["ck int", "name string"]),
        ],
        relations=rels,
    )


def test_flat_hop_semantics_in_both_back_ends(spark, tmp_path):
    """A second-hop predicate that is not null-rejecting tells the
    reference's flat ``(a ⟕ b) ⟕ c`` from a nested ``a ⟕ (b ⟕ c)``: a's
    row 2 has no b match, so b.ck is NULL, coalesce makes it 0, and c's
    ck = 0 row joins it."""
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    data = str(tmp_path / "data")
    for name, rows, schema in [
        ("a", [(1, 10), (2, 99), (3, 20)], "ak int, bk int"),
        ("b", [(10, 5), (20, None)], "bk int, ck int"),
        ("c", [(5, "five"), (0, "zero")], "ck int, name string"),
    ]:
        spark.createDataFrame(rows, schema).write.parquet(f"{data}/{name}.parquet")
    # a ⟕ b: (1,10,5) (2,99,NULL) (3,20,NULL); then ⟕ c on coalesce(ck, 0)
    expect = [(1, "five"), (2, "zero"), (3, "zero")]
    project = _flat_project(data, "flat")

    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = sorted(tuple(r) for r in hubs["flat_a"].select("ak", "c_name").collect())
    assert got == expect

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    run_sql = SqlEmitter(project).emit_all(str(tmp_path / "target"))
    try:
        run_statements(spark, run_sql)
        got = sorted(
            tuple(r)
            for r in spark.table("flat_hub_a").select("ak", "c_name").collect()
        )
    finally:
        for t in ("a", "b", "c"):
            spark.sql(f"DROP TABLE IF EXISTS flat_hub_{t}")
    assert got == expect
