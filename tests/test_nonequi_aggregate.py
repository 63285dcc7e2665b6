"""Non-equi (theta) correlated aggregates: when the M-hop predicate is
not a pure equi-conjunction, the aggregate joins the distinct [This]
values it reads (its domain) to the target, groups on them, and attaches
back null-safely on the domain."""

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


def _theta_expect(spark, sf_dir):
    """The hand-written LEFT JOIN … GROUP BY of _theta_project's hub."""
    return sorted(
        spark.sql(
            f"""
            SELECT c.c_custkey, c.c_acctbal,
                   COUNT(o.o_orderkey) AS cnt,
                   SUM(o.o_totalprice) AS tot
            FROM parquet.`{sf_dir}/customer.parquet` c
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` o
              ON c.c_custkey = o.o_custkey
             AND c.c_acctbal < o.o_totalprice
            GROUP BY c.c_custkey, c.c_acctbal
            """
        ).collect()
    )


def test_theta_aggregate(spark, sf_dir):
    from dataforge_core_spark.runner import ProjectRunner

    project = _theta_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = sorted(hubs["cust"].collect())
    assert got == _theta_expect(spark, sf_dir)
    assert any(r["big_order_count"] > 0 for r in got)


def test_theta_aggregate_run_sql_matches_runner(spark, sf_dir, tmp_path):
    """run.sql builds the theta aggregate as the runner does: the
    emitted table, the runner's frame and the hand-written LEFT JOIN …
    GROUP BY hold the same rows."""
    from dataforge_core_spark.runner import ProjectRunner
    from tests.test_transit_aggregates import _run_sql_rows

    project = _theta_project(sf_dir)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    want = sorted(hubs["cust"].collect())
    assert want == _theta_expect(spark, sf_dir)
    assert _run_sql_rows(spark, project, tmp_path, "cust") == want


def test_theta_runner_build_starts_no_spark_job(spark, sf_dir):
    """Compiling a theta aggregate is lazy: building the hubs starts no
    Spark job."""
    from dataforge_core_spark.runner import ProjectRunner

    project = _theta_project(sf_dir)
    sc = spark.sparkContext
    # a group of its own: jobs of earlier tests that the status
    # listener registers late cannot count here
    sc.setJobGroup("theta_build", "theta hub build")
    try:
        ProjectRunner(spark, project, persist_hubs=False).build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("theta_build") == []


def test_theta_aggregate_shared_and_null_domain(spark, tmp_path):
    """Hand-computed rows: rows 1 and 2 share the domain tuple (10, 5)
    and get the same aggregates; row 3's NULL a_lo matches no b row, so
    it gets the empty-set results (count 0, sum NULL) — in the runner's
    frame and in the run.sql table alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner
    from tests.test_transit_aggregates import _run_sql_rows

    pq.write_table(
        pa.table({
            "a_id": pa.array([1, 2, 3, 4], pa.int64()),
            "a_k": pa.array([10, 10, 10, 20], pa.int64()),
            "a_lo": pa.array([5, 5, None, 1], pa.int64()),
        }),
        str(tmp_path / "a.parquet"),
    )
    pq.write_table(
        pa.table({
            "b_k": pa.array([10, 10, 10, 20, 20], pa.int64()),
            "b_v": pa.array([3, 7, 9, 0, 2], pa.int64()),
        }),
        str(tmp_path / "b.parquet"),
    )
    a = parse_source_dict(
        {
            "source_name": "a",
            "source_table": f"{tmp_path}/a.parquet",
            "target_table": "hub_a_dom",
            "raw_attributes": ["a_id long", "a_k long", "a_lo long"],
            "rules": [
                {"name": "n", "expression": "COUNT([b].b_v)"},
                {"name": "s", "expression": "SUM([b].b_v)"},
            ],
        }
    )
    b = parse_source_dict(
        {
            "source_name": "b",
            "source_table": f"{tmp_path}/b.parquet",
            "target_table": "hub_b_dom",
            "raw_attributes": ["b_k long", "b_v long"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[a]- above -[b]",
                "expression": (
                    "[This].a_k = [Related].b_k "
                    "AND [This].a_lo < [Related].b_v"
                ),
                "cardinality": "1-M",
            }
        ]
    )
    project = Project(sources=[a, b], relations=rels)
    want = [
        (1, 10, 5, 2, 16),
        (2, 10, 5, 2, 16),
        (3, 10, None, 0, None),
        (4, 20, 1, 1, 2),
    ]
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = sorted(tuple(r) for r in hubs["a"].collect())
    assert got == want
    emitted = _run_sql_rows(spark, project, tmp_path, "a")
    assert sorted(tuple(r) for r in emitted) == want
