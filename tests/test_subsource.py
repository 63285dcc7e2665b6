"""Engine-level sub-sources (§2.11): element rules over a parent's
array<struct> attribute, re-packed in place; DataFrame and emitted-SQL
paths agree with the flat computation."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def nested_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("subsource") / "orders_nested")
    spark.sql(
        f"""
        SELECT o.o_orderkey, o.o_custkey,
               collect_list(struct(
                 l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount
               )) AS items
        FROM parquet.`{sf_dir}/orders.parquet` o
        JOIN parquet.`{sf_dir}/lineitem.parquet` l
          ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_custkey
        """
    ).write.mode("overwrite").parquet(path)
    return path


_ITEM_FIELDS = [
    ("l_linenumber", "integer"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
]


def _project(path):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    items_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in _ITEM_FIELDS
            ],
        },
        "containsNull": True,
    }
    parent = parse_source_dict(
        {
            "source_name": "orders_n",
            "source_table": path,
            "target_table": "hub_orders_n",
            "raw_attributes": [
                "o_orderkey long",
                "o_custkey long",
                {"name": "items", "schema": items_schema},
            ],
        }
    )
    sub = parse_source_dict(
        {
            "source_name": "order_items",
            "sub_source": {"parent": "orders_n", "attribute": "items"},
            "raw_attributes": [f"{n} {t}" for n, t in _ITEM_FIELDS],
            "rules": [
                {
                    "name": "net_price",
                    "expression": (
                        "CAST(CAST([This].l_extendedprice AS decimal(18,2)) "
                        "* CAST(1 - [This].l_discount AS decimal(8,4)) "
                        "AS decimal(38,12))"
                    ),
                },
                # rule composing another element rule
                {
                    "name": "big_item",
                    "expression": "[This].net_price > 50000 AND [This].l_quantity > 10",
                },
            ],
        }
    )
    return Project(sources=[parent, sub])


def test_sub_source_enrichment(spark, nested_parquet):
    from dataforge_core_spark.plans.planner import build_levels
    from dataforge_core_spark.runner import ProjectRunner

    project = _project(nested_parquet)
    runner = ProjectRunner(spark, project, persist_hubs=False)
    # sub not a hub
    assert build_levels(project, runner.compiler.graph) == [["orders_n"]]
    hubs = runner.build()
    hub = hubs["orders_n"]
    assert "order_items" in hub.columns
    # element schema: raw fields + rules
    el = hub.schema["order_items"].dataType.elementType
    assert [f.name for f in el.fields] == [
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "net_price",
        "big_item",
    ]
    # flat verification: explode the enriched array, compare to direct calc
    hub.createOrReplaceTempView("hub_orders_n_v")
    flat = spark.sql(
        """
        SELECT o_orderkey, x.l_linenumber AS ln, x.net_price AS np,
               x.big_item AS bi
        FROM hub_orders_n_v LATERAL VIEW explode(order_items) t AS x
        """
    )
    expect = spark.sql(
        f"""
        SELECT o_orderkey, x.l_linenumber AS ln,
               CAST(CAST(x.l_extendedprice AS decimal(18,2))
                    * CAST(1 - x.l_discount AS decimal(8,4))
                    AS decimal(38,12)) AS np
        FROM parquet.`{nested_parquet}` LATERAL VIEW explode(items) t AS x
        """
    )
    got = {(r["o_orderkey"], r["ln"]): r["np"] for r in flat.collect()}
    want = {(r["o_orderkey"], r["ln"]): r["np"] for r in expect.collect()}
    assert got == want
    assert any(r["bi"] for r in flat.collect())


def test_sub_source_sql_artifact(spark, nested_parquet, tmp_path):
    import shutil

    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    project = _project(nested_parquet)
    emitter = SqlEmitter(project, spark=spark)
    run_sql = emitter.emit_all(str(tmp_path))
    run_statements(spark, run_sql)
    sql_df = spark.table("hub_orders_n")
    df = ProjectRunner(spark, project, persist_hubs=False).build()["orders_n"]
    cols = sorted(df.columns)
    norm = lambda d: sorted(  # noqa: E731
        tuple(repr(r[c]) for c in cols) for r in d.collect()
    )
    assert norm(sql_df) == norm(df)


def _chain_project(path):
    """orders -> items -> charges: a sub-source OF a sub-source."""
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    charges_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "kind", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "amount", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    items_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "l_linenumber", "type": "integer",
                 "nullable": True, "metadata": {}},
                {"name": "l_quantity", "type": "double",
                 "nullable": True, "metadata": {}},
                {"name": "charges", "type": charges_schema,
                 "nullable": True, "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    parent = parse_source_dict(
        {
            "source_name": "orders_c",
            "source_table": path,
            "target_table": "hub_orders_c",
            "raw_attributes": [
                "o_orderkey long",
                {"name": "items", "schema": items_schema},
            ],
        }
    )
    sub = parse_source_dict(
        {
            "source_name": "c_items",
            "sub_source": {"parent": "orders_c", "attribute": "items"},
            "raw_attributes": [
                "l_linenumber integer",
                "l_quantity double",
                {"name": "charges", "schema": charges_schema},
            ],
            "rules": [
                {"name": "qty_x2", "expression": "[This].l_quantity * 2"},
            ],
        }
    )
    subsub = parse_source_dict(
        {
            "source_name": "c_charges",
            "sub_source": {"parent": "c_items", "attribute": "charges"},
            "raw_attributes": ["kind string", "amount double"],
            "rules": [
                {"name": "amount_x2", "expression": "[This].amount * 2"},
                {"name": "is_tax", "expression": "[This].kind = 'tax'"},
            ],
        }
    )
    return Project(sources=[parent, sub, subsub])


@pytest.fixture(scope="module")
def chain_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("subsource_chain") / "orders_chain")
    spark.sql(
        f"""
        SELECT o.o_orderkey,
               collect_list(struct(
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity,
                 array(
                   named_struct('kind', 'tax',
                                'amount', CAST(l.l_tax AS DOUBLE)),
                   named_struct('kind', 'disc',
                                'amount', CAST(l.l_discount AS DOUBLE))
                 ) AS charges
               )) AS items
        FROM parquet.`{sf_dir}/orders.parquet` o
        JOIN parquet.`{sf_dir}/lineitem.parquet` l
          ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
        """
    ).write.mode("overwrite").parquet(path)
    return path


def test_sub_source_chain(spark, chain_parquet):
    """Two-level chain: element rules apply at BOTH depths, each child
    packed as an extra struct field of its parent element."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.runner import ProjectRunner

    project = _chain_project(chain_parquet)
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_c"
    ]
    el = hub.schema["c_items"].dataType.elementType
    assert [f.name for f in el.fields] == [
        "l_linenumber", "l_quantity", "charges", "qty_x2", "c_charges",
    ]
    inner = el["c_charges"].dataType.elementType
    assert [f.name for f in inner.fields] == [
        "kind", "amount", "amount_x2", "is_tax",
    ]
    flat = (
        hub.select("o_orderkey", F.explode("c_items").alias("it"))
        .select(
            "o_orderkey",
            F.col("it.l_linenumber").alias("ln"),
            F.col("it.qty_x2").alias("qty_x2"),
            F.explode("it.c_charges").alias("ch"),
        )
        .select(
            "o_orderkey", "ln", "qty_x2",
            F.col("ch.kind").alias("kind"),
            F.col("ch.amount_x2").alias("amount_x2"),
            F.col("ch.is_tax").alias("is_tax"),
        )
    )
    expect = spark.sql(
        f"""
        SELECT o_orderkey, it.l_linenumber AS ln,
               it.l_quantity * 2 AS qty_x2,
               ch.kind, ch.amount * 2 AS amount_x2,
               ch.kind = 'tax' AS is_tax
        FROM parquet.`{chain_parquet}`
        LATERAL VIEW explode(items) t AS it
        LATERAL VIEW explode(it.charges) u AS ch
        """
    )
    key = lambda r: (r["o_orderkey"], r["ln"], r["kind"])  # noqa: E731
    got = {key(r): (r["qty_x2"], r["amount_x2"], r["is_tax"])
           for r in flat.collect()}
    want = {key(r): (r["qty_x2"], r["amount_x2"], r["is_tax"])
            for r in expect.collect()}
    assert got == want


def test_sub_source_chain_sql_artifact(spark, chain_parquet, tmp_path):
    """The emitted run.sql reproduces the chained DataFrame result."""
    import shutil

    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    project = _chain_project(chain_parquet)
    emitter = SqlEmitter(project, spark=spark)
    run_sql = emitter.emit_all(str(tmp_path))
    run_statements(spark, run_sql)
    sql_df = spark.table("hub_orders_c")
    df = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_c"
    ]
    cols = sorted(df.columns)
    norm = lambda d: sorted(  # noqa: E731
        tuple(repr(r[c]) for c in cols) for r in d.collect()
    )
    assert norm(sql_df) == norm(df)


def test_sub_source_ancestor_refs(spark, chain_parquet):
    """Element rules may reference ancestor attributes: the parent hub's
    columns and outer element fields are lexically visible inside the
    nested transform lambdas."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    project = _chain_project(chain_parquet)
    by_name = project.source_by_name()
    # depth-1 rule referencing the real parent's column
    by_name["c_items"].rules.append(
        parse_source_dict(
            {
                "source_name": "tmp",
                "raw_attributes": ["z long"],
                "rules": [
                    {
                        "name": "key_plus_line",
                        "expression": (
                            "[orders_c].o_orderkey * 10 + [This].l_linenumber"
                        ),
                    }
                ],
            }
        ).rules[0]
    )
    # depth-2 rule referencing the mid-level element field AND the
    # top-level hub column
    by_name["c_charges"].rules.append(
        parse_source_dict(
            {
                "source_name": "tmp2",
                "raw_attributes": ["z long"],
                "rules": [
                    {
                        "name": "weighted",
                        "expression": (
                            "[This].amount * [c_items].l_quantity"
                            " + [orders_c].o_orderkey * 0.0"
                        ),
                    }
                ],
            }
        ).rules[0]
    )
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_c"
    ]
    flat = (
        hub.select("o_orderkey", F.explode("c_items").alias("it"))
        .select(
            "o_orderkey",
            F.col("it.l_linenumber").alias("ln"),
            F.col("it.l_quantity").alias("qty"),
            F.col("it.key_plus_line").alias("kpl"),
            F.explode("it.c_charges").alias("ch"),
        )
        .select(
            "o_orderkey", "ln", "qty", "kpl",
            F.col("ch.amount").alias("amount"),
            F.col("ch.weighted").alias("weighted"),
        )
    )
    rows = flat.collect()
    assert rows
    for r in rows:
        assert r.kpl == r.o_orderkey * 10 + r.ln
        assert r.weighted == r.amount * r.qty


def test_sub_source_ancestor_ref_binds_to_named_ancestor(
    spark, chain_parquet
):
    """A qualified ancestor reference must bind to the NAMED ancestor
    even when a nearer scope has a same-named field: here the parent
    hub gains a rule `l_quantity` (= o_orderkey * 1000) while the
    c_items element struct also has a field l_quantity — a depth-2 rule
    referencing [orders_c].l_quantity must see the hub rule, and one
    referencing [c_items].l_quantity must see the element field."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    project = _chain_project(chain_parquet)
    by_name = project.source_by_name()
    mk = lambda nm, ex: parse_source_dict(  # noqa: E731
        {
            "source_name": "tmp",
            "raw_attributes": ["z long"],
            "rules": [{"name": nm, "expression": ex}],
        }
    ).rules[0]
    by_name["orders_c"].rules.append(
        mk("l_quantity", "[This].o_orderkey * 1000")
    )
    by_name["c_charges"].rules.append(
        mk("from_hub", "[orders_c].l_quantity + 0")
    )
    by_name["c_charges"].rules.append(
        mk("from_item", "[c_items].l_quantity + 0")
    )
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_c"
    ]
    flat = (
        hub.select(
            "o_orderkey", F.explode("c_items").alias("it")
        )
        .select(
            "o_orderkey",
            F.col("it.l_quantity").alias("qty"),
            F.explode("it.c_charges").alias("ch"),
        )
        .select(
            "o_orderkey", "qty",
            F.col("ch.from_hub").alias("from_hub"),
            F.col("ch.from_item").alias("from_item"),
        )
    )
    for r in flat.collect():
        assert r.from_hub == r.o_orderkey * 1000  # NOT captured by field
        assert r.from_item == r.qty


def test_sub_source_cycle_rejected(spark):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project, ProjectError

    a = parse_source_dict(
        {
            "source_name": "a",
            "sub_source": {"parent": "b", "attribute": "arr"},
            "raw_attributes": ["arr string"],
        }
    )
    b = parse_source_dict(
        {
            "source_name": "b",
            "sub_source": {"parent": "a", "attribute": "arr"},
            "raw_attributes": ["arr string"],
        }
    )
    with pytest.raises(ProjectError, match="circular"):
        Project(sources=[a, b]).validate_names()
        from dataforge_core_spark.loader import _validate_references

        _validate_references(Project(sources=[a, b]))


def test_sub_source_rejects_lookups(spark, nested_parquet):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project, ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project = _project(nested_parquet)
    sub = project.source_by_name()["order_items"]
    from dataforge_core_spark.model import Rule

    sub.rules.append(Rule(name="bad", expression="SUM([orders_n].o_custkey)"))
    runner = ProjectRunner(spark, project, persist_hubs=False)
    with pytest.raises(ProjectError):
        runner.build()


# ---------------------------------------------------------------------------
# Sibling sub-source references: a rule in sub-source B may reference
# [A].attr where A is another sub-source of the SAME parent — the token
# resolves to the array of A's enriched attribute values (A's transform
# is a pure expression over the shared parent scope).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sibling_parquet(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("subsource_sib") / "orders_sib")
    spark.sql(
        f"""
        SELECT o.o_orderkey,
               collect_list(struct(
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity,
                 CAST(l.l_extendedprice AS DOUBLE) AS l_extendedprice
               )) AS items,
               array(
                 named_struct('kind', 'tax',
                              'rate', CAST(max(l.l_tax) AS DOUBLE)),
                 named_struct('kind', 'disc',
                              'rate', CAST(max(l.l_discount) AS DOUBLE))
               ) AS fees
        FROM parquet.`{sf_dir}/orders.parquet` o
        JOIN parquet.`{sf_dir}/lineitem.parquet` l
          ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
        """
    ).write.mode("overwrite").parquet(path)
    return path


def _sibling_project(path, fee_rules=None, item_rules=None):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    items_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "l_linenumber", "type": "integer",
                 "nullable": True, "metadata": {}},
                {"name": "l_quantity", "type": "double",
                 "nullable": True, "metadata": {}},
                {"name": "l_extendedprice", "type": "double",
                 "nullable": True, "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    fees_schema = {
        "type": "array",
        "elementType": {
            "type": "struct",
            "fields": [
                {"name": "kind", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "rate", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        },
        "containsNull": True,
    }
    parent = parse_source_dict(
        {
            "source_name": "orders_s",
            "source_table": path,
            "target_table": "hub_orders_s",
            "raw_attributes": [
                "o_orderkey long",
                {"name": "items", "schema": items_schema},
                {"name": "fees", "schema": fees_schema},
            ],
        }
    )
    items = parse_source_dict(
        {
            "source_name": "s_items",
            "sub_source": {"parent": "orders_s", "attribute": "items"},
            "raw_attributes": [
                "l_linenumber integer",
                "l_quantity double",
                "l_extendedprice double",
            ],
            "rules": item_rules or [
                {
                    "name": "gross",
                    "expression": "[This].l_quantity * [This].l_extendedprice",
                },
            ],
        }
    )
    fees = parse_source_dict(
        {
            "source_name": "s_fees",
            "sub_source": {"parent": "orders_s", "attribute": "fees"},
            "raw_attributes": ["kind string", "rate double"],
            "rules": fee_rules or [
                # sibling RAW attribute -> array, sized
                {"name": "n_items", "expression": "size([s_items].l_linenumber)"},
                # sibling RULE (enriched field) -> array, reduced
                {
                    "name": "fee_on_max_gross",
                    "expression": "[This].rate * array_max([s_items].gross)",
                },
            ],
        }
    )
    return Project(sources=[parent, items, fees])


def test_sub_source_sibling_refs(spark, sibling_parquet):
    from pyspark.sql import functions as F

    from dataforge_core_spark.runner import ProjectRunner

    project = _sibling_project(sibling_parquet)
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_s"
    ]
    el = hub.schema["s_fees"].dataType.elementType
    assert [f.name for f in el.fields] == [
        "kind", "rate", "n_items", "fee_on_max_gross",
    ]
    flat = hub.select(
        "o_orderkey", F.explode("s_fees").alias("f")
    ).select(
        "o_orderkey",
        F.col("f.kind").alias("kind"),
        F.col("f.n_items").alias("n_items"),
        F.col("f.fee_on_max_gross").alias("fmg"),
    )
    expect = spark.sql(
        f"""
        SELECT o_orderkey, f.kind,
               size(items) AS n_items,
               f.rate * array_max(
                 transform(items, x -> x.l_quantity * x.l_extendedprice)
               ) AS fmg
        FROM parquet.`{sibling_parquet}`
        LATERAL VIEW explode(fees) t AS f
        """
    )
    key = lambda r: (r["o_orderkey"], r["kind"])  # noqa: E731
    got = {key(r): (r["n_items"], r["fmg"]) for r in flat.collect()}
    want = {key(r): (r["n_items"], r["fmg"]) for r in expect.collect()}
    assert got == want


def test_sub_source_sibling_sql_artifact(spark, sibling_parquet, tmp_path):
    """The emitted run.sql reproduces the sibling-ref DataFrame result
    (shared sub_source_sql path)."""
    import shutil

    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    project = _sibling_project(sibling_parquet)
    emitter = SqlEmitter(project, spark=spark)
    run_sql = emitter.emit_all(str(tmp_path))
    run_statements(spark, run_sql)
    sql_df = spark.table("hub_orders_s")
    df = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_s"
    ]
    cols = sorted(df.columns)
    norm = lambda d: sorted(  # noqa: E731
        tuple(repr(r[c]) for c in cols) for r in d.collect()
    )
    assert norm(sql_df) == norm(df)


def test_sub_source_sibling_cycle_rejected(spark, sibling_parquet):
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project = _sibling_project(
        sibling_parquet,
        item_rules=[
            {"name": "n_fees", "expression": "size([s_fees].kind)"},
        ],
        fee_rules=[
            {"name": "n_items", "expression": "size([s_items].l_quantity)"},
        ],
    )
    with pytest.raises(ProjectError, match="[Cc]ircular sibling"):
        ProjectRunner(spark, project, persist_hubs=False).build()


def test_sub_source_sibling_unknown_attr(spark, sibling_parquet):
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.runner import ProjectRunner

    project = _sibling_project(
        sibling_parquet,
        fee_rules=[
            {"name": "bad", "expression": "size([s_items].nope)"},
        ],
    )
    with pytest.raises(ProjectError, match="no\\s+attribute 'nope'"):
        ProjectRunner(spark, project, persist_hubs=False).build()
