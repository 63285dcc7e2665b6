"""Driver-facing rows for engine paths previously covered only by pytest:
self-joins (J3 — u_enr_query_generate_query.sql:90-91), recalculation
parity (W4 — u_enr_query_generate_elements.sql:62-75), engine sub-sources
(§2.11 — svc_parse_source.sql sub-source branch), struct-key output
mappings (P7 — impc_parse_mapping.sql:25,39; u_get_struct_key_datatype.sql:
1-45), and execution of the emitted SQL artifact (S6/S7 —
databricks_sql.py:47-60; importProject.py:125-150).

Each entry is a (spark, sf_dir) -> DataFrame callable with a DuckDB oracle
recomputing the same result from the base parquet tables, so the round
driver's value-hash compare gates the engine path itself.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dataforge_core_spark.sources.readers import read_table

_PROJECT_DIR = os.path.normpath(
    os.path.join(os.path.dirname(__file__), "..", "..", "projects", "tpch_demo")
)


def canonicalize(df: DataFrame) -> DataFrame:
    """Comparison-boundary canonicalization (the driver hashes pandas
    frames):

    - DECIMAL -> DOUBLE: Spark's toPandas yields ``Decimal`` objects while
      DuckDB's ``.df()`` yields float64, so bit-identical values hash
      differently.  Engine arithmetic stays decimal-exact; only the
      driver-facing column is cast.  Oracles mirror with
      ``CAST(CAST(x AS VARCHAR) AS DOUBLE)`` — DuckDB's direct decimal
      cast double-rounds for wide scales, the string route is correctly
      rounded like Spark's BigDecimal cast.
    - array<string> -> sorted comma-joined string: pandas ``sort_values``
      cannot factorize list cells (unhashable).
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            cols.append(F.col(f.name).cast("double").alias(f.name))
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StringType
        ):
            cols.append(
                F.array_join(F.sort_array(F.col(f.name)), ",").alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# J3 — self-relation lookup AND self-relation aggregate in one source.
# The reference joins cte(n-1) for self paths
# (u_enr_query_generate_query.sql:90-91); our compiler mirrors with the
# in-flight relation (the join SELECT of plans/render.py over {prev}).
# ---------------------------------------------------------------------------


def engine_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
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
                {
                    "name": "cust_order_cnt",
                    "expression": "count([orders_sj].o_orderkey)",
                    "parameters": [
                        {
                            "source_name": "orders_sj",
                            "relations": [
                                "[orders_sj]- same_cust -[orders_sj]"
                            ],
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
            },
            {
                "name": "[orders_sj]- same_cust -[orders_sj]",
                "expression": "[This].o_custkey = [Related].o_custkey",
                "cardinality": "1-M",
            },
        ]
    )
    project = Project(sources=[src], relations=rels)
    hub = ProjectRunner(spark, project, persist_hubs=False).build()["orders_sj"]
    return canonicalize(hub)


_SELFJOIN_ORACLE = """
SELECT a.o_orderkey, a.o_custkey, a.o_totalprice,
       b.o_totalprice AS prev_price,
       g.cnt AS cust_order_cnt
FROM orders a
LEFT JOIN orders b ON a.o_orderkey = b.o_orderkey + 1
LEFT JOIN (
  SELECT o_custkey, COUNT(o_orderkey) AS cnt FROM orders GROUP BY o_custkey
) g ON a.o_custkey = g.o_custkey
"""


# ---------------------------------------------------------------------------
# W4 — recalculation parity: corrupt the window column of a built hub,
# recalculate() only the keep_current closure, and value-match the result
# against the full-rebuild oracle.  A green row proves incremental ==
# full rebuild (u_enr_query_generate_elements.sql:62-75).
# ---------------------------------------------------------------------------


def _orders_only_project():
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.model import Project

    project = load_project(_PROJECT_DIR)
    orders = project.source_by_name()["tpch_orders"]
    return Project(sources=[orders], relations=[], outputs=[]), orders


def engine_recalc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.runner import ProjectRunner

    project, orders = _orders_only_project()
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    hubs = runner.build()
    stale = hubs["tpch_orders"].withColumn("cust_order_rank", F.lit(-1))
    recalced = runner.compiler.recalculate(orders, stale, hubs)
    return canonicalize(recalced)


_ORDERS_HUB_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority,
       strftime(o_orderdate, '%Y%m') AS order_year_month,
       CAST(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,12))
            AS VARCHAR) AS DOUBLE) AS o_totalprice_dec,
       CASE WHEN o_totalprice > 150000 THEN true ELSE false END AS high_value,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS cust_order_rank,
       o_totalprice >= 0 AS valid_price,
       CASE WHEN NOT (o_totalprice >= 0) THEN 'F' ELSE 'P' END
         AS s_validation_status_code
FROM orders
"""


# ---------------------------------------------------------------------------
# S6/S7 — the emitted SQL artifact executed statement-by-statement
# (databricks_sql.py:47-60), then the created hub *table* returned for the
# value-hash compare.  A green row proves the artifact path produces the
# same hub as the DataFrame runner.
# ---------------------------------------------------------------------------


def engine_sql_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    project, orders = _orders_only_project()
    # a stale warehouse dir without a catalog entry (killed session) makes
    # DROP IF EXISTS a no-op while CREATE still fails LOCATION_ALREADY_EXISTS
    spark.sql(f"DROP TABLE IF EXISTS {orders.target_table}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(wh, orders.target_table), ignore_errors=True)
    target = tempfile.mkdtemp(prefix="dfspark_artifact_")
    emitter = SqlEmitter(project, {"DATA_DIR": sf_dir}, spark=spark)
    run_sql = emitter.emit_all(target)
    run_statements(spark, run_sql)
    return canonicalize(spark.table(orders.target_table))


# ---------------------------------------------------------------------------
# §2.11 — engine-path sub-source: element rules over a parent's
# array<struct> attribute, re-packed in place, exploded flat for the
# hashable driver compare.
# ---------------------------------------------------------------------------

_ITEM_FIELDS = [
    ("l_linenumber", "integer"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
]


def engine_subsource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    # pre-partition by the group key: partial collect_list cannot
    # reduce bytes, so the exchange carries plain rows instead of
    # object-serialized list buffers (r15, guide §2.3)
    spark.sql(
        f"""
        SELECT o_orderkey,
               collect_list(struct(
                 l_linenumber, l_quantity, l_extendedprice, l_discount
               )) AS items
        FROM (
          SELECT /*+ REPARTITION(o_orderkey) */ o.o_orderkey,
                 l.l_linenumber, l.l_quantity, l.l_extendedprice,
                 l.l_discount
          FROM parquet.`{sf_dir}/orders.parquet` o
          JOIN parquet.`{sf_dir}/lineitem.parquet` l
            ON l.l_orderkey = o.o_orderkey
        )
        GROUP BY o_orderkey
        """
    ).createOrReplaceTempView("engine_subsource_src")
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
            "source_table": "engine_subsource_src",
            "target_table": "hub_orders_n",
            "raw_attributes": [
                "o_orderkey long",
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
                {
                    "name": "big_item",
                    "expression": (
                        "[This].net_price > 50000 AND [This].l_quantity > 10"
                    ),
                },
            ],
        }
    )
    project = Project(sources=[parent, sub])
    hub = ProjectRunner(spark, project, persist_hubs=False).build()["orders_n"]
    flat = hub.select(
        "o_orderkey", F.explode("order_items").alias("x")
    ).select(
        "o_orderkey",
        F.col("x.l_linenumber").alias("l_linenumber"),
        F.col("x.net_price").cast("double").alias("net_price"),
        F.col("x.big_item").alias("big_item"),
    )
    return flat


_SUBSOURCE_ORACLE = """
WITH net AS (
  SELECT o.o_orderkey, l.l_linenumber, l.l_quantity,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS DECIMAL(38,12))
           AS np
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderkey, l_linenumber,
       CAST(CAST(np AS VARCHAR) AS DOUBLE) AS net_price,
       (np > 50000 AND l_quantity > 10) AS big_item
FROM net
"""


def engine_subsource_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 chains — sub-source OF a sub-source (the reference resolves
    nested sub-sources via a recursive parent walk,
    u_enr_query_get_top_most_parent_source_id.sql:19-21): orders ->
    items -> per-item charges, element rules applied at BOTH depths as
    nested transform lambdas, then exploded flat for the hashable
    driver compare."""
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    # pre-partitioned pack — see engine_subsource
    spark.sql(
        f"""
        SELECT o_orderkey,
               collect_list(struct(l_linenumber, l_quantity, charges))
                 AS items
        FROM (
          SELECT /*+ REPARTITION(o_orderkey) */ o.o_orderkey,
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity,
                 array(
                   named_struct('kind', 'tax',
                                'amount', CAST(l.l_tax AS DOUBLE)),
                   named_struct('kind', 'disc',
                                'amount', CAST(l.l_discount AS DOUBLE))
                 ) AS charges
          FROM parquet.`{sf_dir}/orders.parquet` o
          JOIN parquet.`{sf_dir}/lineitem.parquet` l
            ON l.l_orderkey = o.o_orderkey
        )
        GROUP BY o_orderkey
        """
    ).createOrReplaceTempView("engine_subsource_chain_src")
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
            "source_name": "orders_chain",
            "source_table": "engine_subsource_chain_src",
            "target_table": "hub_orders_chain",
            "raw_attributes": [
                "o_orderkey long",
                {"name": "items", "schema": items_schema},
            ],
        }
    )
    sub = parse_source_dict(
        {
            "source_name": "chain_items",
            "sub_source": {"parent": "orders_chain", "attribute": "items"},
            "raw_attributes": [
                "l_linenumber integer",
                "l_quantity double",
                {"name": "charges", "schema": charges_schema},
            ],
            "rules": [
                {"name": "qty_x2", "expression": "[This].l_quantity * 2"},
                # ancestor ref: the real parent's column is lexically
                # visible inside the element lambda
                {
                    "name": "key_line",
                    "expression": (
                        "[orders_chain].o_orderkey * 10 "
                        "+ [This].l_linenumber"
                    ),
                },
            ],
        }
    )
    subsub = parse_source_dict(
        {
            "source_name": "chain_charges",
            "sub_source": {"parent": "chain_items", "attribute": "charges"},
            "raw_attributes": ["kind string", "amount double"],
            "rules": [
                {"name": "amount_x2", "expression": "[This].amount * 2"},
                {"name": "is_tax", "expression": "[This].kind = 'tax'"},
                # depth-2 ancestor ref: outer element field
                {
                    "name": "weighted",
                    "expression": (
                        "[This].amount * [chain_items].l_quantity"
                    ),
                },
            ],
        }
    )
    project = Project(sources=[parent, sub, subsub])
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_chain"
    ]
    return (
        hub.select("o_orderkey", F.explode("chain_items").alias("it"))
        .select(
            "o_orderkey",
            F.col("it.l_linenumber").alias("l_linenumber"),
            F.col("it.qty_x2").alias("qty_x2"),
            F.col("it.key_line").alias("key_line"),
            F.explode("it.chain_charges").alias("ch"),
        )
        .select(
            "o_orderkey",
            "l_linenumber",
            "qty_x2",
            "key_line",
            F.col("ch.kind").alias("kind"),
            F.col("ch.amount_x2").alias("amount_x2"),
            F.col("ch.is_tax").alias("is_tax"),
            F.col("ch.weighted").alias("weighted"),
        )
    )


_SUBSOURCE_CHAIN_ORACLE = """
WITH charges AS (
  SELECT l_orderkey, l_linenumber, l_quantity, 'tax' AS kind,
         CAST(l_tax AS DOUBLE) AS amount
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, l_quantity, 'disc',
         CAST(l_discount AS DOUBLE)
  FROM lineitem
)
SELECT o.o_orderkey, c.l_linenumber,
       CAST(c.l_quantity AS DOUBLE) * 2 AS qty_x2,
       o.o_orderkey * 10 + c.l_linenumber AS key_line,
       c.kind,
       c.amount * 2 AS amount_x2,
       c.kind = 'tax' AS is_tax,
       c.amount * CAST(c.l_quantity AS DOUBLE) AS weighted
FROM charges c JOIN orders o ON o.o_orderkey = c.l_orderkey
"""


def engine_subsource_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 sibling references — an element rule in one sub-source
    referencing ANOTHER sub-source of the same parent ([sibling].attr
    resolves to the array of the sibling's enriched attribute values;
    the sibling's transform is a pure expression over the shared parent
    scope, so the whole construct stays one scan-side expression).
    Extension beyond the reference's recursive parent walk
    (u_enr_query_get_top_most_parent_source_id.sql:1-30), which only
    reaches ancestors."""
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    # pre-partitioned pack — see engine_subsource
    spark.sql(
        f"""
        SELECT o_orderkey,
               collect_list(struct(l_linenumber, l_quantity,
                                   l_extendedprice)) AS items,
               array(
                 named_struct('kind', 'tax',
                              'rate', CAST(max(l_tax) AS DOUBLE)),
                 named_struct('kind', 'disc',
                              'rate', CAST(max(l_discount) AS DOUBLE))
               ) AS fees
        FROM (
          SELECT /*+ REPARTITION(o_orderkey) */ o.o_orderkey,
                 l.l_linenumber,
                 CAST(l.l_quantity AS DOUBLE) AS l_quantity,
                 CAST(l.l_extendedprice AS DOUBLE) AS l_extendedprice,
                 l.l_tax, l.l_discount
          FROM parquet.`{sf_dir}/orders.parquet` o
          JOIN parquet.`{sf_dir}/lineitem.parquet` l
            ON l.l_orderkey = o.o_orderkey
        )
        GROUP BY o_orderkey
        """
    ).createOrReplaceTempView("engine_subsource_sib_src")
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
            "source_name": "orders_sib",
            "source_table": "engine_subsource_sib_src",
            "target_table": "hub_orders_sib",
            "raw_attributes": [
                "o_orderkey long",
                {"name": "items", "schema": items_schema},
                {"name": "fees", "schema": fees_schema},
            ],
        }
    )
    items = parse_source_dict(
        {
            "source_name": "sib_items",
            "sub_source": {"parent": "orders_sib", "attribute": "items"},
            "raw_attributes": [
                "l_linenumber integer",
                "l_quantity double",
                "l_extendedprice double",
            ],
            "rules": [
                {
                    "name": "gross",
                    "expression": (
                        "[This].l_quantity * [This].l_extendedprice"
                    ),
                },
            ],
        }
    )
    fees = parse_source_dict(
        {
            "source_name": "sib_fees",
            "sub_source": {"parent": "orders_sib", "attribute": "fees"},
            "raw_attributes": ["kind string", "rate double"],
            "rules": [
                # sibling RAW attribute -> array, sized
                {
                    "name": "n_items",
                    "expression": "size([sib_items].l_linenumber)",
                },
                # sibling RULE (enriched field) -> array, reduced
                {
                    "name": "fee_on_max_gross",
                    "expression": (
                        "[This].rate * array_max([sib_items].gross)"
                    ),
                },
            ],
        }
    )
    project = Project(sources=[parent, items, fees])
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[
        "orders_sib"
    ]
    return hub.select(
        "o_orderkey", F.explode("sib_fees").alias("f")
    ).select(
        "o_orderkey",
        F.col("f.kind").alias("kind"),
        F.col("f.rate").alias("rate"),
        F.col("f.n_items").alias("n_items"),
        F.col("f.fee_on_max_gross").alias("fee_on_max_gross"),
    )


_SUBSOURCE_SIBLINGS_ORACLE = """
WITH g AS (
  SELECT l.l_orderkey,
         COUNT(*) AS n_items,
         MAX(CAST(l.l_quantity AS DOUBLE)
             * CAST(l.l_extendedprice AS DOUBLE)) AS max_gross,
         CAST(MAX(l.l_tax) AS DOUBLE) AS tax_rate,
         CAST(MAX(l.l_discount) AS DOUBLE) AS disc_rate
  FROM lineitem l GROUP BY l.l_orderkey
),
f AS (
  SELECT l_orderkey, 'tax' AS kind, tax_rate AS rate, n_items, max_gross
  FROM g
  UNION ALL
  SELECT l_orderkey, 'disc', disc_rate, n_items, max_gross FROM g
)
SELECT o.o_orderkey, f.kind, f.rate,
       CAST(f.n_items AS INTEGER) AS n_items,
       f.rate * f.max_gross AS fee_on_max_gross
FROM f JOIN orders o ON o.o_orderkey = f.l_orderkey
"""


# ---------------------------------------------------------------------------
# P7 — struct-key output mappings `attr.key col`
# (impc_parse_mapping.sql:25,39; u_get_struct_key_datatype.sql:1-45) plus
# struct navigation inside a rule expression.
# ---------------------------------------------------------------------------


def engine_struct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.loader import (
        parse_output_dict,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    spark.sql(
        f"""
        SELECT doc_id,
               named_struct('w', CAST(n_chars % 640 AS INT),
                            'h', CAST(n_chars % 480 AS INT),
                            'fmt', lang) AS meta
        FROM parquet.`{sf_dir}/documents.parquet`
        """
    ).createOrReplaceTempView("engine_struct_src")
    src = parse_source_dict(
        {
            "source_name": "media",
            "source_table": "engine_struct_src",
            "target_table": "hub_media",
            "raw_attributes": [
                "doc_id long",
                {
                    "name": "meta",
                    "schema": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "w",
                                "type": "integer",
                                "nullable": True,
                                "metadata": {},
                            },
                            {
                                "name": "h",
                                "type": "integer",
                                "nullable": True,
                                "metadata": {},
                            },
                            {
                                "name": "fmt",
                                "type": "string",
                                "nullable": True,
                                "metadata": {},
                            },
                        ],
                    },
                },
            ],
            "rules": [
                {
                    "name": "area",
                    "expression": "CAST([This].meta.w AS bigint) * [This].meta.h",
                },
            ],
        }
    )
    out = parse_output_dict(
        {
            "output_name": "media_dims",
            "columns": ["doc long", "width int", "fmt string", "area long"],
            "channels": [
                {
                    "source_name": "media",
                    "mappings": [
                        "doc_id doc",
                        "meta.w width",
                        "meta.fmt fmt",
                        "area area",
                    ],
                }
            ],
        }
    )
    project = Project(sources=[src], outputs=[out])
    runner = ProjectRunner(spark, project, persist_hubs=False)
    return runner.build_outputs()["media_dims"]


_STRUCT_KEYS_ORACLE = """
SELECT doc_id AS doc,
       CAST(n_chars % 640 AS INTEGER) AS width,
       lang AS fmt,
       CAST(n_chars % 640 AS BIGINT) * CAST(n_chars % 480 AS BIGINT) AS area
FROM documents
"""


# ---------------------------------------------------------------------------
# S4/S5 — output sinks round-tripped through every sub-type
# (u_validate_output.sql:21-76): file/parquet and file/text (single-column
# check) re-read from disk, virtual re-read from the temp-view catalog.
# The returned frame joins all three paths, so a corruption in any sink
# drops rows or mismatches values in the driver compare.
# ---------------------------------------------------------------------------


def engine_output_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.loader import (
        parse_output_dict,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    src = parse_source_dict(
        {
            "source_name": "docs_os",
            "source_table": f"{sf_dir}/documents.parquet",
            "target_table": "hub_docs_os",
            "raw_attributes": ["doc_id long", "lang string", "n_chars long"],
            "rules": [
                {
                    "name": "doc_line",
                    "expression":
                        "concat(CAST([This].doc_id AS string), '|', "
                        "[This].lang)",
                },
            ],
        }
    )

    def _out(name, output_type, file_format, columns, mappings):
        return parse_output_dict(
            {
                "output_name": name,
                "output_type": output_type,
                "file_format": file_format,
                "columns": columns,
                "channels": [
                    {"source_name": "docs_os", "mappings": mappings}
                ],
            }
        )

    project = Project(
        sources=[src],
        outputs=[
            _out("os_file", "file", "parquet",
                 ["doc_id long", "lang string", "n_chars long"],
                 ["doc_id doc_id", "lang lang", "n_chars n_chars"]),
            _out("os_virtual", "virtual", None,
                 ["doc_id long", "lang string"],
                 ["doc_id doc_id", "lang lang"]),
            _out("os_text", "file", "text",
                 ["line string"], ["doc_line line"]),
        ],
    )
    base = tempfile.mkdtemp(prefix="dfspark_sinks_")
    ProjectRunner(spark, project, persist_hubs=False).materialize(base)

    # S3: the materialized hub parquet itself, re-read from its sink
    df_h = read_table(spark, os.path.join(base, "hub_docs_os")).select(
        "doc_id", F.col("doc_line").alias("hub_line")
    )
    df_p = read_table(spark, os.path.join(base, "os_file"))
    df_t = (
        spark.read.text(os.path.join(base, "os_text"))
        .select(
            F.split("value", "\\|").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\\|").getItem(1).alias("lang_txt"),
        )
    )
    df_v = spark.table("os_virtual").groupBy("lang").agg(
        F.count("*").alias("lang_docs")
    )
    return (
        df_p.join(df_t, "doc_id")
        .join(df_v, "lang")
        .join(df_h, "doc_id")
        .select(
            "doc_id", "lang", "n_chars", "lang_txt", "lang_docs", "hub_line"
        )
    )


_OUTPUT_SINKS_ORACLE = """
SELECT d.doc_id, d.lang, d.n_chars, d.lang AS lang_txt, g.lang_docs,
       CAST(d.doc_id AS VARCHAR) || '|' || d.lang AS hub_line
FROM documents d
JOIN (SELECT lang, COUNT(*) AS lang_docs FROM documents GROUP BY lang) g
  ON d.lang = g.lang
"""


# ---------------------------------------------------------------------------
# A1 — broad sweep of the 45-function aggregate whitelist
# ("10 aggregateTable.sql":11-54) through the engine's correlated-aggregate
# rule path: 26 whitelist-function rules over a 1-M relation (incl. the
# DISTINCT variants of count/sum/avg, the bool_and/bool_or aliases of
# every/some, any_value over a group-constant key, and
# approx_count_distinct compared on a cardinality small enough that HLL++
# is exact), each with a deterministic DuckDB equivalent.  Excluded from
# the hash compare by nature: order-dependent picks (first/last/mode),
# engine-specific sketches (count_min_sketch, schema_of_json_agg) and
# float-accumulation families (stddev/var/corr/skew/kurtosis) whose
# last-bit results are reduction-order-dependent on any engine.
#
# The sweep is split into THREE driver rows by aggregate family —
# numeric (hash-aggregate path), ordered/boolean picks (typed-imperative
# / HLL path) and collections (ObjectHashAggregate path).  One combined
# row compiled all 26 into a single groupBy+join whose Janino codegen
# width dominated the whole bench (4.1s warm, the heaviest engine row);
# the three narrow rows cover the identical 26 functions with ~1/3 the
# generated-code width each, and each exercises its own aggregate
# execution path in isolation.
# ---------------------------------------------------------------------------

_AGG_RULES = {
    "numeric": [
        ("order_cnt", "count([O].o_orderkey)"),
        ("big_cnt", "count_if([O].o_totalprice > 100000)"),
        ("spend", "sum([O].price_dec)"),
        ("avg_price", "avg([O].price_dec)"),
        ("min_price", "min([O].o_totalprice)"),
        ("max_price", "max([O].o_totalprice)"),
        ("key_or", "bit_or([O].o_orderkey)"),
        ("key_xor", "bit_xor([O].o_orderkey)"),
        # all three DISTINCT variants take the SAME child (o_orderkey):
        # Spark plans multi-distinct aggregates via Expand with one extra
        # branch PER DISTINCT CHILD, so aligning them keeps the expand
        # factor at 2 instead of 4 — the 100 TB-relevant plan shape.
        # (count(DISTINCT) over a second column is already
        # driver-exercised by hub_customer.distinct_status_count.)  Sums
        # of distinct bigint keys are exact; avg is one exact-sum
        # division -> deterministic on both engines.
        ("keys_d", "count(DISTINCT [O].o_orderkey)"),
        ("key_sum_d", "sum(DISTINCT [O].o_orderkey)"),
        ("avg_key_d", "avg(DISTINCT [O].o_orderkey)"),
        ("mean_key", "mean([O].o_orderkey)"),
    ],
    "ordered": [
        ("first_status", "min_by([O].o_orderstatus, [O].o_orderkey)"),
        ("last_status", "max_by([O].o_orderstatus, [O].o_orderkey)"),
        ("all_valid", "every([O].o_totalprice >= 0)"),
        ("any_big", "some([O].o_totalprice > 200000)"),
        ("any_huge", "any([O].o_totalprice > 300000)"),
        ("all_pos", "bool_and([O].o_totalprice >= 0)"),
        ("has_big", "bool_or([O].o_totalprice > 200000)"),
        ("med_price", "median([O].o_totalprice)"),
        ("p50_price", "percentile([O].o_totalprice, 0.5)"),
        # any_value over a group-constant column -> deterministic
        ("one_cust", "any_value([O].o_custkey)"),
        # exact at this cardinality (<=3 statuses), so HLL++ ==
        # COUNT(DISTINCT) on both engines
        ("status_card", "approx_count_distinct([O].o_orderstatus)"),
    ],
    "collection": [
        ("statuses", "array_sort(collect_set([O].o_orderstatus))"),
        ("status_list", "array_sort(collect_list([O].o_orderstatus))"),
        ("prio_list", "array_sort(array_agg([O].o_orderpriority))"),
    ],
}


def _agg_family_row(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    osrc = f"orders_aw_{family}"
    csrc = f"customer_aw_{family}"
    orders = parse_source_dict(
        {
            "source_name": osrc,
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": f"enriched_{osrc}",
            "raw_attributes": [
                "o_orderkey long",
                "o_custkey long",
                "o_totalprice double",
                "o_orderstatus string",
                "o_orderpriority string",
            ],
            "rules": [
                {  # exact decimal base for SUM/AVG (aggregate over a rule)
                    "name": "price_dec",
                    "expression": (
                        "CAST([This].o_totalprice AS decimal(18,2))"
                    ),
                },
            ],
        }
    )
    customer = parse_source_dict(
        {
            "source_name": csrc,
            "source_table": f"{sf_dir}/customer.parquet",
            "target_table": f"enriched_{csrc}",
            "raw_attributes": ["c_custkey long", "c_name string"],
            "rules": [
                {"name": name, "expression": expr.replace("[O]", f"[{osrc}]")}
                for name, expr in _AGG_RULES[family]
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": f"[{csrc}]- aw -[{osrc}]",
                "expression": "[This].c_custkey = [Related].o_custkey",
                "cardinality": "1-M",
            }
        ]
    )
    project = Project(sources=[customer, orders], relations=rels)
    hub = ProjectRunner(spark, project, persist_hubs=False).build()[csrc]
    return canonicalize(hub)


def engine_agg_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric aggregate family (count/sum/avg/min/max/bit + DISTINCT)."""
    return _agg_family_row(spark, sf_dir, "numeric")


def engine_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered/boolean-pick family (min_by/max_by/every/median/HLL...)."""
    return _agg_family_row(spark, sf_dir, "ordered")


def engine_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection family (collect_set/collect_list/array_agg)."""
    return _agg_family_row(spark, sf_dir, "collection")


# The engine's P3 pass normalizes decimal rules to DECIMAL(38,12): avg
# computes at DECIMAL(38,16) (Spark's p+4/s+4 rule) and the result is then
# re-normalized to scale 12, both roundings HALF_UP.  DuckDB's AVG returns
# an unrounded DOUBLE, so the oracle emulates Spark exactly in HUGEINT:
# units12 = half_up(cents * 10^10 / n) = floor((2*cents*10^10 + n) / (2n))
# (values non-negative; the intermediate scale-16 rounding can't move a
# scale-12 boundary), rendered as the exact scale-12 decimal string and
# CAST to DOUBLE — correctly rounded like Spark's BigDecimal.doubleValue,
# bit-identical at the comparison boundary.
_DUCK_AVG_DEC = """CAST(printf('%d.%012d',
           CAST(((2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                          AS HUGEINT) * 10000000000 + COUNT(*))
                 // (2 * COUNT(*))) // 1000000000000 AS BIGINT),
           CAST(((2 * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                          AS HUGEINT) * 10000000000 + COUNT(*))
                 // (2 * COUNT(*))) % 1000000000000 AS BIGINT))
           AS DOUBLE)"""

# (duck aggregate expression, outer default for customers with no orders:
# None -> NULL passthrough, "0" -> COALESCE 0, "''" -> COALESCE '')
_AGG_DUCK = {
    "order_cnt": ("COUNT(o_orderkey)", "0"),
    "big_cnt": ("COUNT(*) FILTER (WHERE o_totalprice > 100000)", "0"),
    "spend": (
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)"
        " AS DOUBLE)",
        None,
    ),
    "avg_price": (_DUCK_AVG_DEC, None),
    "min_price": ("MIN(o_totalprice)", None),
    "max_price": ("MAX(o_totalprice)", None),
    "key_or": ("BIT_OR(o_orderkey)", None),
    "key_xor": ("BIT_XOR(o_orderkey)", None),
    "keys_d": ("COUNT(DISTINCT o_orderkey)", "0"),
    "key_sum_d": ("CAST(SUM(DISTINCT o_orderkey) AS BIGINT)", None),
    "avg_key_d": ("AVG(DISTINCT o_orderkey)", None),
    "mean_key": ("AVG(o_orderkey)", None),
    "first_status": ("ARG_MIN(o_orderstatus, o_orderkey)", None),
    "last_status": ("ARG_MAX(o_orderstatus, o_orderkey)", None),
    "all_valid": ("BOOL_AND(o_totalprice >= 0)", None),
    "any_big": ("BOOL_OR(o_totalprice > 200000)", None),
    "any_huge": ("BOOL_OR(o_totalprice > 300000)", None),
    "all_pos": ("BOOL_AND(o_totalprice >= 0)", None),
    "has_big": ("BOOL_OR(o_totalprice > 200000)", None),
    "med_price": ("MEDIAN(o_totalprice)", None),
    "p50_price": ("quantile_cont(o_totalprice, 0.5)", None),
    "one_cust": ("ANY_VALUE(o_custkey)", None),
    "status_card": ("COUNT(DISTINCT o_orderstatus)", "0"),
    "statuses": (
        "array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')",
        "''",
    ),
    "status_list": (
        "array_to_string(list_sort(list(o_orderstatus)), ',')",
        "''",
    ),
    "prio_list": (
        "array_to_string(list_sort(list(o_orderpriority)), ',')",
        "''",
    ),
}


def _agg_family_oracle(family: str) -> str:
    names = [name for name, _ in _AGG_RULES[family]]
    inner = ",\n         ".join(
        f"{_AGG_DUCK[n][0]} AS {n}" for n in names
    )
    outer = ",\n       ".join(
        f"COALESCE(g.{n}, {_AGG_DUCK[n][1]}) AS {n}"
        if _AGG_DUCK[n][1] is not None
        else f"g.{n}"
        for n in names
    )
    return f"""
WITH g AS (
  SELECT o_custkey,
         {inner}
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name,
       {outer}
FROM customer c LEFT JOIN g ON c.c_custkey = g.o_custkey
"""


# ---------------------------------------------------------------------------
# Incremental append (extension; the reference is full-rebuild-only) —
# the daily-ingest path: the orders hub is built from pre-1997 raw rows
# only, then the 1997+ rows are appended through
# compiler.incremental_append, which compiles JUST the new rows and
# re-derives the window closure (cust_order_rank) over the merged frame,
# partition-pruned to the touched o_custkey groups.  The oracle is the
# FULL-rebuild orders hub — a green row proves append ≡ rebuild.
# ---------------------------------------------------------------------------


def engine_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sources.readers import read_source

    project, orders = _orders_only_project()
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    raw = read_source(spark, orders, {"DATA_DIR": sf_dir})
    base_raw = raw.filter("o_orderdate < DATE'1997-01-01'")
    inc_raw = raw.filter("o_orderdate >= DATE'1997-01-01'")
    base_hub = runner.compiler.compile_source(orders, base_raw, {})
    updated = runner.compiler.incremental_append(
        orders, base_hub, inc_raw, {}
    )
    return canonicalize(updated)


# ---------------------------------------------------------------------------
# Incremental upsert (extension) — MERGE semantics: every ~97th order is
# mutated (price bumped, date shifted, and MOVED to another customer)
# and upserted by o_orderkey into the hub built from the original rows.
# Moving a row across window partitions is the trap: the o_custkey group
# it LEAVES must recompute its ranks too, so the pruned recompute covers
# displaced-old plus incoming-new window keys
# (compiler.incremental_upsert).  Oracle = full rebuild on the mutated
# raw input.
# ---------------------------------------------------------------------------

_UPSERT_PRED = "o_orderkey % 97 = 0"


def engine_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sources.readers import read_source

    project, orders = _orders_only_project()
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    raw = read_source(spark, orders, {"DATA_DIR": sf_dir})
    mutated = (
        raw.filter(_UPSERT_PRED)
        .withColumn("o_custkey", F.expr("o_custkey + 1"))
        .withColumn("o_totalprice", F.expr("o_totalprice + 1000"))
        .withColumn("o_orderdate", F.expr("o_orderdate + INTERVAL 30 DAYS"))
    )
    existing = runner.compiler.compile_source(orders, raw, {})
    updated = runner.compiler.incremental_upsert(
        orders, existing, mutated, ["o_orderkey"], {}
    )
    return canonicalize(updated)


# full rebuild over the mutated raw rows: shadow the orders view with the
# same mutation and reuse the orders-hub oracle body
_UPSERT_ORACLE = (
    """
WITH orders_m AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1
              ELSE o_custkey END AS o_custkey,
         o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 97 = 0
              THEN o_orderdate + INTERVAL 30 DAY
              ELSE o_orderdate END AS o_orderdate,
         o_orderpriority
  FROM orders
)
"""
    + _ORDERS_HUB_ORACLE.replace("FROM orders", "FROM orders_m")
)


# ---------------------------------------------------------------------------
# O3 — INTERSECT / EXCEPT output channels (extension; absent from the
# reference's generator, SURVEY §2.6).  Channels combine
# left-associatively: (positive-balance customers) INTERSECT (customers
# appearing in orders) EXCEPT (customers with acctbal > 5000) — both set
# ops DISTINCT, standard SQL.  The emitted artifact parenthesizes each
# operand so the SQL grouping matches the DataFrame chain.
# ---------------------------------------------------------------------------


def _set_ops_project(sf_dir: str):
    from dataforge_core_spark.loader import (
        parse_output_dict,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    cust = parse_source_dict(
        {
            "source_name": "cust_so",
            "source_table": f"{sf_dir}/customer.parquet",
            "target_table": "enriched_cust_so",
            "raw_attributes": ["c_custkey long", "c_acctbal double"],
        }
    )
    orders = parse_source_dict(
        {
            "source_name": "orders_so",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "enriched_orders_so",
            "raw_attributes": ["o_orderkey long", "o_custkey long"],
        }
    )
    out = parse_output_dict(
        {
            "output_name": "cust_set_ops",
            "columns": ["cust long"],
            "channels": [
                {
                    "source_name": "cust_so",
                    "filter": "[This].c_acctbal > 0",
                    "mappings": ["c_custkey cust"],
                },
                {
                    "source_name": "orders_so",
                    "set_operation": "intersect",
                    "mappings": ["o_custkey cust"],
                },
                {
                    "source_name": "cust_so",
                    "set_operation": "except",
                    "filter": "[This].c_acctbal > 5000",
                    "mappings": ["c_custkey cust"],
                },
            ],
        }
    )
    return Project(sources=[cust, orders], outputs=[out])


def engine_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.runner import ProjectRunner

    runner = ProjectRunner(
        spark, _set_ops_project(sf_dir), persist_hubs=False
    )
    return runner.build_outputs()["cust_set_ops"]


_SET_OPS_ORACLE = """
SELECT cust FROM (
  (SELECT c_custkey AS cust FROM customer WHERE c_acctbal > 0)
  INTERSECT
  (SELECT o_custkey AS cust FROM orders)
) EXCEPT
(SELECT c_custkey AS cust FROM customer WHERE c_acctbal > 5000)
"""


# ---------------------------------------------------------------------------
# C8 — the stateful import/diff engine driven end-to-end
# (impc_execute.sql:1-221 orchestration; u_delete_cascade.sql cascade
# branches; impc_upsert_enrichments.sql:9-17 rule delete-missing).  A v1
# project is imported into a fresh MetaStore, then a mutated v2 is
# re-imported: one rule renamed (delete-missing + insert under the new
# name), one rule body updated in place (upsert keeps its id), and one
# source dropped while the import still carries the rules/relation that
# reference it — the engine must cascade-delete the direct lookup rule,
# its transitive dependent, and the relation (u_delete_cascade.sql
# 'source'/'enrichment'/'relation' branches).  The surviving state is
# compiled with the normal runner (the --from-state flow) and the rebuilt
# hub is value-compared; structural asserts on the diff (surviving rule
# set, id stability across the upsert, id change across the rename) fail
# the row loudly if the diff semantics regress.
# ---------------------------------------------------------------------------


def _import_diff_docs_source(sf_dir: str, v2: bool) -> dict:
    rules = [
        {
            # v2 renames chars_k -> chars_kilo: delete-missing + new id
            "name": "chars_kilo" if v2 else "chars_k",
            "expression": "CAST([This].n_chars AS double) / 1000",
        },
        {
            # same name in both versions: upsert must keep the id while
            # replacing the body
            "name": "is_long",
            "expression": (
                "[This].chars_kilo > 0.5" if v2 else "[This].chars_k > 0.4"
            ),
        },
        {
            # direct lookup into emb_im — cascade-deleted in v2 when
            # emb_im disappears from the import
            "name": "emb_label",
            "expression": "[emb_im].label",
        },
        {
            # transitive dependent of emb_label — recursive cascade
            "name": "label_sq",
            "expression": "[This].emb_label * [This].emb_label",
        },
    ]
    return {
        "source_name": "docs_im",
        "source_table": f"{sf_dir}/documents.parquet",
        "target_table": "enriched_docs_im",
        "raw_attributes": ["doc_id long", "lang string", "n_chars long"],
        "rules": rules,
    }


def engine_import_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataforge_core_spark.imports import MetaStore, import_project
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    emb = parse_source_dict(
        {
            "source_name": "emb_im",
            "source_table": f"{sf_dir}/embeddings.parquet",
            "target_table": "enriched_emb_im",
            "raw_attributes": ["vec_id long", "label int"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[docs_im]- by_key -[emb_im]",
                "expression": "[This].doc_id = [Related].vec_id",
                "cardinality": "M-1",
            }
        ]
    )
    v1 = Project(
        sources=[
            parse_source_dict(_import_diff_docs_source(sf_dir, v2=False)),
            emb,
        ],
        relations=rels,
    )
    # v2 drops emb_im but still carries the relation and the two rules
    # that (transitively) reference it — the cascade must remove them
    # after the upsert pass (impc_execute.sql:163-184 order).
    v2 = Project(
        sources=[parse_source_dict(_import_diff_docs_source(sf_dir, v2=True))],
        relations=rels,
    )

    store = MetaStore(tempfile.mkdtemp(prefix="dfspark_metastore_"))
    rep1 = import_project(store, v1)
    if "error" in rep1:
        raise RuntimeError(f"v1 import failed: {rep1}")
    docs_rules_v1 = store.state["sources"]["docs_im"]["rules"]
    is_long_id = docs_rules_v1["is_long"]["id"]
    chars_k_id = docs_rules_v1["chars_k"]["id"]

    rep2 = import_project(store, v2)
    if "error" in rep2:
        raise RuntimeError(f"v2 import failed: {rep2}")
    docs_rules_v2 = store.state["sources"]["docs_im"]["rules"]
    if set(docs_rules_v2) != {"chars_kilo", "is_long"}:
        raise RuntimeError(
            f"cascade left wrong rule set: {sorted(docs_rules_v2)}"
        )
    if docs_rules_v2["is_long"]["id"] != is_long_id:
        raise RuntimeError("upsert-by-name changed a matched rule's id")
    if docs_rules_v2["chars_kilo"]["id"] == chars_k_id:
        raise RuntimeError("renamed rule kept the deleted rule's id")
    if "emb_im" in store.state["sources"] or store.state["relations"]:
        raise RuntimeError("source/relation cascade did not delete")

    # compile straight from the imported state (the --from-state flow)
    rebuilt = MetaStore(store.state_dir).to_project()
    hub = ProjectRunner(spark, rebuilt, persist_hubs=False).build()["docs_im"]
    return canonicalize(hub)


_IMPORT_DIFF_ORACLE = """
SELECT doc_id, lang, n_chars,
       CAST(n_chars AS DOUBLE) / 1000 AS chars_kilo,
       (CAST(n_chars AS DOUBLE) / 1000) > 0.5 AS is_long
FROM documents
"""


# ---------------------------------------------------------------------------


def queries():
    return {
        "engine_selfjoin": engine_selfjoin,
        "engine_recalc": engine_recalc,
        "engine_sql_artifact": engine_sql_artifact,
        "engine_subsource": engine_subsource,
        "engine_subsource_chain": engine_subsource_chain,
        "engine_subsource_siblings": engine_subsource_siblings,
        "engine_struct_keys": engine_struct_keys,
        "engine_agg_numeric": engine_agg_numeric,
        "engine_agg_ordered": engine_agg_ordered,
        "engine_agg_collect": engine_agg_collect,
        "engine_output_sinks": engine_output_sinks,
        "engine_import_diff": engine_import_diff,
        "engine_set_ops": engine_set_ops,
        "engine_incremental": engine_incremental,
        "engine_upsert": engine_upsert,
    }


def oracles():
    return {
        "engine_selfjoin": _SELFJOIN_ORACLE,
        "engine_recalc": _ORDERS_HUB_ORACLE,
        "engine_sql_artifact": _ORDERS_HUB_ORACLE,
        "engine_subsource": _SUBSOURCE_ORACLE,
        "engine_subsource_chain": _SUBSOURCE_CHAIN_ORACLE,
        "engine_subsource_siblings": _SUBSOURCE_SIBLINGS_ORACLE,
        "engine_struct_keys": _STRUCT_KEYS_ORACLE,
        "engine_agg_numeric": _agg_family_oracle("numeric"),
        "engine_agg_ordered": _agg_family_oracle("ordered"),
        "engine_agg_collect": _agg_family_oracle("collection"),
        "engine_output_sinks": _OUTPUT_SINKS_ORACLE,
        "engine_import_diff": _IMPORT_DIFF_ORACLE,
        "engine_set_ops": _SET_OPS_ORACLE,
        "engine_incremental": _ORDERS_HUB_ORACLE,
        "engine_upsert": _UPSERT_ORACLE,
    }
