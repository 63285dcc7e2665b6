"""Nested-data (sub-source) operators — SURVEY §2.11.

The reference's sub-source mechanism is documented intent (its 'S'-rule
path calls an undefined function and core YAML cannot create one); the
*shape* it reconstructs is ``array<struct<...>>`` built with
``ARRAY_AGG(STRUCT(...))`` and consumed with ``inline(...)`` /
``TRANSFORM(arr, X -> struct(...))`` (u_enr_query_add_enrichment.sql:
75-120, u_enr_query_generate_query.sql:20-23,52).  These queries exercise
that machinery natively:

- build   : orders_nested = orders + items array<struct<lineitem cols>>
            via collect_list(struct(...)) — one shuffle keyed by order
- consume : inline(items) + per-element transform() — rules over nested
            elements without re-joining

The oracle verifies the round-trip flat: nesting then inlining must equal
the plain join (order-insensitively), and the element-level transform must
equal the same scalar expression applied flat.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.sources.readers import read_table


def _views(spark: SparkSession, sf_dir: str) -> None:
    read_table(spark, f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders"
    )
    read_table(spark, f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )


def nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> items array<struct> -> inline back to flat rows, with a
    per-element transform() rule computed inside the nested scope.

    The double -> decimal CASTs run FLAT pre-pack (whole-stage codegen,
    vectorized) and only the decimal multiply + (38,12) normalization —
    the P3 rule proper — stays inside the transform() lambda:
    higher-order array functions are interpreted row-at-a-time, so
    per-element work in the lambda is the part of this lane that tracks
    host CPU 1:1 (value-identical, measured ~10% warm at sf0.1; the r8
    cross-host 3x on this lane was serial-CPU amplification — see
    ROADMAP, the lane runs ~3 CPU-seconds over <=10 tasks)."""
    _views(spark, sf_dir)
    # The pack pre-partitions the join output by the group key: partial
    # collect_list cannot reduce bytes (lists only concatenate), so the
    # default partial+final shape shuffles object-serialized list
    # buffers for nothing — repartitioning first moves the same rows as
    # plain unsafe rows and the aggregate runs in one pass (r15:
    # 1.9 -> 1.3s at sf0.1; guide §2.3/§2.4).
    return spark.sql(
        """
        WITH pre AS (
          SELECT /*+ REPARTITION(o_orderkey) */ o.o_orderkey, o.o_custkey,
                 l.l_linenumber, l.l_quantity,
                 CAST(l.l_extendedprice AS DECIMAL(18,2)) AS ext_dec,
                 CAST(1 - l.l_discount AS DECIMAL(8,4)) AS disc_dec
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        nested AS (
          SELECT o_orderkey, o_custkey,
                 collect_list(struct(l_linenumber, l_quantity,
                                     ext_dec, disc_dec)) AS items
          FROM pre GROUP BY o_orderkey, o_custkey
        ),
        enriched AS (
          SELECT o_orderkey, o_custkey,
                 transform(items, x -> struct(
                   x.l_linenumber, x.l_quantity,
                   CAST(x.ext_dec * x.disc_dec AS DECIMAL(38,12))
                     AS net_price
                 )) AS items
          FROM nested
        )
        SELECT o_orderkey, o_custkey,
               l_linenumber, l_quantity,
               CAST(net_price AS DOUBLE) AS net_price
        FROM enriched
        LATERAL VIEW inline(items) t AS l_linenumber, l_quantity, net_price
        """
    )


_ROUNDTRIP_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       l.l_linenumber, l.l_quantity,
       CAST(CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS DECIMAL(38,12))
         AS VARCHAR) AS DOUBLE) AS net_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def nested_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates computed over the nested array with higher-order
    functions (no re-explode): size() and aggregate() fold."""
    _views(spark, sf_dir)
    # same pack shape as nested_roundtrip: pre-partition by the group
    # key so collect_list runs after a plain row exchange
    return spark.sql(
        """
        WITH pre AS (
          SELECT /*+ REPARTITION(o_orderkey) */ o.o_orderkey,
                 l.l_linenumber, l.l_quantity
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        nested AS (
          SELECT o_orderkey,
                 collect_list(struct(l_linenumber, l_quantity)) AS items
          FROM pre GROUP BY o_orderkey
        )
        SELECT o_orderkey,
               size(items) AS n_items,
               aggregate(items, CAST(0 AS DOUBLE),
                         (acc, x) -> acc + x.l_quantity) AS total_qty
        FROM nested
        """
    )


# sum of doubles: quantities are small integers-valued -> exact in any order
_AGGREGATE_ORACLE = """
SELECT l.l_orderkey AS o_orderkey,
       CAST(COUNT(*) AS INTEGER) AS n_items,
       SUM(l.l_quantity) AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_orderkey
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "nested_roundtrip": nested_roundtrip,
        "nested_aggregate": nested_aggregate,
    }


def oracles() -> dict[str, str]:
    return {
        "nested_roundtrip": _ROUNDTRIP_ORACLE,
        "nested_aggregate": _AGGREGATE_ORACLE,
    }
