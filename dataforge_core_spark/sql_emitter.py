"""Spark SQL text emitter — the reference's build artifact format.

``dataforge --build`` writes per-source / per-output SQL files plus a
``run.sql`` (importProject.py:125-150; svc_generate_queries.sql:85-127).
This emitter produces the same artifact shape from our plans:

- per source: ``DROP TABLE IF EXISTS hub; CREATE TABLE hub AS WITH cte0
  AS (...), cte1 AS (...) SELECT ... FROM cteN`` — CTE levels mirror the
  planner's stratification (u_enr_query_generate_query.sql:45-99,121-142)
- each level's join SELECT and rule SELECT come from plans/render.py,
  the SQL the DataFrame compiler runs too; here they read hub *tables*,
  enforcing the same build-order dependency as the reference (S2)
- per output: SELECT/WHERE/GROUP BY/UNION ALL
  (u_output_generate_query.sql:88-155)
- run.sql: all source statements in topological order, then outputs

The emitted SQL is executable Spark SQL: `run_statements` splits on
unquoted ';' (databricks_sql.py:49) and runs each on the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dataforge_core_spark.backends import statements
from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Output,
    Project,
    Source,
)
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.outputs import plan_output
from dataforge_core_spark.plans.planner import build_levels, plan_source
from dataforge_core_spark.plans.render import HubRenderer


class SqlEmitter:
    def __init__(
        self,
        project: Project,
        substitutions: dict | None = None,
        spark: SparkSession | None = None,
        bucket_by: dict[str, list[str]] | str | None = None,
        n_buckets: int = 32,
    ):
        self.project = project
        self.graph = RelationGraph(project.relations)
        self.by_name = project.source_by_name()
        self.subs = substitutions or {}
        self.spark = spark
        self._types: dict[tuple[str, str], str] | None = None
        if bucket_by == "auto":
            from dataforge_core_spark.paths import derive_bucket_keys

            bucket_by = derive_bucket_keys(project.relations)
        self.bucket_by = bucket_by or {}
        self.n_buckets = n_buckets

    def _rule_types(self) -> dict[tuple[str, str], str]:
        """``(source, rule) -> datatypes-view column`` from the type
        probes ``validate_project`` runs (cache hits after a validate),
        as the reference emits from the types its import-time probes
        stored (importProject.py:81-111).  Empty without a session
        (decimal normalization is then skipped in the artifact)."""
        if self.spark is None:
            return {}
        if self._types is None:
            from dataforge_core_spark.probe import infer_types

            self._types = infer_types(self.spark, self.project)[1]
        return self._types

    # ------------------------------------------------------------------
    def _table(self, source: Source) -> str:
        ref = source.source_table
        for k, v in self.subs.items():
            ref = ref.replace("${" + k + "}", v)
        if "/" in ref:  # path -> executable direct-file scan
            fmt = "parquet"
            return f"{fmt}.`{ref}`"
        return ref

    def _hub(self, source_name: str) -> str:
        return self.by_name[source_name].target_table

    # ------------------------------------------------------------------
    def emit_source(self, source: Source) -> str:
        from dataforge_core_spark.sources.readers import parse_datatype_json

        plan = plan_source(self.project, self.graph, source)

        def ddl(a):
            if a.schema_json is not None:
                return parse_datatype_json(a.schema_json).simpleString()
            return a.spark_ddl

        raw_cols = ",\n    ".join(
            f"CAST(`{a.name}` AS {ddl(a)}) AS `{a.name}`"
            for a in source.raw_attributes
        )
        ctes = [f"cte0 AS (\n  SELECT\n    {raw_cols}\n  FROM {self._table(source)}\n)"]
        r = HubRenderer(self.project, self.graph, plan)
        prev = "cte0"

        def fill(text: str) -> str:
            return text.format(prev=prev, **r.relations(self._hub))

        types = self._rule_types()
        # each level's joins attach in a CTE of their own (cte<n>j), so the
        # level's rules read one relation, where a bare [This] column
        # cannot clash with a joined hub's
        for li, level in enumerate(r.levels(), start=1):
            if level.joins:
                sql = fill(r.join_select(level.joins))
                ctes.append(f"cte{li}j AS (\n{sql}\n)")
                prev = f"cte{li}j"
            # P3 decimal normalization from the probe types, as the
            # DataFrame path reads it off each level's types
            decimals = {
                n for n in level.rules
                if types.get((source.source_name, n)) == "decimal"
            }
            sql = fill(r.rule_select(level.rules, decimals))
            ctes.append(f"cte{li} AS (\n{sql}\n)")
            prev = f"cte{li}"
        body = "WITH " + ",\n".join(ctes) + "\n" + fill(r.final_select())
        keys = self.bucket_by.get(source.source_name)
        if keys:
            # bucketed hub DDL — same property the runner's
            # materialize(bucket_by=...) gives the parquet path: repeated
            # joins/groupBys on the key reuse write-time partitioning
            cols = ", ".join(f"`{k}`" for k in keys)
            create = (
                f"CREATE TABLE {source.target_table} USING PARQUET\n"
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {self.n_buckets} BUCKETS AS\n"
            )
        else:
            create = f"CREATE TABLE {source.target_table} AS\n"
        return (
            f"DROP TABLE IF EXISTS {source.target_table};\n"
            f"{create}{body};\n"
        )

    # ------------------------------------------------------------------
    def emit_output(self, output: Output) -> str:
        """Renders :func:`plan_output` as one CTAS."""
        plans = plan_output(self.project, output)
        parts = []
        for cp in plans:
            where = ["true"]
            if cp.codes is not None:
                quoted = ", ".join(f"'{c}'" for c in cp.codes)
                where.append(f"s_validation_status_code IN ({quoted})")
            if cp.filter_sql is not None:
                where.append(f"({cp.filter_sql})")
            sel = [
                f"CAST({cp.select.get(c.name, 'null')} AS "
                f"{HIVE_TO_SPARK_DDL[c.hive_type]}) AS `{c.name}`"
                for c in output.columns
            ]
            q = (
                "SELECT\n    "
                + ",\n    ".join(sel)
                + f"\n  FROM {cp.source.target_table}\n  WHERE "
                + " AND ".join(where)
            )
            if cp.group_by:
                q += "\n  GROUP BY " + ", ".join(
                    cp.select[c] for c in cp.group_by
                )
            parts.append(q)
        # left-associative like compile_output: every operand is
        # parenthesized because bare SQL binds INTERSECT tighter than
        # UNION/EXCEPT, which would regroup mixed chains
        _OPS = {"intersect": "INTERSECT", "except": "EXCEPT"}
        body = parts[0]
        for cp, part in zip(plans[1:], parts[1:]):
            body = f"({body})\n  {_OPS.get(cp.set_op, 'UNION ALL')}\n  ({part})"
        part_cols = output.partition_columns()
        if part_cols:
            # partition hint ("9 outputColumnTable.sql":18) -> Spark
            # partitioned CTAS; directory pruning on the key at read time
            quoted = ", ".join(f"`{c}`" for c in part_cols)
            create = (
                f"CREATE TABLE {output.output_name} USING PARQUET\n"
                f"PARTITIONED BY ({quoted}) AS\n  {body};\n"
            )
        else:
            create = f"CREATE TABLE {output.output_name} AS\n  {body};\n"
        return f"DROP TABLE IF EXISTS {output.output_name};\n{create}"

    # ------------------------------------------------------------------
    def emit_all(self, target_dir: str) -> str:
        """Write target/sources/*.sql, target/outputs/*.sql, target/run.sql
        (importProject.py:80-90 directory layout).  Returns run.sql text."""
        os.makedirs(os.path.join(target_dir, "sources"), exist_ok=True)
        os.makedirs(os.path.join(target_dir, "outputs"), exist_ok=True)
        # hubs in build order (svc_generate_queries.sql:18-53), then outputs
        files = [
            ("sources", name, self.emit_source(self.by_name[name]))
            for level in build_levels(self.project, self.graph)
            for name in level
        ] + [
            ("outputs", out.output_name, self.emit_output(out))
            for out in self.project.outputs
        ]
        for kind, name, sql in files:
            with open(os.path.join(target_dir, kind, f"{name}.sql"), "w") as f:
                f.write(sql)
        run_sql = "\n".join(sql for _, _, sql in files)
        with open(os.path.join(target_dir, "run.sql"), "w") as f:
            f.write(run_sql)
        return run_sql


# -- helpers ---------------------------------------------------------------

def run_statements(spark: SparkSession, sql_text: str) -> int:
    """Split on ';' outside quotes and execute sequentially
    (databricks_sql.py:47-60).  Returns the statement count."""
    n = 0
    for n, stmt in enumerate(statements(sql_text), start=1):
        spark.sql(stmt)
    return n
