"""Spark SQL text emitter — the reference's build artifact format.

``dataforge --build`` writes per-source / per-output SQL files plus a
``run.sql`` (importProject.py:125-150; svc_generate_queries.sql:85-127).
This emitter produces the same artifact shape from our plans:

- per source: ``DROP TABLE IF EXISTS hub; CREATE TABLE hub AS WITH cte0
  AS (...), cte1 AS (...) SELECT ... FROM cteN`` — CTE levels mirror the
  planner's stratification (u_enr_query_generate_query.sql:45-99,121-142)
- lookup joins: ``LEFT JOIN <hub> J_<path> ON <pred>`` chains
  (u_enr_query_add_join.sql) — hub *tables*, enforcing the same
  build-order dependency as the reference (S2)
- aggregate paths: the decorrelated ``LEFT JOIN (SELECT keys, aggs FROM
  hub GROUP BY keys)`` form (the rewrite of J5's LEFT JOIN LATERAL)
- per output: SELECT/WHERE/GROUP BY/UNION ALL
  (u_output_generate_query.sql:88-155)
- run.sql: all source statements in topological order, then outputs

The emitted SQL is executable Spark SQL: `run_statements` splits on
unquoted ';' (databricks_sql.py:49) and runs each on the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dataforge_core_spark.backends import STMT_SPLIT
from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Output,
    Project,
    ProjectError,
    Source,
)
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.outputs import plan_output
from dataforge_core_spark.plans.planner import (
    EMPTY_ARRAY,
    EMPTY_ZERO,
    JoinElement,
    build_levels,
    plan_source,
    status_case_sql,
)
from dataforge_core_spark.plans.predicates import (
    equi_keys,
    render_relation,
    render_tokens,
)
from dataforge_core_spark.plans.subsource import sub_source_sql


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
        applied: set[str] = set()
        computed = {a.name for a in source.raw_attributes}
        prev = "cte0"

        for li, level in enumerate(plan.levels, start=1):
            joins_sql = []
            transit_cols = []
            # joins whose deps are satisfied attach at this level; their
            # outputs become transit columns (C5 — u_enr_query_add_transit)
            # named exactly as the planner's helper refs, so rule SQL uses
            # them verbatim (same-select references resolve via Spark's
            # lateral column aliases; later levels see them as columns)
            for pid, join in plan.joins.items():
                if pid in applied or not (join.deps <= computed):
                    continue
                jsql, jcols = self._emit_join(join, prev)
                joins_sql.append(jsql)
                transit_cols.extend(jcols)
                applied.add(pid)
            types = self._rule_types()
            rule_cols = []
            for name in level:
                el = plan.rules[name]
                expr = el.compiled_sql
                if el.rule.cast_datatype:
                    ddl = HIVE_TO_SPARK_DDL.get(
                        el.rule.cast_datatype, el.rule.cast_datatype
                    )
                    expr = f"CAST({expr} AS {ddl})"
                elif types.get((source.source_name, name)) == "decimal":
                    # P3 decimal normalization, as in the DataFrame path
                    expr = f"CAST({expr} AS decimal(38,12))"
                rule_cols.append(f"{expr} AS `{name}`")
            sel = [f"{prev}.*"] + transit_cols + rule_cols
            cte = (
                f"cte{li} AS (\n  SELECT\n    "
                + ",\n    ".join(sel)
                + f"\n  FROM {prev}"
                + ("\n  " + "\n  ".join(joins_sql) if joins_sql else "")
                + "\n)"
            )
            ctes.append(cte)
            computed |= set(level)
            prev = f"cte{li}"

        final_cols = [f"`{a.name}`" for a in source.raw_attributes]
        final_cols += [f"`{r.name}`" for r in source.rules]
        # sub-source enrichments (§2.11) — shared SQL with the compiler
        for sub in self.project.sources:
            if sub.sub_source_parent == source.source_name:
                final_cols.append(
                    f"{sub_source_sql(self.project, self.graph, sub)} "
                    f"AS `{sub.source_name}`"
                )
        status = status_case_sql(source)
        # uv flags are window exprs — emit in the final select
        uv_sql = "".join(
            f",\n  (COUNT(1) OVER (PARTITION BY `{r.name}`) = 1) "
            f"AS `{r.name}_uv_flag`"
            for r in source.rules
            if r.unique
        )
        body = (
            "WITH "
            + ",\n".join(ctes)
            + "\nSELECT\n  "
            + ",\n  ".join(final_cols)
            + uv_sql
            + (f",\n  {status} AS s_validation_status_code" if status else "")
            + f"\nFROM {prev}"
        )
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

    def _emit_join(self, join: JoinElement, prev: str) -> tuple[str, list[str]]:
        """-> (LEFT JOIN clauses, transit select items `__pid__x` names)."""
        pid = join.pathid
        hops = join.path.hops

        def hop_clause(i: int, hop, left_alias: str, alias: str) -> str:
            hub = self._hub(hop.dst) if not join.is_self else prev
            pref = (
                {"This": left_alias, "Related": alias}
                if hop.forward
                else {"This": alias, "Related": left_alias}
            )
            pred = render_relation(
                hop, lambda side, a: f"{pref[side]}.`{a}`", self.by_name[hop.dst]
            )
            return f"LEFT JOIN {hub} {alias} ON {pred}"

        if join.kind == "lookup":
            clauses = []
            for i, hop in enumerate(hops):
                alias = f"J_{pid}" if i == len(hops) - 1 else f"J_{pid}_h{i}"
                left_alias = prev if i == 0 else (
                    f"J_{pid}_h{i-1}" if i - 1 < len(hops) - 1 else f"J_{pid}"
                )
                clauses.append(hop_clause(i, hop, left_alias, alias))
            transits = [
                f"J_{pid}.`{attr}` AS `{out}`"
                for attr, out in join.needed.items()
            ]
            return ("\n  ".join(clauses), transits)

        # aggregate join: decorrelated GROUP BY subquery (J5 rewrite)
        m_hop = hops[-1]
        keys = equi_keys(m_hop)
        if keys is None:
            # the DataFrame compiler has a row-key fallback; the SQL
            # artifact keeps the decorrelated GROUP BY form only
            raise ProjectError(
                "SQL emission for non-equi aggregate relation "
                f"{m_hop.relation.name!r} is not supported; use the "
                "DataFrame runner for theta aggregates"
            )
        if any(spec.transits or spec.this_attrs for spec in join.aggs):
            raise ProjectError(
                "SQL emission for aggregates with transit/[This] "
                f"attributes over relation {m_hop.relation.name!r} is not "
                "supported; use the DataFrame runner"
            )
        group_sql = [render_tokens(dst) for _, dst in keys]
        key_sql = [f"{g} AS k{j}" for j, g in enumerate(group_sql)]
        aggs = ", ".join(
            f"{spec.call_sql()} AS `a{k}`" for k, spec in enumerate(join.aggs)
        )
        sub = (
            f"(SELECT {', '.join(key_sql)}, {aggs} FROM {self._hub(m_hop.dst)} "
            f"GROUP BY {', '.join(group_sql)})"
        )
        clauses = []
        if len(hops) == 1:
            src_alias = prev
        else:
            for i, hop in enumerate(hops[:-1]):
                alias = f"J_{pid}_h{i}"
                left_alias = prev if i == 0 else f"J_{pid}_h{i-1}"
                clauses.append(hop_clause(i, hop, left_alias, alias))
            src_alias = f"J_{pid}_h{len(hops) - 2}"
        conds = " AND ".join(
            f"({render_tokens(src, lambda a: f'{src_alias}.`{a}`')}) "
            f"= J_{pid}.k{j}"
            for j, (src, _) in enumerate(keys)
        )
        clauses.append(f"LEFT JOIN {sub} J_{pid} ON {conds}")
        # transits: expose agg results under the planner's helper names,
        # with LATERAL empty-set parity (compiler._agg_empty_fixes):
        # count-family -> 0, array-family -> [] (Spark coerces the bare
        # array() literal to the column's element type in coalesce)
        transits = []
        for k, spec in enumerate(join.aggs):
            expr = f"J_{pid}.`a{k}`"
            if spec.call.func in EMPTY_ZERO:
                expr = f"coalesce({expr}, 0)"
            elif spec.call.func in EMPTY_ARRAY:
                expr = f"coalesce({expr}, array())"
            transits.append(f"{expr} AS `{spec.out_col}`")
        return ("\n  ".join(clauses), transits)

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
    for stmt in STMT_SPLIT.findall(sql_text):
        if stmt.strip():
            spark.sql(stmt)
            n += 1
    return n
