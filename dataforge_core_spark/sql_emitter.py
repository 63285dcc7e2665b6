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
import re

from pyspark.sql import SparkSession

from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Output,
    Project,
    Source,
)
from dataforge_core_spark.parser import equi_conjuncts, parse_expression
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import JoinElement, plan_source


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
        from dataforge_core_spark.compiler import sub_source_sql

        for sub in self.project.sources:
            if sub.sub_source_parent == source.source_name:
                final_cols.append(
                    f"{sub_source_sql(self.project, self.graph, sub)} "
                    f"AS `{sub.source_name}`"
                )
        v_fail = [
            r.name
            for r in source.rules
            if r.rule_type == "V" and r.validation_action == "F"
        ]
        v_warn = [
            r.name
            for r in source.rules
            if r.rule_type == "V" and r.validation_action == "W"
        ]
        uv = [f"`{r.name}_uv_flag`" for r in source.rules if r.unique]
        status = ""
        if v_fail or v_warn:
            clauses = []
            if v_fail:
                clauses.append("WHEN NOT (" + " AND ".join(v_fail) + ") THEN 'F'")
            if v_warn:
                clauses.append("WHEN NOT (" + " AND ".join(v_warn) + ") THEN 'W'")
            status = (
                ",\n  CAST(CASE "
                + " ".join(clauses)
                + " ELSE 'P' END AS string) AS s_validation_status_code"
            )
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
            + status
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
            rules_dst = self.by_name[hop.dst].rule_by_name()
            this_pref, rel_pref = (
                (f"{left_alias}.", f"{alias}.")
                if hop.forward
                else (f"{alias}.", f"{left_alias}.")
            )
            pred = _rewrite_relation_alias(hop, this_pref, rel_pref, rules_dst)
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
        conj = equi_conjuncts(m_hop.relation.expression)
        if conj is None:
            # the DataFrame compiler has a row-key fallback; the SQL
            # artifact keeps the decorrelated GROUP BY form only
            raise RuntimeError(
                "SQL emission for non-equi aggregate relation "
                f"{m_hop.relation.name!r} is not supported; use the "
                "DataFrame runner for theta aggregates"
            )
        target_hub = self._hub(m_hop.dst)
        key_sql, our_sql, group_sql = [], [], []
        for j, (this_text, rel_text) in enumerate(conj):
            dst_text = rel_text if m_hop.forward else this_text
            src_text = this_text if m_hop.forward else rel_text
            key_sql.append(f"{_bare(dst_text)} AS k{j}")
            group_sql.append(_bare(dst_text))
            our_sql.append(_bare(src_text))
        agg_parts = []
        for k, spec in enumerate(join.aggs):
            if spec.transits or spec.this_attrs:
                raise RuntimeError(
                    "SQL emission for aggregates with transit/[This] "
                    "attributes is not supported; use the DataFrame runner"
                )
            inner_clean = re.sub(
                r"(?i)^\s*distinct\s+", "", spec.inner_sql.strip()
            )
            d = "DISTINCT " if spec.call.distinct else ""
            agg_parts.append(f"{spec.call.func}({d}{inner_clean}) AS `a{k}`")
        aggs = ", ".join(agg_parts)
        sub = (
            f"(SELECT {', '.join(key_sql)}, {aggs} FROM {target_hub} "
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
            f"({_prefix_cols(e, src_alias)}) = J_{pid}.k{j}"
            for j, e in enumerate(our_sql)
        )
        clauses.append(f"LEFT JOIN {sub} J_{pid} ON {conds}")
        # transits: expose agg results under the planner's helper names,
        # with LATERAL empty-set parity (compiler._agg_empty_fixes):
        # count-family -> 0, array-family -> [] (Spark coerces the bare
        # array() literal to the column's element type in coalesce)
        from dataforge_core_spark.compiler import _EMPTY_ARRAY, _EMPTY_ZERO

        transits = []
        for k, spec in enumerate(join.aggs):
            expr = f"J_{pid}.`a{k}`"
            if spec.call.func in _EMPTY_ZERO:
                expr = f"coalesce({expr}, 0)"
            elif spec.call.func in _EMPTY_ARRAY:
                expr = f"coalesce({expr}, array())"
            transits.append(f"{expr} AS `{spec.out_col}`")
        return ("\n  ".join(clauses), transits)

    # ------------------------------------------------------------------
    def emit_output(self, output: Output) -> str:
        parts = []
        for ch in output.channels:
            src = self.by_name[ch.source_name]
            hub = self._hub(ch.source_name)
            where = ["true"]
            has_v = any(r.rule_type == "V" for r in src.rules)
            if has_v:
                codes = [
                    c
                    for c, inc in (
                        ("P", ch.include_pass),
                        ("W", ch.include_warn),
                        ("F", ch.include_fail),
                    )
                    if inc
                ]
                if not codes:
                    # matches compile_output's validation — otherwise the
                    # artifact silently contains `IN ()` (invalid SQL)
                    from dataforge_core_spark.model import ProjectError

                    raise ProjectError(
                        f"Output {output.output_name!r}: channel must "
                        "include at least one of pass/warn/fail"
                    )
                if set(codes) != {"P", "W", "F"}:
                    quoted = ", ".join(f"'{c}'" for c in codes)
                    where.append(f"s_validation_status_code IN ({quoted})")
            if ch.filter:
                parsed = parse_expression(ch.filter)
                f = ch.filter
                for t in sorted(parsed.tokens, key=lambda t: -t.start):
                    f = f[: t.start] + f"`{t.attr}`" + f[t.end :]
                where.append(f"({f})")
            mapped = {}
            group_by = []
            is_agg = (ch.operation_type or "").lower() == "aggregate"
            for mp in ch.mappings:
                path = ".".join([mp.attribute] + mp.keys)
                if mp.aggregate:
                    d = "DISTINCT " if mp.distinct else ""
                    mapped[mp.column] = f"{mp.aggregate}({d}{path})"
                else:
                    mapped[mp.column] = path
                    if is_agg:
                        group_by.append(path)
            sel = []
            for c in output.columns:
                t = HIVE_TO_SPARK_DDL[c.hive_type]
                if c.name in mapped:
                    sel.append(f"CAST({mapped[c.name]} AS {t}) AS `{c.name}`")
                else:
                    sel.append(f"CAST(null AS {t}) AS `{c.name}`")
            q = (
                "SELECT\n    "
                + ",\n    ".join(sel)
                + f"\n  FROM {hub}\n  WHERE "
                + " AND ".join(where)
            )
            if is_agg and group_by:
                q += "\n  GROUP BY " + ", ".join(group_by)
            parts.append(q)
        # left-associative like compile_output: every operand is
        # parenthesized because bare SQL binds INTERSECT tighter than
        # UNION/EXCEPT, which would regroup mixed chains
        _OPS = {"intersect": "INTERSECT", "except": "EXCEPT"}
        body = parts[0]
        for ch, part in zip(output.channels[1:], parts[1:]):
            op = _OPS.get((ch.set_operation or "").lower(), "UNION ALL")
            body = f"({body})\n  {op}\n  ({part})"
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
        # topological source order (svc_generate_queries.sql:18-53)
        from dataforge_core_spark.compiler import SourceCompiler  # noqa: F401

        deps = {}
        for s in self.project.sources:
            if s.sub_source_parent:
                continue  # compiled into the parent hub (§2.11)
            plan = plan_source(self.project, self.graph, s)
            deps[s.source_name] = set(plan.hub_deps)
        placed: set[str] = set()
        ordered: list[str] = []
        remaining = set(deps)
        while remaining:
            level = sorted(n for n in remaining if deps[n] <= placed)
            if not level:
                raise RuntimeError("Circular dependencies in sources")
            ordered.extend(level)
            placed |= set(level)
            remaining -= set(level)

        run_parts = []
        for name in ordered:
            src = self.by_name[name]
            sql = self.emit_source(src)
            with open(
                os.path.join(target_dir, "sources", f"{name}.sql"), "w"
            ) as f:
                f.write(sql)
            run_parts.append(sql)
        for out in self.project.outputs:
            sql = self.emit_output(out)
            with open(
                os.path.join(target_dir, "outputs", f"{out.output_name}.sql"),
                "w",
            ) as f:
                f.write(sql)
            run_parts.append(sql)
        run_sql = "\n".join(run_parts)
        with open(os.path.join(target_dir, "run.sql"), "w") as f:
            f.write(run_sql)
        return run_sql


# -- helpers ---------------------------------------------------------------

_STMT_SPLIT = re.compile(r";(?=(?:[^']*'[^']*')*[^']*$)")


def run_statements(spark: SparkSession, sql_text: str) -> int:
    """Split on ';' outside quotes and execute sequentially
    (databricks_sql.py:47-60).  Returns the statement count."""
    n = 0
    for stmt in _STMT_SPLIT.split(sql_text):
        if stmt.strip():
            spark.sql(stmt)
            n += 1
    return n


def _bare(text: str) -> str:
    parsed = parse_expression(text, allow_this_agg=True)
    out = text
    for t in sorted(parsed.tokens, key=lambda t: -t.start):
        out = out[: t.start] + f"`{t.attr}`" + out[t.end :]
    return out


def _prefix_cols(bare_sql: str, alias: str) -> str:
    return re.sub(r"`([A-Za-z0-9_]+)`", rf"{alias}.`\1`", bare_sql)


def _rewrite_relation_alias(hop, this_prefix, related_prefix, rules_dst):
    """Like compiler._rewrite_relation but with table-alias prefixes."""
    from dataforge_core_spark.parser import parse_relation_expression

    parsed = parse_relation_expression(hop.relation.expression)
    spans = []
    guards = []
    for t in parsed.tokens:
        pref = this_prefix if t.source == "This" else related_prefix
        spans.append((t.start, t.end, f"{pref}`{t.attr}`"))
        if t.source == ("Related" if hop.forward else "This"):
            rule = rules_dst.get(t.attr)
            if rule is not None and rule.unique:
                rpref = related_prefix if hop.forward else this_prefix
                guards.append(f"{rpref}`{t.attr}_uv_flag`")
    out = hop.relation.expression
    for start, end, repl in sorted(spans, key=lambda x: -x[0]):
        out = out[:start] + repl + out[end:]
    for g in sorted(set(guards)):
        out = f"({out}) AND {g}"
    return out
