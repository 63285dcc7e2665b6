"""Compiler: SourcePlan -> Spark DataFrame pipeline.

Runs, level by level, the hub SQL that the emitter writes into run.sql
(plans/render.py; the reference's u_enr_query_generate_query.sql and
friends): each level's join SELECT and rule SELECT go through
``spark.sql`` over the in-flight frame and the hub frames, so the two
back ends cannot disagree on a hub's body.  The compiler keeps only what
needs a live frame:

- decimal discipline-> inferred DecimalType rule columns normalized to
                       decimal(38,12), read off each level's own types
                       (u_enr_query_add_enrichment.sql:128-133)
- broadcast hints   -> ``BROADCAST(J_<pathid>)`` when the hubs a join
                       reads are measured checkpoints small enough
                       (:meth:`SourceCompiler.record_hub_size`)
- recalculation     -> a rule subset over an existing hub (W4)

Scale notes (100 TB design): every construct is declarative SQL — no
UDFs, no driver-side row handling — so whole-stage codegen, AQE (skew
joins, dynamic coalescing), broadcast selection and partial aggregation
all apply.  Path prefixes are deduplicated at plan time (one join per
hop, not per referencing rule or path), and aggregate paths pre-aggregate
on the foreign key *before* the join (map-side partials, and the joined
side is keys+aggregates only — usually broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Project,
    ProjectError,
    Source,
)
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.outputs import plan_output
from dataforge_core_spark.plans.planner import SourcePlan, plan_source
from dataforge_core_spark.plans.render import HubRenderer
from dataforge_core_spark.session import sql_conf


class SourceCompiler:
    """Compiles one project's sources and outputs into DataFrames."""

    def __init__(self, spark: SparkSession, project: Project):
        self.spark = spark
        self.project = project
        self.graph = RelationGraph(project.relations)
        self._by_name = project.source_by_name()
        # hub name -> (frame, bytes) for the latest frame of each hub
        # measured as it was materialized (ProjectRunner.build_checkpointed)
        self._measured: dict[str, tuple[DataFrame, int]] = {}

    def record_hub_size(self, name: str, hub: DataFrame, rows: int) -> None:
        """Record a materialized hub's measured size: ``rows`` times the
        schema's default row width, Spark's own ``rowCount ×
        getSizePerRow`` estimate (8 bytes of row overhead plus each
        column type's default size).  It applies to this exact frame
        only; any frame derived from it keeps Catalyst's estimate."""
        width = 8 + hub._jdf.schema().defaultSize()
        self._measured[name] = (hub, rows * width)

    def _broadcastable(
        self, names: list[str], hubs: dict[str, DataFrame]
    ) -> bool:
        """Whether a join side reading the hubs ``names`` gets a broadcast
        hint: every hub is read as the frame measured for it and the
        sizes sum to at most the session's autoBroadcastJoinThreshold
        (-1 disables broadcasting).  Otherwise the planner decides from
        its own estimates."""
        sizes = [self._measured.get(n) for n in names]
        if any(
            m is None or m[0] is not hubs.get(n) for m, n in zip(sizes, names)
        ):
            return False
        limit = sql_conf(self.spark).autoBroadcastJoinThreshold()
        return 0 <= sum(m[1] for m in sizes) <= limit

    # ------------------------------------------------------------------
    # source (hub) compilation
    # ------------------------------------------------------------------
    def plan(self, source: Source) -> SourcePlan:
        return plan_source(self.project, self.graph, source)

    def recalculation_closure(self, source: Source) -> set[str]:
        """Rules recomputed in 'recalculation' mode: keep_current rules +
        every rule downstream of them (u_enr_query_generate_elements.sql:
        62-75; child closure u_enr_query_get_enrichment_children.sql)."""
        plan = self.plan(source)
        affected = {r.name for r in source.rules if r.keep_current}
        changed = True
        while changed:
            changed = False
            for name, el in plan.rules.items():
                if name in affected:
                    continue
                join_dep_rules = set()
                for pid in el.join_deps:
                    join_dep_rules |= plan.joins[pid].deps
                if (el.deps | join_dep_rules) & affected:
                    affected.add(name)
                    changed = True
        return affected

    def recalculate(
        self,
        source: Source,
        existing: DataFrame,
        hubs: dict[str, DataFrame],
        affected: set[str] | None = None,
    ) -> DataFrame:
        """Incremental 'recalculation' run (W4): start from the existing
        hub, drop only the affected columns, recompute them.

        Unaffected rule columns are *read back*, not recomputed — the
        point of the mode at scale (window rules must see the full table,
        everything else is reused).  Semantically identical to a full
        rebuild on unchanged inputs.  ``affected`` overrides the default
        keep_current closure (used by :meth:`incremental_append`, which
        must also refresh uniqueness flags).
        """
        if affected is None:
            affected = self.recalculation_closure(source)
        if not affected:
            return existing
        drop = list(affected)
        drop += [f"{r.name}_uv_flag" for r in source.rules if r.unique and r.name in affected]
        if any(r.rule_type == "V" for r in source.rules):
            drop.append("s_validation_status_code")
        base = existing.drop(*[c for c in drop if c in existing.columns])
        return self._compile(source, base, hubs, only_rules=affected)

    def window_partition_keys(self, source: Source) -> list[str] | None:
        """Common bare-column PARTITION BY list shared by *every* window
        occurrence of *every* rule in the recalculation closure, or None
        when confinement is not provable (no window rules, an OVER()
        missing PARTITION BY, expression-valued partition keys, or
        windows partitioned by different columns).

        The closure — not just keep_current rules — is what
        :meth:`recalculate` recomputes, so a window rule downstream of a
        keep_current rule constrains prunability too; and a single rule
        may carry several OVER() clauses, each of which must be confined.

        When every recomputed window partitions by the same raw columns,
        a recalculation touching only some key values is confined to
        those window partitions — the basis for partition-pruned
        recompute."""
        status, keys = self._window_confinement(
            source, self.recalculation_closure(source)
        )
        return keys if status == "keys" else None

    def _window_confinement(
        self, source: Source, rule_names: set[str]
    ) -> tuple[str, list[str] | None]:
        """Window-group confinement for the given rules:

        - ``('none', None)`` — no window (or unique) rule among them;
          per-row semantics, recompute confines to the touched rows alone
        - ``('keys', cols)`` — every OVER() partitions by the same bare
          raw columns; recompute confines to the touched key groups
        - ``('unconfined', None)`` — an un-partitioned window,
          expression-valued keys, differing key sets, or a unique rule
          (its implicit ``_uv_flag`` window partitions by rule *value*)
        """
        import re as _re

        closure = rule_names
        key_sets: list[tuple[str, ...]] = []
        for rule in source.rules:
            if rule.name not in closure:
                continue
            if rule.unique:
                # the implicit `_uv_flag` window partitions by the rule's
                # *value* — a value straddling changed/unchanged rows would
                # get a wrong count over a pruned subset
                return ("unconfined", None)
            expr = rule.expression
            n_windows = len(_re.findall(r"(?i)\bover\s*\(", expr))
            if n_windows == 0:
                continue  # per-row rule — prunes trivially
            matches = list(
                _re.finditer(
                    r"(?is)\bover\s*\(\s*partition\s+by\s+(.*?)"
                    r"(?:\border\s+by\b|\brows\b|\brange\b|\))",
                    expr,
                )
            )
            if len(matches) != n_windows:
                # un-partitioned window -> whole-table scope
                return ("unconfined", None)
            for m in matches:
                cols = []
                for part in m.group(1).split(","):
                    t = part.strip()
                    tm = _re.match(
                        r"^\[This\]\.([a-z_][a-z0-9_]*)$", t, _re.I
                    )
                    if not tm:
                        # expression key -> not provably prunable
                        return ("unconfined", None)
                    cols.append(tm.group(1))
                key_sets.append(tuple(cols))
        if not key_sets:
            return ("none", None)
        if len(set(key_sets)) != 1:
            return ("unconfined", None)
        return ("keys", list(key_sets[0]))

    @staticmethod
    def _nullsafe_key_split(
        df: DataFrame, sel: DataFrame, keys: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """Split ``df`` into (rows whose ``keys`` tuple appears in
        ``sel``, rows whose tuple does not) using null-safe equality.

        Spark windows place all NULL partition-key values in ONE group,
        so a NULL-keyed partition that gains or loses rows must be
        recomputed like any other.  A plain ``join(sel, keys, "left_semi")``
        uses ``=`` semantics — NULL keys never match, so NULL-key rows
        would silently land on the "unchanged" side and keep stale window
        columns.  ``eqNullSafe`` (SQL ``<=>``) keeps them on the correct
        side; Catalyst still extracts EqualNullSafe conjuncts as hash
        join keys (coalesced), so this stays a shuffled/broadcast hash
        join — no plan downgrade at scale.
        """
        left = df.alias("_nk_l")
        right = sel.alias("_nk_r")
        cond = None
        for k in keys:
            c = F.col(f"_nk_l.`{k}`").eqNullSafe(F.col(f"_nk_r.`{k}`"))
            cond = c if cond is None else (cond & c)
        return (
            left.join(right, cond, "left_semi"),
            left.join(right, cond, "left_anti"),
        )

    def recalculate_pruned(
        self,
        source: Source,
        existing: DataFrame,
        hubs: dict[str, DataFrame],
        changed_keys: DataFrame,
    ) -> DataFrame:
        """Partition-pruned recalculation: recompute the keep_current
        closure only for window partitions present in ``changed_keys``
        (a DataFrame carrying the window partition-key columns of the
        rows that changed); every other row is passed through untouched.

        Correct because each window rule's result depends only on rows of
        its own PARTITION BY group (validated by
        :meth:`window_partition_keys`), and non-window closure members
        are per-row.  At scale, store the hub partitioned/bucketed by the
        window key and the semi/anti joins below become metadata-only
        partition pruning — the recompute touches changed partitions'
        files, not the 100 TB table.
        """
        keys = self.window_partition_keys(source)
        if keys is None:
            raise ProjectError(
                f"Source {source.source_name!r}: partition-pruned "
                "recalculation requires every keep_current window rule to "
                "partition by the same raw attribute columns"
            )
        sel = changed_keys.select(*keys)  # a semi/anti build side only
        changed, unchanged = self._nullsafe_key_split(existing, sel, keys)
        return self.recalculate(source, changed, hubs).unionByName(unchanged)

    def incremental_append(
        self,
        source: Source,
        existing: DataFrame,
        new_base: DataFrame,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """Append-only incremental build — the daily-ingest path at
        100 TB (extension; the reference is full-rebuild-only).

        Only the NEW raw rows run through the rule pipeline; the existing
        hub is reused byte-for-byte except the columns whose semantics
        span the whole table: the keep_current/window closure (W2/W4) and
        every uniqueness flag (V4 — an appended duplicate must flip the
        existing row's ``_uv_flag`` too).  Those are re-derived over the
        merged frame exactly as a full rebuild would derive them —
        confined to the touched window partitions when every recomputed
        window provably partitions by the same raw columns
        (:meth:`_window_confinement`); with the hub stored
        partitioned/bucketed by that key, the semi/anti joins below
        become metadata-only partition pruning.

        Result is semantically identical to a full rebuild over
        (old ∪ new) raw rows.
        """
        appended = self._compile(source, new_base, hubs)
        return self._merge_recompute(source, existing, appended, None, hubs)

    def _merge_recompute(
        self,
        source: Source,
        kept: DataFrame,
        incoming: DataFrame,
        displaced: DataFrame | None,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """``kept ∪ incoming`` with the whole-table-scoped columns
        (window closure + uniqueness flags) re-derived as a full rebuild
        would.  When every recomputed window partitions by the same raw
        columns, only the ``kept`` rows in a window partition that
        ``incoming`` (or ``displaced``, the rows ``incoming`` replaces)
        touches are recomputed, together with ``incoming``; every
        ``incoming`` row is in a touched partition by construction, so
        the split runs over ``kept`` alone.  The key sets are only the
        build side of semi/anti joins, where duplicates change nothing,
        so they are not de-duplicated."""
        affected = self.recalculation_closure(source)
        affected |= {r.name for r in source.rules if r.unique}
        status, keys = self._window_confinement(source, affected)
        if status == "none":
            # per-row semantics only — values computed on the new rows
            # alone equal a whole-table recompute
            return kept.unionByName(incoming)
        if status == "unconfined":
            return self.recalculate(
                source, kept.unionByName(incoming), hubs, affected=affected
            )
        sel = incoming.select(*keys)
        if displaced is not None:
            sel = sel.unionByName(displaced.select(*keys))
        touched, unchanged = self._nullsafe_key_split(kept, sel, keys)
        changed = self.recalculate(
            source, touched.unionByName(incoming), hubs, affected=affected
        )
        return changed.unionByName(unchanged)

    def incremental_upsert(
        self,
        source: Source,
        existing: DataFrame,
        new_base: DataFrame,
        upsert_keys: list[str],
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """MERGE-style incremental build: rows of ``new_base`` REPLACE
        existing hub rows with matching ``upsert_keys`` values and append
        otherwise (extension; the reference is full-rebuild-only).

        Like :meth:`incremental_append`, only the incoming rows run the
        rule pipeline and whole-table-scoped columns (window closure +
        uniqueness flags) are re-derived over the merged frame.  The
        partition-pruned recompute must cover BOTH sides of a move: a
        changed row that lands in a new window partition also invalidates
        the partition its old version leaves (its former group's
        ranks/aggregates shrink), so the changed-key set is the union of
        the displaced old rows' window keys and the new rows' window
        keys.  Result is semantically identical to a full rebuild over
        the upserted raw input.
        """
        replaced = self._compile(source, new_base, hubs)
        # Null-safe match: a NULL-keyed incoming row REPLACES the
        # NULL-keyed existing rows (re-running the same upsert is a
        # no-op); plain ``=`` would append a fresh copy every run.
        displaced, kept = self._nullsafe_key_split(
            existing, replaced.select(*upsert_keys), upsert_keys
        )
        return self._merge_recompute(source, kept, replaced, displaced, hubs)

    def compile_source(
        self, source: Source, base: DataFrame, hubs: dict[str, DataFrame]
    ) -> DataFrame:
        """base: DataFrame holding the source's raw attributes (already
        cast to declared types); hubs: previously-built hub DataFrames."""
        return self._compile(source, base, hubs)

    def _compile(
        self,
        source: Source,
        base: DataFrame,
        hubs: dict[str, DataFrame],
        only_rules: set[str] | None = None,
    ) -> DataFrame:
        """Runs the hub's level SELECTs (plans/render.py) over ``base``."""
        r = HubRenderer(self.project, self.graph, self.plan(source))
        df = base
        for level in r.levels(only_rules):
            if level.joins:
                text = r.join_select(
                    level.joins, lambda n: self._broadcastable(n, hubs)
                )
                df = self._sql(r, text, df, hubs)
            if level.rules:
                df = self._rule_level(r, df, level.rules, hubs)
        keep = set() if only_rules is None else set(df.columns)
        return self._sql(r, r.final_select(keep), df, hubs)

    def _sql(
        self,
        r: HubRenderer,
        text: str,
        df: DataFrame,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """``text`` over the in-flight frame ``df`` and the hub frames it
        reads."""
        rels = r.relations(lambda name: self._hub(name, hubs))
        return self.spark.sql(text, prev=df, **rels)

    def _rule_level(
        self,
        r: HubRenderer,
        df: DataFrame,
        names: list[str],
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        out = self._sql(r, r.rule_select(names), df, hubs)
        # decimal normalization (P3): inferred decimals -> decimal(38,12),
        # read off the level's own types
        dtypes = dict(out.dtypes)
        decimals = {
            n
            for n in names
            if not r.plan.rules[n].rule.cast_datatype
            and dtypes[n].startswith("decimal")
            and dtypes[n] != "decimal(38,12)"
        }
        if decimals:
            out = self._sql(r, r.rule_select(names, decimals), df, hubs)
        return out

    # ------------------------------------------------------------------
    def _hub(self, name: str, hubs: dict[str, DataFrame]) -> DataFrame:
        if name not in hubs:
            raise ProjectError(f"Hub for source {name!r} not built yet")
        return hubs[name]

    # ------------------------------------------------------------------
    # output compilation
    # ------------------------------------------------------------------
    def compile_output(self, output, hubs: dict[str, DataFrame]) -> DataFrame:
        """Channels -> filter -> (aggregate) -> typed select -> UNION ALL.

        Renders :func:`plan_output` (u_output_generate_query.sql:88-155):
        per-channel ``WHERE true AND <filter>``, GROUP BY all non-aggregate
        mapped columns when operation_type='Aggregate', typed-NULL fill
        for unmapped columns, UNION ALL across channels.
        """
        plans = plan_output(self.project, output)
        parts: list[DataFrame] = []
        for ch, cp in zip(output.channels, plans):
            df = self._hub(ch.source_name, hubs)
            if cp.codes is not None:  # validation-status routing (V3)
                df = df.filter(F.col("s_validation_status_code").isin(cp.codes))
            if cp.filter_sql is not None:
                col = F.expr(cp.filter_sql)
                # boolean type check (P5 — impc_update_test_results.sql:65-76)
                if df.select(col.alias("f")).schema["f"].dataType != T.BooleanType():
                    raise ProjectError(
                        f"Output {output.output_name!r}: filter must be "
                        f"boolean: {ch.filter!r}"
                    )
                df = df.filter(col)
            if cp.group_by is not None:
                dims = [F.expr(cp.select[c]).alias(c) for c in cp.group_by]
                aggs = [
                    F.expr(sql).alias(c)
                    for c, sql in cp.select.items()
                    if c not in cp.group_by
                ]
                df = df.groupBy(*dims).agg(*aggs) if dims else df.agg(*aggs)
                mapped = {c: F.col(c) for c in cp.select}
            else:
                mapped = {c: F.expr(sql) for c, sql in cp.select.items()}
            # typed NULL fill — u_output_query_column_select.sql:13-21
            parts.append(
                df.select(
                    *[
                        (mapped[c.name] if c.name in mapped else F.lit(None))
                        .cast(HIVE_TO_SPARK_DDL[c.hive_type])
                        .alias(c.name)
                        for c in output.columns
                    ]
                )
            )
        # channels combine left-associatively in declared order: UNION ALL
        # (O2) by default, INTERSECT / EXCEPT (both DISTINCT — O3
        # extension) when the channel declares a set_operation.  The
        # emitter parenthesizes each operand so the SQL artifact gets the
        # same left-associative grouping (bare SQL would bind INTERSECT
        # tighter).
        out = parts[0]
        for cp, p in zip(plans[1:], parts[1:]):
            if cp.set_op == "intersect":
                out = out.intersect(p)
            elif cp.set_op == "except":
                out = out.subtract(p)
            else:
                out = out.unionByName(p)
        return out
