"""Compiler: SourcePlan -> Spark DataFrame pipeline.

Replaces the reference's SQL generator
(enr-query-generator/u_enr_query_generate_query.sql and friends) with
direct DataFrame composition:

- CTE levels        -> batches of ``withColumns`` (Catalyst collapses them)
- LEFT JOIN hub     -> one flat ``df.join(hub, F.expr(pred), "left")`` per
                       relation-path prefix (hop), the hub's columns
                       prefixed ``__<pathid>__`` (collision-free, and the
                       planner's transit names); Catalyst prunes unused
                       columns through the renames and picks broadcast
                       vs. sort-merge per hub size
- LEFT JOIN LATERAL -> decorrelated ``groupBy(keys).agg(...)`` + left join
                       (the scalable rewrite the reference's own dead code
                       documents — u_enr_query_generate_distinct_many_join
                       _query.sql:16-51); only the aggregated keys+values
                       are kept so no column collisions are possible
- decimal discipline-> inferred DecimalType columns normalized to
                       decimal(38,12) (u_enr_query_add_enrichment.sql:128-133)
- uniqueness rules  -> ``<rule>_uv_flag`` companion columns
                       (count OVER (PARTITION BY key) = 1) and join-predicate
                       guards (u_enr_query_add_join.sql:101-117)
- validation rules  -> ``s_validation_status_code`` CASE chain
                       (u_enr_query_add_validation_status.sql:38-58)

Scale notes (100 TB design): every construct here is a declarative
DataFrame op — no UDFs, no driver-side row handling — so whole-stage
codegen, AQE (skew joins, dynamic coalescing), broadcast selection and
partial aggregation all apply.  Path prefixes are deduplicated at compile
time (one join per hop, not per referencing rule or path), and aggregate paths
pre-aggregate on the foreign key *before* the join (map-side partials, and
the joined side is keys+aggregates only — usually broadcastable).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Project,
    ProjectError,
    Source,
)
from dataforge_core_spark.paths import Hop, RelationGraph
from dataforge_core_spark.plans.outputs import plan_output
from dataforge_core_spark.plans.planner import (
    EMPTY_ARRAY,
    EMPTY_ZERO,
    JoinElement,
    SourcePlan,
    plan_source,
    status_case_sql,
)
from dataforge_core_spark.plans.predicates import (
    equi_keys,
    render_relation,
    render_tokens,
)
from dataforge_core_spark.plans.subsource import BACKTICKED, sub_source_sql
from dataforge_core_spark.session import sql_conf


def _prefix_all(df: DataFrame, prefix: str) -> DataFrame:
    return df.toDF(*[prefix + c for c in df.columns])


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

    def _broadcast_if_small(
        self, side: DataFrame, reads: list[tuple[str, DataFrame]]
    ) -> DataFrame:
        """``side`` (the non-driving side of a join) with a broadcast
        hint when every hub frame it reads (``(name, frame)`` pairs) is
        the frame measured for that hub and the sizes sum to at most the session's ``autoBroadcastJoinThreshold`` (-1
        disables broadcasting); otherwise unchanged, so the planner
        decides from its own estimates."""
        sizes = [self._measured.get(n, (None, 0)) for n, _ in reads]
        if not reads or any(m[0] is not f for m, (_, f) in zip(sizes, reads)):
            return side
        limit = sql_conf(self.spark).autoBroadcastJoinThreshold()
        if 0 <= sum(m[1] for m in sizes) <= limit:
            return side.hint("broadcast")
        return side

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
        plan = self.plan(source)
        drop = list(affected)
        drop += [f"{r.name}_uv_flag" for r in source.rules if r.unique and r.name in affected]
        if any(r.rule_type == "V" for r in source.rules):
            drop.append("s_validation_status_code")
        base = existing.drop(*[c for c in drop if c in existing.columns])
        return self._compile(
            source, base, hubs, plan=plan, only_rules=affected,
            precomputed={r.name for r in source.rules if r.name not in affected},
        )

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
        plan: SourcePlan | None = None,
        only_rules: set[str] | None = None,
        precomputed: set[str] | None = None,
    ) -> DataFrame:
        plan = plan or self.plan(source)
        df = base
        applied: set[str] = set()
        computed: set[str] = {a.name for a in source.raw_attributes}
        computed |= precomputed or set()
        if only_rules is not None:
            # joins needed only by untouched rules stay unapplied
            needed_joins = set()
            for name in only_rules:
                needed_joins |= plan.rules[name].join_deps
            for pid in list(plan.joins):
                if pid not in needed_joins:
                    applied.add(pid)

        def apply_ready(df: DataFrame) -> DataFrame:
            for join in plan.take_ready(applied, computed):
                df = self._apply_join(df, join, hubs)
            return df

        df = apply_ready(df)
        for full_level in plan.levels:
            level = [
                n
                for n in full_level
                if only_rules is None or n in only_rules
            ]
            if not level:
                computed |= set(full_level)
                df = apply_ready(df)
                continue
            cols: dict[str, Column] = {}
            for name in level:
                el = plan.rules[name]
                col = F.expr(el.compiled_sql)
                if el.rule.cast_datatype:
                    ddl = HIVE_TO_SPARK_DDL.get(
                        el.rule.cast_datatype, el.rule.cast_datatype
                    )
                    col = col.cast(ddl)
                cols[name] = col
            df = df.withColumns(cols)
            # decimal normalization (P3): inferred decimals -> decimal(38,12)
            dtypes = dict(df.dtypes)
            norm: dict[str, Column] = {}
            for name in level:
                el = plan.rules[name]
                if el.rule.cast_datatype:
                    continue
                dt = dtypes.get(name, "")
                if dt.startswith("decimal") and dt != "decimal(38,12)":
                    norm[name] = F.col(name).cast("decimal(38,12)")
            if norm:
                df = df.withColumns(norm)
            # uniqueness companion flags (V4): <rule>_uv_flag
            for name in level:
                if plan.rules[name].rule.unique:
                    df = df.withColumn(
                        f"{name}_uv_flag",
                        F.count(F.lit(1)).over(Window.partitionBy(name)) == 1,
                    )
            computed |= set(full_level)
            df = apply_ready(df)

        if len(applied) != len(plan.joins):
            missing = set(plan.joins) - applied
            raise ProjectError(
                f"Internal: joins never became applicable: {missing}"
            )

        final_cols = [a.name for a in source.raw_attributes] + [
            r.name for r in source.rules
        ]
        # sub-source enrichments: per-element rules over array<struct>
        # attributes, re-packed in place (§2.11)
        for sub in self.project.sources:
            if sub.sub_source_parent != source.source_name:
                continue
            if only_rules is None or sub.source_name not in df.columns:
                sql = sub_source_sql(self.project, self.graph, sub)
                df = df.withColumn(sub.source_name, F.expr(sql))
            final_cols.append(sub.source_name)
        final_cols += [
            f"{r.name}_uv_flag" for r in source.rules if r.unique
        ]
        # validation status column (V2) — CASE chain over V-rules
        status = status_case_sql(source)
        if status is not None:
            df = df.withColumn("s_validation_status_code", F.expr(status))
            final_cols.append("s_validation_status_code")

        return df.select(*final_cols)

    # ------------------------------------------------------------------
    def _hub(self, name: str, hubs: dict[str, DataFrame]) -> DataFrame:
        if name not in hubs:
            raise ProjectError(f"Hub for source {name!r} not built yet")
        return hubs[name]

    def _apply_join(
        self,
        df: DataFrame,
        join: JoinElement,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        if join.kind == "lookup":
            return self._apply_lookup(df, join, hubs)
        return self._apply_aggregate(df, join, hubs)

    def _join_hop(
        self, df: DataFrame, join: JoinElement, hub: tuple[str, DataFrame]
    ) -> DataFrame:
        """``df`` LEFT JOIN the ``(name, frame)`` hub on ``join``'s hop,
        every hub column landing as ``__<pathid>__<attr>`` — the name
        rule SQL, aggregates and child hops read — and only those of
        ``join.carry`` kept past the join (so a later checkpoint stores
        no more than the rest of the plan reads)."""
        dst = f"__{join.pathid}__"
        side = self._broadcast_if_small(_prefix_all(hub[1], dst), [hub])
        cond = self._relation_cond(join.hop, self._src_prefix(join), dst)
        out = df.join(side, F.expr(cond), "left")
        return out.drop(
            *[c for c in side.columns if c[len(dst):] not in join.carry]
        )

    def _relation_cond(
        self, hop: Hop, src_prefix: str, dst_prefix: str
    ) -> str:
        """The hop's predicate over prefixed columns: ``src_prefix`` on
        the hop's source side, ``dst_prefix`` on its destination side."""
        return render_relation(
            hop,
            lambda a: f"`{src_prefix}{a}`",
            lambda a: f"`{dst_prefix}{a}`",
            self._by_name[hop.dst],
        )

    @staticmethod
    def _src_prefix(join: JoinElement) -> str:
        """Prefix of the columns a hop joins from: its parent's hub
        columns, or the in-flight source's bare columns for a first hop."""
        return f"__{join.parent}__" if join.parent else ""

    def _apply_lookup(
        self,
        df: DataFrame,
        join: JoinElement,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """One hop, flat; the final select drops its helper columns."""
        hub = df if join.is_self else self._hub(join.hop.dst, hubs)
        return self._join_hop(df, join, (join.hop.dst, hub))

    def _agg_target_side(
        self,
        join: JoinElement,
        hubs: dict[str, DataFrame],
        df_self: DataFrame,
    ) -> tuple[DataFrame, list[tuple[str, DataFrame]]]:
        """The aggregation input: the M-target hub with all transit
        sources pre-joined (SURVEY §7.3 — transit attrs referenced inside
        the aggregate come from cardinality-1 paths *from the target*),
        one :meth:`_join_hop` per transit element the planner registered,
        and the (hub name, frame) pairs it reads.

        For self-relation aggregates the target is the in-flight frame
        ``df_self`` — the hub for the source being built does not exist
        yet."""
        m_hop = join.hop
        target = df_self if join.is_self else self._hub(m_hop.dst, hubs)
        reads = [(m_hop.dst, target)]
        for tr in join.transits.values():
            hub = (tr.hop.dst, self._hub(tr.hop.dst, hubs))
            target = self._join_hop(target, tr, hub)
            reads.append(hub)
        return target, reads

    def _apply_aggregate(
        self,
        df: DataFrame,
        join: JoinElement,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        pid = join.pathid
        keys = equi_keys(join.hop)
        if keys is None or join.needs_row_fallback:
            # arbitrary boolean M-hop predicate, or [This] values inside
            # the aggregate: the groupBy-on-foreign-key rewrite doesn't
            # apply; fall back to join + group on a synthetic row key
            # (exact LATERAL semantics, more shuffle)
            return self._apply_aggregate_rowkey(df, join, hubs)
        target, reads = self._agg_target_side(join, hubs, df_self=df)
        # group keys: the M-target side of each equi conjunct (dst side
        # of the hop) over the target's bare columns
        gb = [
            F.expr(render_tokens(dst)).alias(f"__{pid}__k{j}")
            for j, (_, dst) in enumerate(keys)
        ]
        aggs = [
            F.expr(spec.call_sql()).alias(spec.out_col) for spec in join.aggs
        ]
        aggdf = self._broadcast_if_small(
            target.groupBy(*gb).agg(*aggs), reads
        )
        # source-side exprs (the parent hop's columns past a first hop)
        # == group keys
        pref = self._src_prefix(join)
        cond = " AND ".join(
            f"({render_tokens(src, lambda a: f'`{pref}{a}`')}) "
            f"= `__{pid}__k{j}`"
            for j, (src, _) in enumerate(keys)
        )
        out = df.join(aggdf, F.expr(cond), "left")
        return self._agg_empty_fixes(out, join)

    def _agg_empty_fixes(self, out: DataFrame, join: JoinElement) -> DataFrame:
        # LATERAL parity: empty correlated set -> 0 / [] instead of NULL
        fixes: dict[str, Column] = {}
        for spec in join.aggs:
            if spec.call.func in EMPTY_ZERO:
                fixes[spec.out_col] = F.coalesce(
                    F.col(spec.out_col),
                    F.lit(0).cast(dict(out.dtypes)[spec.out_col]),
                )
            elif spec.call.func in EMPTY_ARRAY:
                dt = out.schema[spec.out_col].dataType
                fixes[spec.out_col] = F.coalesce(
                    F.col(spec.out_col), F.from_json(F.lit("[]"), dt)
                )
        if fixes:
            out = out.withColumns(fixes)
        return out

    def _apply_aggregate_rowkey(
        self,
        df: DataFrame,
        join: JoinElement,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        """Correlated aggregate via join + group on a synthetic row key.

        Used when the M-hop predicate is non-equi (theta LATERAL) or the
        aggregate's inner expression transits [This] values (row-correlated
        — the foreign-key groupBy rewrite cannot express either).

        The row key is monotonically_increasing_id(), only stable within
        one materialization — the keyed frame is eagerly
        ``localCheckpoint``-ed so the aggregate join and the final
        re-attach read the *same* ids from stored blocks.  Unlike
        ``persist()`` (lazy, evictable — a recomputed partition would
        silently renumber rows), a lost checkpoint block fails the job
        instead of mis-attaching aggregates; blocks are freed by the
        ContextCleaner once the frame is unreferenced.  NULL semantics
        match LATERAL exactly: no-match rows feed NULL target columns,
        which count(col)/sum/min/max already skip.  Single-hop paths only.
        """
        m_hop = join.hop
        if join.parent is not None:
            raise ProjectError(
                f"Multi-hop aggregation over relation "
                f"{m_hop.relation.name!r} with theta predicates or "
                "[This] transits is not supported"
            )
        pid = join.pathid
        rid = f"__{pid}__rid"
        keyed = df.withColumn(
            rid, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        target, reads = self._agg_target_side(join, hubs, df_self=keyed)
        target = self._broadcast_if_small(
            _prefix_all(target, f"__{pid}_t__"), reads
        )
        cond = self._relation_cond(m_hop, "", f"__{pid}_t__")
        joined = keyed.join(target, F.expr(cond), "left")
        aggs = []
        for spec in join.aggs:
            # `__THIS__attr` -> our bare column; everything else (target
            # cols and transit outputs) -> target prefix
            def sub(m: re.Match) -> str:
                name = m.group(1)
                if name.startswith("__THIS__"):
                    return f"`{name[len('__THIS__'):]}`"
                return f"`__{pid}_t__{name}`"

            inner = BACKTICKED.sub(sub, spec.inner_sql)
            aggs.append(F.expr(spec.call_sql(inner)).alias(spec.out_col))
        aggdf = joined.groupBy(rid).agg(*aggs)
        out = keyed.join(aggdf, rid, "left").drop(rid)
        return self._agg_empty_fixes(out, join)

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
