"""Compiler: SourcePlan -> Spark DataFrame pipeline.

Replaces the reference's SQL generator
(enr-query-generator/u_enr_query_generate_query.sql and friends) with
direct DataFrame composition:

- CTE levels        -> batches of ``withColumns`` (Catalyst collapses them)
- LEFT JOIN hub     -> ``df.join(chain, F.expr(pred), "left")`` where the
                       chain is the multi-hop lookup path with every hub's
                       columns prefixed (collision-free); Catalyst prunes
                       unused columns through the renames and picks
                       broadcast vs. sort-merge per hub size
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
partial aggregation all apply.  Lookup paths are deduplicated at compile
time (one shuffle per path, not per referencing rule), and aggregate paths
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
from dataforge_core_spark.parser import (
    equi_conjuncts,
    parse_expression,
    parse_relation_expression,
    rewrite as _rewrite_spans,
)
from dataforge_core_spark.paths import Hop, RelationGraph
from dataforge_core_spark.plans.planner import (
    JoinElement,
    SourcePlan,
    plan_source,
)
from dataforge_core_spark.session import sql_conf

# aggregates whose LATERAL form returns a non-NULL value over an empty
# correlated set; after the groupBy+join decorrelation the no-match rows
# are NULL and must be backfilled for parity with the reference's
# LEFT JOIN LATERAL (u_enr_query_generate_many_joins.sql:15-39)
_EMPTY_ZERO = {"count", "count_if", "approx_count_distinct"}
_EMPTY_ARRAY = {"collect_list", "collect_set", "array_agg"}

_BACKTICKED = re.compile(r"`([A-Za-z0-9_]+)`")


def _prefix_all(df: DataFrame, prefix: str) -> DataFrame:
    return df.toDF(*[prefix + c for c in df.columns])


def sub_source_sql(project: Project, graph: RelationGraph, sub: Source) -> str:
    """SQL expression enriching the parent's array<struct> attribute:
    ``transform(arr, x -> named_struct(raw fields..., rules...))`` —
    the native form of the reference's sub-source generation
    (ARRAY_AGG(STRUCT(...)) over inline(parent_expr) —
    u_enr_query_generate_query.sql:52, u_enr_query_add_enrichment.sql:
    80-117).  Element rules are [This]-only scalar expressions
    (lookups/aggregates/windows inside array elements are rejected);
    rule composition is resolved by textual substitution in level order
    (lambda scopes have no lateral aliases).  Shared by the DataFrame
    compiler and the SQL emitter — identical artifact semantics.

    Sub-source CHAINS (a sub-source whose parent is itself a
    sub-source — the reference resolves these with a recursive parent
    walk, u_enr_query_get_top_most_parent_source_id.sql:19-21) nest as
    inner ``transform`` lambdas: each child appends a
    ``'<child_name>', transform(<element array field>, x<d> -> ...)``
    item to its parent element's named_struct, with one lambda variable
    per depth so scopes never shadow.  The whole chain stays a single
    scan-side expression — no explode/re-aggregate, no shuffle, safe at
    any fan-out.
    """
    return _sub_source_transform(
        project,
        graph,
        sub,
        f"`{sub.sub_source_attribute}`",
        0,
        scopes={sub.sub_source_parent or "": None},
    )


def _sub_ancestors(project: Project, sub: Source) -> dict[str, Source]:
    """{source_name: Source} for every ancestor up the sub-source parent
    chain (nearest first; terminates at the top-most real source —
    cycles are rejected at load time)."""
    by_name = project.source_by_name()
    out: dict[str, Source] = {}
    cur = by_name.get(sub.sub_source_parent or "")
    while cur is not None and cur.source_name not in out:
        out[cur.source_name] = cur
        cur = by_name.get(cur.sub_source_parent or "")
    return out


_anc_marker_seq = __import__("itertools").count()


def _sub_siblings(project: Project, sub: Source) -> dict[str, Source]:
    """{source_name: Source} for the OTHER sub-sources sharing this
    sub-source's parent."""
    return {
        s.source_name: s
        for s in project.sources
        if s.sub_source_parent == (sub.sub_source_parent or "")
        and s.source_name != sub.source_name
    }


def _rewrite_ancestor_refs(
    project: Project, sub: Source
) -> tuple[Source, dict[str, tuple[str, str]]]:
    """Element rules may reference ANCESTOR attributes —
    ``[parent_name].attr`` — because every enclosing scope (the parent
    hub's columns, and each outer lambda's element fields) is lexically
    visible inside a nested ``transform`` lambda.  They may also
    reference SIBLING sub-sources of the same parent — ``[sibling].attr``
    yields the ARRAY of that attribute over the sibling's enriched
    elements (the sibling's whole transform is a pure expression over
    the shared parent scope, so it is embeddable wherever the rule's
    own lambda body lives).

    Each such token is rewritten to a unique backticked MARKER before
    planning (the planner would otherwise demand a relation path); the
    returned ``markers`` map records which (source, attribute) every
    marker names, so :func:`_sub_source_transform` resolves it against
    THAT ancestor's scope (or sibling's transform) specifically — a
    same-named field in a nearer scope can never capture an explicitly
    qualified reference."""
    ancestors = _sub_ancestors(project, sub)
    siblings = _sub_siblings(project, sub)
    markers: dict[str, tuple[str, str]] = {}
    new_rules = []
    changed = False
    for r in sub.rules:
        parsed = parse_expression(r.expression, allow_this_agg=True)
        spans: list[tuple[int, int, str]] = []
        # only tokens OUTSIDE aggregate calls: an aggregate over an
        # ancestor ref must keep its tokens so the planner's normal
        # element-scope rejection still fires (element rules are scalar)
        for tok in parsed.tokens:
            if tok.source in ("This", "Related"):
                continue
            anc = ancestors.get(tok.source) or siblings.get(tok.source)
            if anc is None:
                continue  # planner raises its element-scope error
            if (
                tok.attr not in anc.raw_by_name()
                and tok.attr not in anc.rule_by_name()
            ):
                raise ProjectError(
                    f"Rule {r.name!r}: source [{tok.source}] has no "
                    f"attribute {tok.attr!r}"
                )
            mk = f"__anc_{next(_anc_marker_seq)}"
            markers[mk] = (tok.source, tok.attr)
            spans.append((tok.start, tok.end, f"`{mk}`"))
        if spans:
            import dataclasses

            r = dataclasses.replace(
                r, expression=_rewrite_spans(r.expression, spans)
            )
            changed = True
        new_rules.append(r)
    if not changed:
        return sub, markers
    import dataclasses

    return dataclasses.replace(sub, rules=new_rules), markers


_sib_var_seq = __import__("itertools").count()

# bound on [sibling].attr reference chains (A -> B -> C -> ...): each hop
# embeds the referenced sibling's complete transform inline (SQL lambdas
# have no let-binding), so expression size grows with chain depth — the
# same class of bound as dedup.CC_MAX_ITERS
SIB_CHAIN_MAX = 8


def _sub_source_transform(
    project: Project,
    graph: RelationGraph,
    sub: Source,
    coll_expr: str,
    depth: int,
    scopes: dict[str, dict[str, str] | None] | None = None,
    visiting: frozenset = frozenset(),
) -> str:
    """One level of sub-source enrichment over the collection expression
    ``coll_expr`` (a column at depth 0, an element field reference
    inside the enclosing lambda otherwise); recurses into sub-sources of
    ``sub``.  ``scopes`` maps each ancestor source name to its lambda
    scope's field expressions (``None`` for the top-level real source,
    whose columns resolve by plain SQL name inside the lambdas) —
    ancestor references resolve against the NAMED ancestor, never a
    same-named field of a nearer scope."""
    sub, anc_markers = _rewrite_ancestor_refs(project, sub)
    plan = plan_source(project, graph, sub)
    if plan.joins:
        raise ProjectError(
            f"Sub-source {sub.source_name!r}: element rules may only "
            "reference [This] element attributes"
        )
    for el in plan.rules.values():
        if el.parsed.window:
            raise ProjectError(
                f"Sub-source {sub.source_name!r}: window rules are not "
                f"allowed in element scope ({el.rule.name!r})"
            )
        if el.parsed.aggs:
            # previously rejected implicitly via the path resolver; the
            # ancestor-ref rewrite can erase an aggregate's tokens, so
            # ban it explicitly — element rules are scalar
            raise ProjectError(
                f"Sub-source {sub.source_name!r}: aggregate rules are not "
                f"allowed in element scope ({el.rule.name!r})"
            )
    var = "x" if depth == 0 else f"x{depth}"
    scopes = dict(scopes or {})
    field_exprs: dict[str, str] = {
        a.name: f"{var}.`{a.name}`" for a in sub.raw_attributes
    }
    # the embedded transform of each referenced sibling, memoized per
    # rule-set compile: N references to one sibling (or a chain where
    # several rules hop through the same intermediate) build the
    # recursive embedding ONCE instead of re-deriving it per occurrence
    sib_memo: dict[str, str] = {}

    def _resolve(m: "re.Match[str]") -> str:
        n = m.group(1)
        if n in anc_markers:  # qualified ancestor or sibling reference
            src, attr = anc_markers[n]
            if src in scopes:  # ancestor
                outer = scopes.get(src)
                if outer is None:
                    # real top-level source: its columns are in plain SQL
                    # scope inside the lambdas
                    return f"`{attr}`"
                return f"({outer[attr]})"
            # sibling sub-source of the same parent: embed the sibling's
            # full transform (a pure expression over the shared parent
            # scope, lexically visible here) and project the attribute —
            # the reference yields array<attr-type> over the sibling's
            # enriched elements.  The sibling's inner lambda vars shadow
            # this rule's only inside the embedded expression, so no
            # capture is possible.
            if src in visiting or src == sub.source_name:
                chain = " -> ".join([*sorted(visiting), sub.source_name, src])
                raise ProjectError(
                    f"Circular sibling reference: {chain}"
                )
            if len(visiting) >= SIB_CHAIN_MAX:
                raise ProjectError(
                    f"Sibling-reference chain deeper than "
                    f"{SIB_CHAIN_MAX} (at {sub.source_name!r} -> "
                    f"{src!r}): each hop embeds the referenced "
                    "sibling's full transform inline, so deep chains "
                    "grow the generated expression multiplicatively — "
                    "flatten the rule chain or materialize an "
                    "intermediate source"
                )
            sib_expr = sib_memo.get(src)
            if sib_expr is None:
                sib = project.source_by_name()[src]
                parent_scope = scopes.get(sub.sub_source_parent or "")
                if parent_scope is None:
                    sib_coll = f"`{sib.sub_source_attribute}`"
                else:
                    sib_coll_expr = parent_scope.get(
                        sib.sub_source_attribute
                    )
                    if sib_coll_expr is None:
                        raise ProjectError(
                            f"Sub-source {src!r}: parent attribute "
                            f"{sib.sub_source_attribute!r} not found on "
                            f"{sub.sub_source_parent!r}"
                        )
                    sib_coll = f"({sib_coll_expr})"
                sib_expr = _sub_source_transform(
                    project,
                    graph,
                    sib,
                    sib_coll,
                    depth,
                    scopes=scopes,
                    visiting=visiting | {sub.source_name},
                )
                sib_memo[src] = sib_expr
            sv = f"sb{next(_sib_var_seq)}"
            return f"transform({sib_expr}, {sv} -> {sv}.`{attr}`)"
        if n in field_exprs:  # own element fields ([This] tokens)
            return f"({field_exprs[n]})"
        return m.group(0)

    for level in plan.levels:
        for name in level:
            el = plan.rules[name]
            expr = _BACKTICKED.sub(_resolve, el.compiled_sql)
            if el.rule.cast_datatype:
                ddl = HIVE_TO_SPARK_DDL.get(
                    el.rule.cast_datatype, el.rule.cast_datatype
                )
                expr = f"CAST({expr} AS {ddl})"
            field_exprs[name] = expr
    items = list(field_exprs.items())
    for child in project.sources:
        if child.sub_source_parent != sub.source_name:
            continue
        if child.source_name in field_exprs:
            # the child's struct field would duplicate an existing
            # element field name — Spark builds the duplicate-field
            # struct silently and by-name access resolves to the first
            raise ProjectError(
                f"Sub-source {child.source_name!r}: name collides with "
                f"a field of parent {sub.source_name!r}"
            )
        inner_coll = field_exprs.get(child.sub_source_attribute)
        if inner_coll is None:
            raise ProjectError(
                f"Sub-source {child.source_name!r}: parent attribute "
                f"{child.sub_source_attribute!r} not found on "
                f"{sub.source_name!r}"
            )
        items.append(
            (
                child.source_name,
                _sub_source_transform(
                    project,
                    graph,
                    child,
                    inner_coll,
                    depth + 1,
                    scopes={**scopes, sub.source_name: field_exprs},
                ),
            )
        )
    items_sql = ", ".join(f"'{n}', {e}" for n, e in items)
    return f"transform({coll_expr}, {var} -> named_struct({items_sql}))"


def _rewrite_relation(
    hop: Hop,
    this_prefix: str | None,
    related_prefix: str | None,
    related_source_rules=None,
) -> str:
    """Rewrite a hop's relation predicate into executable SQL.

    ``this_prefix``/``related_prefix`` apply to the relation's [This] (left
    source) and [Related] (right source) tokens respectively; None = bare
    column name.  Appends uniqueness-guard conjuncts for unique-flagged
    rule keys (J7 — u_enr_query_add_join.sql:101-117).
    """
    parsed = parse_relation_expression(hop.relation.expression)
    spans = []
    guards = []
    for t in parsed.tokens:
        pref = this_prefix if t.source == "This" else related_prefix
        col = f"`{(pref or '') + t.attr}`"
        spans.append((t.start, t.end, col))
        if related_source_rules is not None and t.source == (
            "This" if not hop.forward else "Related"
        ):
            rule = related_source_rules.get(t.attr)
            if rule is not None and rule.unique:
                rpref = this_prefix if not hop.forward else related_prefix
                guards.append(f"`{(rpref or '') + t.attr}_uv_flag`")
    out = hop.relation.expression
    for start, end, repl in sorted(spans, key=lambda x: -x[0]):
        out = out[:start] + repl + out[end:]
    for g in sorted(set(guards)):
        out = f"({out}) AND {g}"
    return out


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

    def sub_sources_of(self, source: Source) -> list[Source]:
        return [
            s
            for s in self.project.sources
            if s.sub_source_parent == source.source_name
        ]

    def sub_source_sql(self, sub: Source) -> str:
        return sub_source_sql(self.project, self.graph, sub)

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

        def ready_joins() -> list[JoinElement]:
            return [
                j
                for pid, j in plan.joins.items()
                if pid not in applied and j.deps <= computed
            ]

        def apply_ready(df: DataFrame) -> DataFrame:
            for join in ready_joins():
                df = self._apply_join(df, join, source, hubs)
                applied.add(join.pathid)
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

        # validation status column (V2) — CASE chain over V-rules
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
        final_cols = [a.name for a in source.raw_attributes] + [
            r.name for r in source.rules
        ]
        # sub-source enrichments: per-element rules over array<struct>
        # attributes, re-packed in place (§2.11)
        for sub in self.sub_sources_of(source):
            if only_rules is not None and sub.source_name in df.columns:
                final_cols.append(sub.source_name)
                continue
            df = df.withColumn(
                sub.source_name, F.expr(self.sub_source_sql(sub))
            )
            final_cols.append(sub.source_name)
        final_cols += [
            f"{r.name}_uv_flag" for r in source.rules if r.unique
        ]
        if v_fail or v_warn:
            clauses = []
            if v_fail:
                clauses.append(
                    "WHEN NOT (" + " AND ".join(v_fail) + ") THEN 'F'"
                )
            if v_warn:
                clauses.append(
                    "WHEN NOT (" + " AND ".join(v_warn) + ") THEN 'W'"
                )
            status = "CAST(CASE " + " ".join(clauses) + " ELSE 'P' END AS string)"
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
        source: Source,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        if join.kind == "lookup":
            return self._apply_lookup(df, join, source, hubs)
        return self._apply_aggregate(df, join, source, hubs)

    def _chain(
        self,
        join: JoinElement,
        hubs: dict[str, DataFrame],
        df_self: DataFrame,
        upto: int,
    ) -> tuple[DataFrame, list[tuple[str, DataFrame]]]:
        """LEFT-JOINed chain of hub h0..h{upto}, columns prefixed per
        hop, and the (hub name, frame) pairs it reads."""
        hops = join.path.hops
        pid = join.pathid

        def hub_df(hop_dst: str) -> DataFrame:
            if join.is_self and hop_dst == join.path.hops[0].relation.left:
                return df_self
            return self._hub(hop_dst, hubs)

        pref = lambda i: f"__{pid}_h{i}__"  # noqa: E731
        reads = [(hop.dst, hub_df(hop.dst)) for hop in hops[: upto + 1]]
        chain = _prefix_all(reads[0][1], pref(0))
        for i in range(1, upto + 1):
            hop = hops[i]
            nxt = self._broadcast_if_small(
                _prefix_all(reads[i][1], pref(i)), [reads[i]]
            )
            rules_dst = self._by_name[hop.dst].rule_by_name()
            # hop.src side carries pref(i-1); hop.dst side pref(i)
            this_pref = pref(i - 1) if hop.forward else pref(i)
            rel_pref = pref(i) if hop.forward else pref(i - 1)
            cond = _rewrite_relation(hop, this_pref, rel_pref, rules_dst)
            chain = chain.join(nxt, F.expr(cond), "left")
        return chain, reads

    def _first_hop_cond(
        self, join: JoinElement, source: Source, related_prefix: str
    ) -> str:
        hop = join.path.hops[0]
        rules_dst = self._by_name[hop.dst].rule_by_name()
        if hop.forward:
            return _rewrite_relation(hop, None, related_prefix, rules_dst)
        return _rewrite_relation(hop, related_prefix, None, rules_dst)

    def _apply_lookup(
        self,
        df: DataFrame,
        join: JoinElement,
        source: Source,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        hops = join.path.hops
        pid = join.pathid
        last = len(hops) - 1
        chain, reads = self._chain(join, hubs, df, last)
        # project: first-hop related-side cols (for the outer predicate)
        # + needed target attrs under their final names
        keep = [
            F.col(f"__{pid}_h{last}__{attr}").alias(out)
            for attr, out in join.needed.items()
        ]
        first_cols = self._hop_side_cols(hops[0], related=True)
        rules0 = self._by_name[hops[0].dst].rule_by_name()
        guard_cols = [
            f"{a}_uv_flag"
            for a in first_cols
            if a in rules0 and rules0[a].unique
        ]
        keep += [
            F.col(f"__{pid}_h0__{a}")
            for a in sorted(set(first_cols) | set(guard_cols))
        ]
        chain = self._broadcast_if_small(chain.select(*keep), reads)
        cond = self._first_hop_cond(join, source, f"__{pid}_h0__")
        out = df.join(chain, F.expr(cond), "left")
        # drop the join-key helper columns; keep only the needed outputs
        return out.drop(
            *[f"__{pid}_h0__{a}" for a in sorted(set(first_cols) | set(guard_cols))]
        )

    def _hop_side_cols(self, hop: Hop, related: bool) -> list[str]:
        """Attribute names on the hop's dst (related=True) or src side."""
        parsed = parse_relation_expression(hop.relation.expression)
        want_this = (not related) == hop.forward
        return [
            t.attr
            for t in parsed.tokens
            if (t.source == "This") == want_this
        ]

    def _agg_target_side(
        self,
        join: JoinElement,
        hubs: dict[str, DataFrame],
        df_self: DataFrame | None = None,
    ) -> tuple[DataFrame, list[tuple[str, DataFrame]]]:
        """The aggregation input: the M-target hub with all transit
        sources pre-joined (SURVEY §7.3 — transit attrs referenced inside
        the aggregate come from cardinality-1 paths *from the target*),
        exposed under the planner's `__TR__<src>__<attr>` names, and the
        (hub name, frame) pairs it reads.

        For self-relation aggregates the target is the in-flight frame
        (mirroring :meth:`_chain`'s ``df_self`` handling) — the hub for
        the source being built does not exist yet."""
        from dataforge_core_spark.plans.planner import JoinElement as JE

        m_hop = join.path.hops[-1]
        if (
            join.is_self
            and df_self is not None
            and m_hop.dst == join.path.hops[0].relation.left
        ):
            target = df_self
        else:
            target = self._hub(m_hop.dst, hubs)
        target_src = self._by_name[m_hop.dst]
        # collect needed transit attrs per source across all agg specs
        needed: dict[str, dict[str, str]] = {}
        paths = {}
        for spec in join.aggs:
            for s, tpath in spec.transits.items():
                paths[s] = tpath
                for m in re.finditer(
                    rf"`__TR__{re.escape(s)}__([A-Za-z0-9_]+)`",
                    spec.inner_sql,
                ):
                    needed.setdefault(s, {})[m.group(1)] = (
                        f"__TR__{s}__{m.group(1)}"
                    )
        reads = [(m_hop.dst, target)]
        for s, attrs in needed.items():
            tmp = JE(
                path=paths[s],
                pathid=f"tr_{re.sub(r'[^A-Za-z0-9_]', '_', paths[s].id())}",
                kind="lookup",
                needed=attrs,
            )
            target = self._apply_lookup(target, tmp, target_src, hubs)
            reads += [(h.dst, self._hub(h.dst, hubs)) for h in paths[s].hops]
        return target, reads

    def _apply_aggregate(
        self,
        df: DataFrame,
        join: JoinElement,
        source: Source,
        hubs: dict[str, DataFrame],
    ) -> DataFrame:
        hops = join.path.hops
        pid = join.pathid
        m_hop = hops[-1]
        conj = equi_conjuncts(m_hop.relation.expression)
        if conj is None or join.needs_row_fallback:
            # arbitrary boolean M-hop predicate, or [This] values inside
            # the aggregate: the groupBy-on-foreign-key rewrite doesn't
            # apply; fall back to join + group on a synthetic row key
            # (exact LATERAL semantics, more shuffle)
            return self._apply_aggregate_rowkey(df, join, source, hubs)
        target, reads = self._agg_target_side(join, hubs, df_self=df)
        # group keys: the M-target side of each equi conjunct
        # (dst side of the hop); rewrite [This]/[Related] tokens to bare cols
        key_exprs: list[str] = []
        our_exprs: list[str] = []
        for this_text, rel_text in conj:
            dst_text = rel_text if m_hop.forward else this_text
            src_text = this_text if m_hop.forward else rel_text
            key_exprs.append(self._bare(dst_text))
            our_exprs.append(self._bare(src_text))
        gb = [F.expr(k).alias(f"__{pid}__k{j}") for j, k in enumerate(key_exprs)]
        aggs = []
        for spec in join.aggs:
            distinct = "DISTINCT " if spec.call.distinct else ""
            inner = re.sub(r"(?i)^\s*distinct\s+", "", spec.inner_sql.strip())
            aggs.append(
                F.expr(f"{spec.call.func}({distinct}{inner})").alias(
                    spec.out_col
                )
            )
        aggdf = self._broadcast_if_small(
            target.groupBy(*gb).agg(*aggs), reads
        )

        if len(hops) == 1:
            # join df directly on our-side exprs == group keys
            cond = " AND ".join(
                f"({e}) = `__{pid}__k{j}`" for j, e in enumerate(our_exprs)
            )
            out = df.join(aggdf, F.expr(cond), "left")
        else:
            # chain h0..h{n-2} (all cardinality-1), then attach aggdf on the
            # M hop, then join df on the first hop
            upto = len(hops) - 2
            chain, chain_reads = self._chain(join, hubs, df, upto)
            src_pref = f"__{pid}_h{upto}__"
            cond = " AND ".join(
                f"({self._prefixed(src, src_pref)}) = `__{pid}__k{j}`"
                for j, src in enumerate(our_exprs)
            )
            chain = chain.join(aggdf, F.expr(cond), "left")
            first_cols = self._hop_side_cols(hops[0], related=True)
            keep = [F.col(c) for c in aggdf.columns if c.startswith(f"__{pid}__a")]
            keep += [F.col(f"__{pid}_h0__{a}") for a in sorted(set(first_cols))]
            chain = self._broadcast_if_small(
                chain.select(*keep), chain_reads + reads
            )
            outer = self._first_hop_cond(join, source, f"__{pid}_h0__")
            out = df.join(chain, F.expr(outer), "left")
            out = out.drop(
                *[f"__{pid}_h0__{a}" for a in sorted(set(first_cols))]
            )

        return self._agg_empty_fixes(out, join)

    def _agg_empty_fixes(self, out: DataFrame, join: JoinElement) -> DataFrame:
        # LATERAL parity: empty correlated set -> 0 / [] instead of NULL
        fixes: dict[str, Column] = {}
        for spec in join.aggs:
            if spec.call.func in _EMPTY_ZERO:
                fixes[spec.out_col] = F.coalesce(
                    F.col(spec.out_col),
                    F.lit(0).cast(dict(out.dtypes)[spec.out_col]),
                )
            elif spec.call.func in _EMPTY_ARRAY:
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
        source: Source,
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
        hops = join.path.hops
        if len(hops) > 1:
            raise ProjectError(
                f"Multi-hop aggregation over relation "
                f"{hops[-1].relation.name!r} with theta predicates or "
                "[This] transits is not supported"
            )
        m_hop = hops[0]
        pid = join.pathid
        rid = f"__{pid}__rid"
        keyed = df.withColumn(
            rid, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        target, reads = self._agg_target_side(join, hubs, df_self=keyed)
        target = self._broadcast_if_small(
            _prefix_all(target, f"__{pid}_t__"), reads
        )
        rules_dst = self._by_name[m_hop.dst].rule_by_name()
        this_pref, rel_pref = (
            (None, f"__{pid}_t__") if m_hop.forward else (f"__{pid}_t__", None)
        )
        cond = _rewrite_relation(m_hop, this_pref, rel_pref, rules_dst)
        joined = keyed.join(target, F.expr(cond), "left")
        aggs = []
        for spec in join.aggs:
            # `__THIS__attr` -> our bare column; everything else (target
            # cols and `__TR__` transits) -> target prefix
            def sub(m: re.Match) -> str:
                name = m.group(1)
                if name.startswith("__THIS__"):
                    return f"`{name[len('__THIS__'):]}`"
                return f"`__{pid}_t__{name}`"

            inner = _BACKTICKED.sub(sub, spec.inner_sql)
            inner = re.sub(r"(?i)^\s*distinct\s+", "", inner.strip())
            distinct = "DISTINCT " if spec.call.distinct else ""
            aggs.append(
                F.expr(f"{spec.call.func}({distinct}{inner})").alias(
                    spec.out_col
                )
            )
        aggdf = joined.groupBy(rid).agg(*aggs)
        out = keyed.join(aggdf, rid, "left").drop(rid)
        return self._agg_empty_fixes(out, join)

    def _bare(self, text: str) -> str:
        """Rewrite [This]/[Related] tokens in a predicate side to bare
        backticked column names."""
        parsed = parse_expression(text, allow_this_agg=True)
        spans = [(t.start, t.end, f"`{t.attr}`") for t in parsed.tokens]
        out = text
        for start, end, repl in sorted(spans, key=lambda x: -x[0]):
            out = out[:start] + repl + out[end:]
        return out

    def _prefixed(self, bare_sql: str, prefix: str) -> str:
        return _BACKTICKED.sub(lambda m: f"`{prefix}{m.group(1)}`", bare_sql)

    # ------------------------------------------------------------------
    # output compilation
    # ------------------------------------------------------------------
    def compile_output(self, output, hubs: dict[str, DataFrame]) -> DataFrame:
        """Channels -> filter -> (aggregate) -> typed select -> UNION ALL.

        Mirrors u_output_generate_query.sql:88-155: per-channel SELECT with
        ``WHERE true AND <filter>``, GROUP BY all non-aggregate mapped
        columns when operation_type='Aggregate', typed-NULL fill for
        unmapped columns, UNION ALL across channels.
        """
        from dataforge_core_spark.functions.aggregates import (
            AGGREGATE_WHITELIST,
        )

        parts: list[DataFrame] = []
        for ch in output.channels:
            if ch.unpivot:
                # u_output_generate_query.sql:101 — verbatim
                raise ProjectError("Unpivot not supported yet!")
            src = self._by_name.get(ch.source_name)
            if src is None:
                raise ProjectError(
                    f"Output {output.output_name!r}: unknown source "
                    f"{ch.source_name!r}"
                )
            df = self._hub(ch.source_name, hubs)
            # validation-status routing (V3)
            if "s_validation_status_code" in df.columns:
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
                    raise ProjectError(
                        f"Output {output.output_name!r}: channel must "
                        "include at least one of pass/warn/fail"
                    )
                if set(codes) != {"P", "W", "F"}:
                    df = df.filter(
                        F.col("s_validation_status_code").isin(codes)
                    )
            if ch.filter:
                fexpr = self._channel_filter_sql(ch.filter, src)
                col = F.expr(fexpr)
                # boolean type check (P5 — impc_update_test_results.sql:65-76)
                if df.select(col.alias("f")).schema["f"].dataType != T.BooleanType():
                    raise ProjectError(
                        f"Output {output.output_name!r}: filter must be "
                        f"boolean: {ch.filter!r}"
                    )
                df = df.filter(col)

            out_types = {c.name: HIVE_TO_SPARK_DDL[c.hive_type] for c in output.columns}
            mapped: dict[str, Column] = {}
            if (ch.operation_type or "").lower() == "aggregate":
                dims = []
                aggs = []
                for mp in ch.mappings:
                    path = ".".join([mp.attribute] + mp.keys)
                    if mp.aggregate:
                        if mp.aggregate not in AGGREGATE_WHITELIST:
                            raise ProjectError(
                                f"Output {output.output_name!r}: "
                                f"{mp.aggregate!r} is not an allowed aggregate"
                            )
                        d = "DISTINCT " if mp.distinct else ""
                        aggs.append(
                            F.expr(f"{mp.aggregate}({d}{path})").alias(mp.column)
                        )
                    else:
                        dims.append(F.expr(path).alias(mp.column))
                if not aggs:
                    raise ProjectError(
                        f"Output {output.output_name!r}: Aggregate channel "
                        "has no aggregate mappings"
                    )
                df = df.groupBy(*dims).agg(*aggs) if dims else df.agg(*aggs)
                for mp in ch.mappings:
                    mapped[mp.column] = F.col(mp.column)
            else:
                for mp in ch.mappings:
                    if mp.aggregate:
                        raise ProjectError(
                            f"Output {output.output_name!r}: aggregate "
                            "mapping requires operation_type: Aggregate"
                        )
                    path = ".".join([mp.attribute] + mp.keys)
                    mapped[mp.column] = F.expr(path)

            sel = []
            for c in output.columns:
                if c.name in mapped:
                    sel.append(
                        mapped[c.name].cast(out_types[c.name]).alias(c.name)
                    )
                else:
                    # typed NULL fill — u_output_query_column_select.sql:13-21
                    sel.append(
                        F.lit(None).cast(out_types[c.name]).alias(c.name)
                    )
            parts.append(df.select(*sel))

        if not parts:
            raise ProjectError(
                f"Output {output.output_name!r} has no channels"
            )
        # channels combine left-associatively in declared order: UNION ALL
        # (O2) by default, INTERSECT / EXCEPT (both DISTINCT — O3
        # extension) when the channel declares a set_operation.  The
        # emitter parenthesizes each operand so the SQL artifact gets the
        # same left-associative grouping (bare SQL would bind INTERSECT
        # tighter).
        out = parts[0]
        for ch, p in zip(output.channels[1:], parts[1:]):
            op = (ch.set_operation or "").lower()
            if op == "intersect":
                out = out.intersect(p)
            elif op == "except":
                out = out.subtract(p)
            else:
                out = out.unionByName(p)
        return out

    def _channel_filter_sql(self, filter_expr: str, src: Source) -> str:
        parsed = parse_expression(filter_expr)
        if parsed.aggs:
            raise ProjectError(
                f"Channel filter cannot contain aggregates: {filter_expr!r}"
            )
        raw = src.raw_by_name()
        rules = src.rule_by_name()
        spans = []
        for t in parsed.tokens:
            if t.source != "This":
                raise ProjectError(
                    "Channel filters may only reference [This]: "
                    f"{filter_expr!r}"
                )
            if t.attr not in raw and t.attr not in rules:
                raise ProjectError(
                    f"Channel filter references unknown attribute "
                    f"{t.attr!r}"
                )
            spans.append((t.start, t.end, f"`{t.attr}`"))
        out = filter_expr
        for start, end, repl in sorted(spans, key=lambda x: -x[0]):
            out = out[:start] + repl + out[end:]
        return out
