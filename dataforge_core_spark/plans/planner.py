"""Source planner: rules + relations -> a stratified element DAG.

Python equivalent of the reference's ``meta.query_element`` machinery
(schema/"18 createQueryElementTable.sql":3-16;
u_enr_query_generate_elements.sql; u_enr_query_update_cte.sql:19-125):
every raw attribute, rule, lookup join and aggregate ("many-join") becomes
an element with parent ids, and elements are assigned to the lowest stage
where all parents are available.  In DataFrame terms a "CTE level" is just
a batch of ``withColumn``s/joins — Catalyst collapses adjacent projections
(CollapseProject), so stages exist only to order joins vs. the rules that
need them.

Join elements are single hops, one per distinct relation-path prefix,
each the child of the prefix one hop shorter — the reference's
``J_<id1>_<id2>…`` reuse, where a path extending another path reuses its
joins (u_enr_query_add_join.sql:33-41,74-97;
u_enr_query_add_many_join.sql:24-32).  Catalyst does not dedup separate
``.join()`` calls on its own, so this compile-time sharing matters for the
physical plan (one join per prefix instead of one per referencing path).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from dataforge_core_spark.functions.aggregates import AGGREGATE_WHITELIST
from dataforge_core_spark.model import Project, ProjectError, Rule, Source
from dataforge_core_spark.parser import (
    AggCall,
    ParsedExpression,
    parse_expression,
    rewrite,
)
from dataforge_core_spark.paths import Hop, Path, RelationGraph
from dataforge_core_spark.plans.predicates import relation_sides


def _sanitize(s: str) -> str:
    return re.sub(r"[^a-zA-Z0-9_]", "_", s)


@dataclass
class AggSpec:
    """One aggregate call bound to a join element.

    inner_sql tokens are rewritten to:
      `attr`                 — column of the M-target hub
      `__<trid>__<attr>`     — transit from a third source: the output of
                               the aggregate element's transit hop
                               ``trid`` (cardinality-1 path from the
                               target; SURVEY §7.3 /
                               u_enr_query_add_many_join_attribute)
      `__THIS__<attr>`       — transit of a [This] value into the
                               aggregate (forces the [This]-domain join)
    """

    call: AggCall
    out_col: str
    inner_sql: str
    this_attrs: set[str] = field(default_factory=set)

    def call_sql(self, inner: str | None = None) -> str:
        """``func([DISTINCT ]inner)`` over ``inner`` (default: inner_sql)."""
        body = (inner or self.inner_sql).strip()
        body = re.sub(r"(?i)^\s*distinct\s+", "", body)
        distinct = "DISTINCT " if self.call.distinct else ""
        return f"{self.call.func}({distinct}{body})"


# aggregates whose LATERAL form returns a non-NULL value over an empty
# correlated set; after the groupBy+join decorrelation the no-match rows
# are NULL and must be backfilled for parity with the reference's
# LEFT JOIN LATERAL (u_enr_query_generate_many_joins.sql:15-39)
EMPTY_ZERO = {"count", "count_if", "approx_count_distinct"}
EMPTY_ARRAY = {"collect_list", "collect_set", "array_agg"}


@dataclass
class JoinElement:
    """The last hop of one (deduplicated) relation-path prefix, joined
    onto its parent prefix's hub (or onto the source for a first hop).

    kind='lookup'    -> cardinality-1 hop: LEFT JOIN of the hop's hub
                        (J1/J2/J3 in SURVEY §2.3)
    kind='aggregate' -> M-cardinality last hop: groupBy+join decorrelation
                        of the reference's LEFT JOIN LATERAL (J5)
    """

    path: Path
    pathid: str
    kind: str  # 'lookup' | 'aggregate'
    # pathid of the prefix one hop shorter; None for a first hop
    parent: str | None = None
    # attrs needed from the path target: attr -> output column name
    needed: dict[str, str] = field(default_factory=dict)
    aggs: list[AggSpec] = field(default_factory=list)
    # an aggregate's transit hops, pre-joined onto its target side: one
    # element per distinct transit-path prefix, parents first, each path
    # starting at the target
    transits: dict[str, "JoinElement"] = field(default_factory=dict)
    # hub attrs the join keeps: ``needed`` and the source side of the
    # child hops' predicates
    carry: set[str] = field(default_factory=set)
    # [This]-side attribute names the join reads off the in-flight source
    deps: set[str] = field(default_factory=set)

    @property
    def hop(self) -> Hop:
        return self.path.hops[-1]

    @property
    def is_self(self) -> bool:
        """A hop back to the path's start — for a source plan's joins the
        source being built, whose hub does not exist yet, so the hop
        joins the in-flight frame (at any depth of the path)."""
        return self.hop.dst == self.path.hops[0].src


@dataclass
class RuleElement:
    rule: Rule
    parsed: ParsedExpression
    # final Spark SQL text with all tokens replaced by column references
    compiled_sql: str = ""
    deps: set[str] = field(default_factory=set)  # [This] attr names
    join_deps: set[str] = field(default_factory=set)  # pathids
    level: int = 0


@dataclass
class SourcePlan:
    source: Source
    rules: dict[str, RuleElement] = field(default_factory=dict)
    joins: dict[str, JoinElement] = field(default_factory=dict)
    # rule names in execution order, grouped into levels
    levels: list[list[str]] = field(default_factory=list)
    # source names whose hubs this plan reads (build-order dependencies)
    hub_deps: set[str] = field(default_factory=set)

    def take_ready(
        self, applied: set[str], computed: set[str]
    ) -> list[JoinElement]:
        """The unapplied joins whose deps are in ``computed`` and whose
        parent is applied, in registration order (a parent precedes its
        children, so a chain lands in one call); marks them applied."""
        ready = []
        for pid, j in self.joins.items():
            if pid in applied or not j.deps <= computed:
                continue
            if j.parent is None or j.parent in applied:
                applied.add(pid)
                ready.append(j)
        return ready


def _target_attr_col(pathid: str, attr: str) -> str:
    return f"__{pathid}__{attr}"


def _agg_out_col(pathid: str, idx: int) -> str:
    return f"__{pathid}__a{idx}"


def plan_source(
    project: Project, graph: RelationGraph, source: Source
) -> SourcePlan:
    """Parse + resolve + stratify all rules of one source."""
    plan = SourcePlan(source=source)
    by_name = project.source_by_name()
    raw = source.raw_by_name()
    rule_map = source.rule_by_name()

    def attr_exists(src: Source, attr: str) -> bool:
        return attr in src.raw_by_name() or attr in src.rule_by_name()

    # -- parse every rule, resolve paths, build elements ------------------
    for rule in source.rules:
        parsed = parse_expression(rule.expression)
        el = RuleElement(rule=rule, parsed=parsed)
        explicit = {p.source_name: p.relations for p in rule.parameters}

        spans: list[tuple[int, int, str]] = []
        for tok in parsed.tokens:
            if tok.source == "This":
                if tok.attr == rule.name:
                    # self-reference ban — svc_parse_enrichment.sql:229-241
                    raise ProjectError(
                        f"Rule {rule.name!r} in source "
                        f"{source.source_name!r} references itself"
                    )
                if tok.attr not in raw and tok.attr not in rule_map:
                    raise ProjectError(
                        f"Rule {rule.name!r}: unknown [This] attribute "
                        f"{tok.attr!r} in source {source.source_name!r}"
                    )
                el.deps.add(tok.attr)
                spans.append((tok.start, tok.end, f"`{tok.attr}`"))
                continue
            # cross-source token -> lookup join
            if tok.source not in by_name:
                raise ProjectError(
                    f"Rule {rule.name!r} references unknown source "
                    f"[{tok.source}]"
                )
            if not attr_exists(by_name[tok.source], tok.attr):
                raise ProjectError(
                    f"Rule {rule.name!r}: source [{tok.source}] has no "
                    f"attribute {tok.attr!r}"
                )
            # cardinality '1' wanted: a discovery finding only M paths
            # raises the reference's "You must use aggregation without
            # OVER clause" verbatim (u_get_next_relation_path.sql:82-83)
            path = graph.resolve(
                source.source_name,
                tok.source,
                explicit.get(tok.source),
                context=f"(rule {rule.name!r})",
                cardinality="1",
            )
            if path.is_aggregate:
                # explicit path pinned to an M chain without aggregation
                raise ProjectError(
                    "You must use aggregation without OVER clause. "
                    f"Target source `{tok.source}`"
                )
            join = _get_join(plan.joins, path, "lookup", el.join_deps)
            col = join.needed.setdefault(
                tok.attr, _target_attr_col(join.pathid, tok.attr)
            )
            spans.append((tok.start, tok.end, f"`{col}`"))

        for call in parsed.aggs:
            if call.func not in AGGREGATE_WHITELIST:
                raise ProjectError(
                    f"Rule {rule.name!r}: function {call.func!r} is not an "
                    "allowed aggregate"
                )
            srcs = {t.source for t in call.tokens}
            for s in srcs - {"This"}:
                if s not in by_name:
                    raise ProjectError(
                        f"Rule {rule.name!r} references unknown source [{s}]"
                    )
            for t in call.tokens:
                owner = source if t.source == "This" else by_name[t.source]
                if not attr_exists(owner, t.attr):
                    raise ProjectError(
                        f"Rule {rule.name!r}: source [{t.source}] has no "
                        f"attribute {t.attr!r}"
                    )
            # the aggregation target is the (single) source reached via an
            # M-cardinality path; other sources are transits (resolved
            # from the target, so they may be unreachable from [This])
            m_candidates: list[tuple[str, Path]] = []
            other_sources: list[str] = []
            first_err: ProjectError | None = None
            for s in sorted(srcs - {"This"}):
                try:
                    # cardinality 'M' wanted: 1-only sources raise the
                    # reference's "Remove aggregation or add OVER clause"
                    # (u_get_next_relation_path.sql:84-85) and become
                    # transit candidates instead
                    p = graph.resolve(
                        source.source_name,
                        s,
                        explicit.get(s),
                        context=f"(rule {rule.name!r})",
                        cardinality="M",
                    )
                except ProjectError as e:
                    first_err = first_err or e
                    other_sources.append(s)
                    continue
                if p.is_aggregate:
                    m_candidates.append((s, p))
                else:
                    other_sources.append(s)
            if not m_candidates:
                # surface the first per-parameter path error verbatim,
                # as the reference's parameter loop does
                # (svc_parse_enrichment.sql:295-303)
                raise first_err or ProjectError(
                    f"Rule {rule.name!r}: aggregation path has cardinality "
                    "1 — remove aggregation or add OVER clause"
                )
            if len(m_candidates) > 1:
                raise ProjectError(
                    f"Rule {rule.name!r}: aggregate references multiple "
                    f"M-cardinality sources "
                    f"{sorted(s for s, _ in m_candidates)}"
                )
            agg_src, path = m_candidates[0]
            join = _get_join(plan.joins, path, "aggregate", el.join_deps)
            # transit sources must be reachable from the TARGET with a
            # cardinality-1 path (they are pre-joined onto the
            # aggregation side — SURVEY §7.3); BFS raises the reference
            # messages when only M paths (or none) exist
            transits = {
                s: _get_join(
                    join.transits,
                    graph.discover(
                        agg_src,
                        s,
                        context=f"(transit in rule {rule.name!r})",
                        cardinality="1",
                    ),
                    "lookup",
                    set(),
                    tag="tr_",
                )
                for s in other_sources
            }
            inner_spans = []
            this_attrs: set[str] = set()
            for t in call.tokens:
                if t.source == agg_src:
                    repl = f"`{t.attr}`"
                elif t.source == "This":
                    repl = f"`__THIS__{t.attr}`"
                    this_attrs.add(t.attr)
                    el.deps.add(t.attr)
                else:
                    tr = transits[t.source]
                    col = tr.needed.setdefault(
                        t.attr, _target_attr_col(tr.pathid, t.attr)
                    )
                    repl = f"`{col}`"
                inner_spans.append(
                    (
                        t.start - call.inner_offset,
                        t.end - call.inner_offset,
                        repl,
                    )
                )
            inner_sql = rewrite(call.inner, inner_spans)
            out_col = _agg_out_col(join.pathid, len(join.aggs))
            existing = next(
                (
                    a.out_col
                    for a in join.aggs
                    if a.inner_sql == inner_sql
                    and a.call.func == call.func
                    and a.call.distinct == call.distinct
                ),
                None,
            )
            if existing is None:
                join.aggs.append(
                    AggSpec(
                        call=call,
                        out_col=out_col,
                        inner_sql=inner_sql,
                        this_attrs=this_attrs,
                    )
                )
            else:
                out_col = existing
            spans.append((call.start, call.end, f"`{out_col}`"))

        el.compiled_sql = rewrite(rule.expression, spans)
        plan.rules[rule.name] = el

    # -- per hop: the hub attrs it carries, its hub build dep -------------
    for reg in [plan.joins] + [j.transits for j in plan.joins.values()]:
        for join in reg.values():
            join.carry |= set(join.needed)
            if join.parent is not None:
                reg[join.parent].carry |= relation_sides(join.hop)[0]
            plan.hub_deps.add(join.hop.dst)
    plan.hub_deps.discard(source.source_name)
    for join in plan.joins.values():
        join.deps = _this_deps(join)
        # [This]-transits into aggregates are also pipeline deps
        for a in join.aggs:
            join.deps |= a.this_attrs

    _check_cycles(plan)
    _assign_levels(plan)
    return plan


def _get_join(
    registry: dict[str, JoinElement],
    path: Path,
    kind: str,
    join_deps: set[str],
    tag: str = "j_",
) -> JoinElement:
    """The element of ``path``'s last hop in ``registry`` (a plan's
    joins, or an aggregate's transits), registering one lookup element
    per shorter prefix on the way (each the parent of the next), and
    adding every prefix's pathid to the rule's ``join_deps``.  A
    multi-hop aggregate hangs off the prefix of its last cardinality-1
    hop."""
    parent = None
    for n in range(1, len(path.hops) + 1):
        k = kind if n == len(path.hops) else "lookup"
        sub = Path(path.hops[:n])
        pathid = _sanitize(("agg_" if k == "aggregate" else tag) + sub.id())
        el = registry.get(pathid)
        if el is None:
            el = JoinElement(path=sub, pathid=pathid, kind=k, parent=parent)
            registry[pathid] = el
        join_deps.add(pathid)
        parent = pathid
    return el


def _this_deps(join: JoinElement) -> set[str]:
    """[This]-side attribute names a hop reads off the in-flight source:
    a first hop's source side (a later hop's is its parent's hub), and a
    self hop's hub side — its predicate's destination side and the
    attrs it carries."""
    src, dst = relation_sides(join.hop)
    deps = set(src) if join.parent is None else set()
    if join.is_self:
        deps |= dst | join.carry
    return deps


def _check_cycles(plan: SourcePlan) -> None:
    """DFS cycle detection over [This]-rule edges + join key edges.

    Mirrors u_check_enrichment_loop.sql:23-72 (includes rules used inside
    relation predicates via join deps).
    """
    color: dict[str, int] = {}

    def neighbors(rule_name: str) -> set[str]:
        el = plan.rules[rule_name]
        out = {d for d in el.deps if d in plan.rules}
        for pid in el.join_deps:
            out |= {d for d in plan.joins[pid].deps if d in plan.rules}
        return out

    def dfs(n: str, trail: list[str]) -> None:
        color[n] = 1
        for m in neighbors(n):
            if color.get(m) == 1:
                raise ProjectError(
                    "Circular dependency between rules: "
                    + " -> ".join(trail + [m])
                )
            if color.get(m, 0) == 0:
                dfs(m, trail + [m])
        color[n] = 2

    for name in plan.rules:
        if color.get(name, 0) == 0:
            dfs(name, [name])


def _assign_levels(plan: SourcePlan) -> None:
    """Longest-path stratification (fixpoint identical in effect to
    u_enr_query_update_cte.sql:19-125's lowest-available-CTE loop)."""
    memo: dict[str, int] = {}

    def rule_level(name: str) -> int:
        if name in memo:
            return memo[name]
        el = plan.rules[name]
        lvl = 0
        for d in el.deps:
            if d in plan.rules:
                lvl = max(lvl, rule_level(d))
        for pid in el.join_deps:
            lvl = max(lvl, join_level(plan.joins[pid]))
        memo[name] = lvl + 1
        return lvl + 1

    def join_level(join: JoinElement) -> int:
        lvl = 0
        for d in join.deps:
            if d in plan.rules:
                lvl = max(lvl, rule_level(d))
        return lvl

    max_lvl = 0
    for name in plan.rules:
        lvl = rule_level(name)
        plan.rules[name].level = lvl
        max_lvl = max(max_lvl, lvl)

    plan.levels = [[] for _ in range(max_lvl)]
    for name, el in plan.rules.items():
        if el.level > 0:
            plan.levels[el.level - 1].append(name)

    # preserve declaration order within a level
    order = {r.name: i for i, r in enumerate(plan.source.rules)}
    for lv in plan.levels:
        lv.sort(key=lambda n: order[n])


def status_case_sql(source: Source) -> str | None:
    """The ``s_validation_status_code`` CASE over the source's V rules
    (u_enr_query_add_validation_status.sql:38-58): 'F' when a fail rule
    is false, else 'W' when a warn rule is, else 'P'; None without V
    rules."""
    clauses = []
    for action in ("F", "W"):
        names = [
            r.name
            for r in source.rules
            if r.rule_type == "V" and r.validation_action == action
        ]
        if names:
            clauses.append(
                f"WHEN NOT ({' AND '.join(names)}) THEN '{action}'"
            )
    if not clauses:
        return None
    return "CAST(CASE " + " ".join(clauses) + " ELSE 'P' END AS string)"


def build_levels(project: Project, graph: RelationGraph) -> list[list[str]]:
    """Hub build levels (svc_generate_queries.sql:18-53): each level's
    hubs read only hubs of earlier levels; names sorted within a level.

    Sub-sources are not standalone hubs — their element rules compile
    into the parent hub's array enrichment (§2.11).  Stream sources run
    via streaming/, outside the batch build (the reference routes them
    to meta.process, outside run.sql — u_enr_query_generate_query.sql:
    101-104), so a batch hub that reads one cannot be built."""
    streams = {
        s.source_name for s in project.sources if s.processing_type == "stream"
    }
    deps: dict[str, set[str]] = {}
    for s in project.sources:
        if s.sub_source_parent or s.source_name in streams:
            continue
        deps[s.source_name] = plan_source(project, graph, s).hub_deps
        read = sorted(deps[s.source_name] & streams)
        if read:
            raise ProjectError(
                f"Source {s.source_name!r} reads stream source(s) "
                f"{', '.join(read)}: a batch hub cannot read a stream hub"
            )
    placed: set[str] = set()
    levels: list[list[str]] = []
    remaining = set(deps)
    while remaining:
        level = sorted(n for n in remaining if deps[n] <= placed)
        if not level:
            raise ProjectError(
                "Circular dependencies in sources: "
                + ", ".join(sorted(remaining))
            )
        levels.append(level)
        placed |= set(level)
        remaining -= set(level)
    return levels
