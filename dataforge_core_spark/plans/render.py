"""One renderer of a hub's body: the Spark SQL of each level of a
:class:`SourcePlan`.

The reference builds a hub as one statement, ``CREATE TABLE … AS WITH
cte0 … LEFT JOIN …`` (u_enr_query_generate_query.sql:45-142).  Both back
ends here render a hub from the SELECTs below: the SQL emitter assembles
them into run.sql CTEs over hub tables, and the DataFrame compiler runs
each one with ``spark.sql`` over the in-flight frame and the hub frames.

Per level of the plan (:meth:`HubRenderer.levels`):

- the *join SELECT* attaches the hops whose deps are met: one ``LEFT JOIN
  <hub> J_<pathid>`` per relation-path prefix (u_enr_query_add_join.sql:
  74-97), a later hop's [This] side its parent's alias, or the parent's
  carried ``__<parent>__<attr>`` columns when the parent joined at an
  earlier level; each aggregate as the decorrelated ``GROUP BY``
  subquery of J5's LEFT JOIN LATERAL, its target side the same join
  SELECT over the target hub and its transit hops (SURVEY §7.3).  An
  equi predicate pre-aggregates the target on its foreign key; a theta
  predicate or [This] values inside the aggregate join the target to
  the *domain*, the distinct [This] values they read, group on it and
  attach back with ``<=>`` (the unnesting of a dependent join, Neumann
  & Kemper, BTW 2015).  The domain reads ``{prev}`` a second time, as
  Spark's own decorrelated LATERAL does, so a domain column computed by
  a non-deterministic rule may take other values there than in the
  rows it attaches to;
- the *rule SELECT* computes the level's rules, then their ``_uv_flag``
  windows (V4), so that a later self hop's uniqueness guard can read
  them.

Every text is a ``str.format`` template: ``{prev}`` is the in-flight
relation (the previous CTE, or the frame being compiled) and each hub
read has a field of its own (:meth:`HubRenderer.relations`); braces of
the project's own SQL are doubled.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator, TypeVar

from dataforge_core_spark.model import HIVE_TO_SPARK_DDL, Project, ProjectError
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import (
    EMPTY_ARRAY,
    EMPTY_ZERO,
    JoinElement,
    SourcePlan,
    status_case_sql,
)
from dataforge_core_spark.plans.predicates import (
    equi_keys,
    relation_sides,
    render_relation,
    render_tokens,
)
from dataforge_core_spark.plans.subsource import BACKTICKED, sub_source_sql

X = TypeVar("X")
PREV = "{prev}"


def _lit(sql: str) -> str:
    """``sql`` as literal template text."""
    return sql.replace("{", "{{").replace("}", "}}")


@dataclass
class Level:
    """The joins ready before one plan level, and the level's rules to
    compute."""

    joins: list[JoinElement]
    rules: list[str]


class HubRenderer:
    def __init__(
        self, project: Project, graph: RelationGraph, plan: SourcePlan
    ):
        self.project = project
        self.graph = graph
        self.plan = plan
        self._by_name = project.source_by_name()
        # hub source name -> its template field
        self._fields: dict[str, str] = {}

    def relations(self, get: Callable[[str], X]) -> dict[str, X]:
        """Template field -> ``get(source name)`` for each hub read by
        the texts rendered so far."""
        return {f: get(name) for name, f in self._fields.items()}

    def _hub(self, name: str) -> str:
        return "{%s}" % self._fields.setdefault(name, f"h{len(self._fields)}")

    # ------------------------------------------------------------------
    def levels(self, only_rules: set[str] | None = None) -> Iterator[Level]:
        """The plan's levels, each with the joins whose deps the earlier
        levels met.  ``only_rules`` restricts the rules computed to a
        subset over a relation that already holds every other rule (a
        recalculation, W4), and the joins applied to those it needs."""
        plan = self.plan
        applied: set[str] = set()
        computed = {a.name for a in plan.source.raw_attributes}
        if only_rules is not None:
            computed |= set(plan.rules) - only_rules
            needed = set()
            for name in only_rules:
                needed |= plan.rules[name].join_deps
            applied = set(plan.joins) - needed
        for full in plan.levels:
            yield Level(
                plan.take_ready(applied, computed),
                [n for n in full if only_rules is None or n in only_rules],
            )
            computed |= set(full)
        if len(applied) != len(plan.joins):
            raise ProjectError(
                "Internal: joins never became applicable: "
                f"{set(plan.joins) - applied}"
            )

    def join_select(
        self,
        joins: list[JoinElement],
        hint: Callable[[list[str]], bool] | None = None,
    ) -> str:
        """One level's ``joins`` over ``{prev}``.  ``hint(hubs)`` says
        whether a join that reads exactly those hubs gets a ``BROADCAST``
        hint."""
        return self._select(PREV, "T", joins, PREV, hint)

    def rule_select(
        self, names: list[str], decimals: set[str] | frozenset = frozenset()
    ) -> str:
        """The rules ``names`` over ``{prev}``, each cast to its
        ``cast_datatype`` or, when in ``decimals``, to decimal(38,12)
        (P3, u_enr_query_add_enrichment.sql:128-133), then the unique
        ones' ``<rule>_uv_flag`` windows (V4)."""
        cols = ["T.*"]
        for name in names:
            rule = self.plan.rules[name].rule
            expr = _lit(self.plan.rules[name].compiled_sql)
            if rule.cast_datatype:
                ddl = HIVE_TO_SPARK_DDL.get(
                    rule.cast_datatype, rule.cast_datatype
                )
                expr = f"CAST({expr} AS {ddl})"
            elif name in decimals:
                expr = f"CAST({expr} AS decimal(38,12))"
            cols.append(f"{expr} AS `{name}`")
        text = _select_text(cols, f"{PREV} T")
        unique = [n for n in names if self.plan.rules[n].rule.unique]
        if not unique:
            return text
        flags = [
            f"(COUNT(1) OVER (PARTITION BY R.`{n}`) = 1) AS `{n}_uv_flag`"
            for n in unique
        ]
        return _select_text(["R.*"] + flags, f"(\n{text}\n) R")

    def final_select(self, keep: set[str] | frozenset = frozenset()) -> str:
        """The hub's columns over ``{prev}``: raw attributes, rules, the
        sub-source enrichments (§2.11; those in ``keep`` are read as
        they are), the uniqueness flags and the validation status (V2)."""
        source = self.plan.source
        cols = [f"`{a.name}`" for a in source.raw_attributes]
        cols += [f"`{r.name}`" for r in source.rules]
        for sub in self.project.sources:
            if sub.sub_source_parent != source.source_name:
                continue
            name = sub.source_name
            if name in keep:
                cols.append(f"`{name}`")
            else:
                sql = sub_source_sql(self.project, self.graph, sub)
                cols.append(f"{_lit(sql)} AS `{name}`")
        cols += [f"`{r.name}_uv_flag`" for r in source.rules if r.unique]
        status = status_case_sql(source)
        if status is not None:
            cols.append(f"{_lit(status)} AS s_validation_status_code")
        return _select_text(cols, PREV)

    # ------------------------------------------------------------------
    def _select(
        self,
        rel: str,
        alias: str,
        joins: list[JoinElement],
        self_rel: str | None,
        hint: Callable[[list[str]], bool] | None,
    ) -> str:
        """``rel`` (as ``alias``) LEFT JOIN each of ``joins``; a hop back
        to the source being built reads ``self_rel``."""
        cols = [f"{alias}.*"]
        clauses: list[str] = []
        hinted: list[str] = []
        batch: set[str] = set()
        for join in joins:
            pid = join.pathid
            src = _src_col(join, alias, batch)
            if join.kind == "lookup":
                hub, reads = self._read(join, self_rel)
                pred = render_relation(
                    join.hop, src, lambda a: f"J_{pid}.`{a}`",
                    self._by_name[join.hop.dst],
                )
                clauses.append(f"LEFT JOIN {hub} J_{pid} ON {_lit(pred)}")
                cols += [
                    f"J_{pid}.`{a}` AS `__{pid}__{a}`"
                    for a in sorted(join.carry)
                ]
            else:
                sub, on, reads = self._aggregate(join, src, self_rel, hint)
                clauses.append(f"LEFT JOIN {sub} J_{pid} ON {on}")
                cols += _agg_cols(join)
            if reads and hint and hint(reads):
                hinted.append(f"J_{pid}")
            batch.add(pid)
        head = f" /*+ BROADCAST({', '.join(hinted)}) */" if hinted else ""
        from_ = "\n".join([f"{rel} {alias}"] + clauses)
        return _select_text(cols, from_, head)

    def _read(
        self, join: JoinElement, self_rel: str | None
    ) -> tuple[str, list[str] | None]:
        """The relation a hop reads, and the hubs that is: ``self_rel``
        (no hubs: None) for a hop back to the source being built, else
        the hop's hub."""
        if join.is_self and self_rel is not None:
            return self_rel, None
        return self._hub(join.hop.dst), [join.hop.dst]

    def _aggregate(
        self,
        join: JoinElement,
        src: Callable[[str], str],
        self_rel: str | None,
        hint: Callable[[list[str]], bool] | None,
    ) -> tuple[str, str, list[str] | None]:
        """(the aggregate's ``GROUP BY`` subquery, its ON condition, the
        hubs whose size bounds the subquery: None when that is the
        in-flight relation)."""
        pid = join.pathid
        hop = join.hop
        target, reads = self._read(join, self_rel)
        if join.transits:
            # transit attrs come from cardinality-1 paths *from the
            # target* (SURVEY §7.3): the same join SELECT over it
            transits = list(join.transits.values())
            if reads is not None:
                reads += [t.hop.dst for t in transits]
            side = self._select(target, "G", transits, None, hint)
            target = f"(\n{side}\n)"
        keys = equi_keys(hop)
        if keys is not None and not any(a.this_attrs for a in join.aggs):
            group = [_lit(render_tokens(dst)) for _, dst in keys]
            sel = [f"{g} AS k{j}" for j, g in enumerate(group)]
            sel += [
                f"{_lit(spec.call_sql())} AS `a{k}`"
                for k, spec in enumerate(join.aggs)
            ]
            sub = _select_text(sel, f"{target} G", group_by=group)
            on = " AND ".join(
                f"({_lit(render_tokens(s, src))}) = J_{pid}.k{j}"
                for j, (s, _) in enumerate(keys)
            )
            return f"(\n{sub}\n)", on, reads
        # theta predicate or [This] values in the aggregate: join the
        # distinct [This] values the predicate and the aggregates read
        # (the domain K) to the target and group on them
        if join.parent is not None:
            raise ProjectError(
                f"Multi-hop aggregation over relation "
                f"{hop.relation.name!r} with theta predicates or "
                "[This] transits is not supported"
            )
        domain = sorted(
            relation_sides(hop)[0].union(*(a.this_attrs for a in join.aggs))
        )

        def inner(m) -> str:
            name = m.group(1)
            if name.startswith("__THIS__"):
                return f"K.`{name[len('__THIS__'):]}`"
            return f"G.`{name}`"

        pred = render_relation(
            hop, lambda a: f"K.`{a}`", lambda a: f"G.`{a}`",
            self._by_name[hop.dst],
        )
        group = [f"K.`{d}`" for d in domain]
        sel = [f"{g} AS k{j}" for j, g in enumerate(group)] + [
            f"{_lit(spec.call_sql(BACKTICKED.sub(inner, spec.inner_sql)))}"
            f" AS `a{k}`"
            for k, spec in enumerate(join.aggs)
        ]
        distinct = _select_text(group, f"{PREV} K", " DISTINCT")
        head = " /*+ BROADCAST(G) */" if reads and hint and hint(reads) else ""
        sub = _select_text(
            sel,
            f"(\n{distinct}\n) K\nLEFT JOIN {target} G ON {_lit(pred)}",
            head,
            group_by=group,
        )
        on = " AND ".join(
            f"{src(d)} <=> J_{pid}.k{j}" for j, d in enumerate(domain)
        )
        return f"(\n{sub}\n)", on, None


def _src_col(
    join: JoinElement, alias: str, batch: set[str]
) -> Callable[[str], str]:
    """A hop's [This]-side column: the relation's own for a first hop,
    the parent's alias when the parent joins in the same SELECT, else
    the parent's carried column."""
    if join.parent is None:
        return lambda a: f"{alias}.`{a}`"
    if join.parent in batch:
        return lambda a: f"J_{join.parent}.`{a}`"
    return lambda a: f"{alias}.`__{join.parent}__{a}`"


def _agg_cols(join: JoinElement) -> list[str]:
    """The aggregate's results under the planner's helper names, with
    LATERAL empty-set parity (u_enr_query_generate_many_joins.sql:15-39):
    count-family -> 0, array-family -> [] (Spark coerces the bare
    ``array()`` to the column's element type)."""
    cols = []
    for k, spec in enumerate(join.aggs):
        expr = f"J_{join.pathid}.`a{k}`"
        if spec.call.func in EMPTY_ZERO:
            expr = f"coalesce({expr}, 0)"
        elif spec.call.func in EMPTY_ARRAY:
            expr = f"coalesce({expr}, array())"
        cols.append(f"{expr} AS `{spec.out_col}`")
    return cols


def _select_text(
    cols: list[str],
    from_: str,
    head: str = "",
    group_by: list[str] | None = None,
) -> str:
    text = f"SELECT{head}\n  " + ",\n  ".join(cols) + f"\nFROM {from_}"
    if group_by:
        text += "\nGROUP BY " + ", ".join(group_by)
    return text
