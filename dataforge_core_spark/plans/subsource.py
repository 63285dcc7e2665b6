"""Sub-source enrichment SQL (§2.11): a pure SQL-text generator.

A sub-source's element rules enrich an ``array<struct>`` attribute of its
parent hub in place; the same expression serves the DataFrame compiler
(``F.expr``) and the SQL emitter (the hub's final select list).
"""

from __future__ import annotations

import dataclasses
import itertools
import re

from dataforge_core_spark.model import (
    HIVE_TO_SPARK_DDL,
    Project,
    ProjectError,
    Source,
)
from dataforge_core_spark.parser import parse_expression, rewrite
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import plan_source

# a backticked column name, as the planner writes every token
BACKTICKED = re.compile(r"`([A-Za-z0-9_]+)`")


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


_anc_marker_seq = itertools.count()


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
            r = dataclasses.replace(r, expression=rewrite(r.expression, spans))
            changed = True
        new_rules.append(r)
    if not changed:
        return sub, markers
    return dataclasses.replace(sub, rules=new_rules), markers


_sib_var_seq = itertools.count()

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
            expr = BACKTICKED.sub(_resolve, el.compiled_sql)
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
