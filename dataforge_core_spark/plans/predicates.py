"""Relation predicates and token text rendered as Spark SQL.

The DataFrame compiler and the SQL emitter address the same columns
differently — prefixed names on a renamed frame (`` `__p_h0__attr` ``)
versus table aliases (``J_p.`attr` ``) — so each renderer here takes a
column-rendering function and owns everything else: which tokens it
replaces, and the uniqueness guards of a join predicate
(u_enr_query_add_join.sql:101-117).
"""

from __future__ import annotations

from typing import Callable

from dataforge_core_spark.model import Source
from dataforge_core_spark.parser import (
    equi_conjuncts,
    parse_expression,
    parse_relation_expression,
    rewrite,
)
from dataforge_core_spark.paths import Hop


def bare(attr: str) -> str:
    return f"`{attr}`"


def render_tokens(text: str, col: Callable[[str], str] = bare) -> str:
    """``text`` with each ``[Source].attr`` token outside aggregates
    replaced by ``col(attr)``."""
    parsed = parse_expression(text, allow_this_agg=True)
    return rewrite(text, [(t.start, t.end, col(t.attr)) for t in parsed.tokens])


def render_relation(
    hop: Hop, col: Callable[[str, str], str], dst: Source
) -> str:
    """The hop's relation predicate with each token replaced by
    ``col(side, attr)`` (side ``'This'`` = relation.left, ``'Related'``
    = relation.right), AND-ed with the ``_uv_flag`` guard of every
    unique rule of the hop's destination ``dst`` that it joins on (J7)."""
    parsed = parse_relation_expression(hop.relation.expression)
    dst_side = "Related" if hop.forward else "This"
    rules = dst.rule_by_name()
    guards = set()
    for t in parsed.tokens:
        rule = rules.get(t.attr) if t.source == dst_side else None
        if rule is not None and rule.unique:
            guards.add(col(t.source, f"{t.attr}_uv_flag"))
    out = rewrite(
        hop.relation.expression,
        [(t.start, t.end, col(t.source, t.attr)) for t in parsed.tokens],
    )
    for g in sorted(guards):
        out = f"({out}) AND {g}"
    return out


def equi_keys(hop: Hop) -> list[tuple[str, str]] | None:
    """``(source side, destination side)`` text of each equality conjunct
    of the hop's predicate, or None when it is not a pure conjunction of
    equalities (the aggregate join's group keys, J5)."""
    conj = equi_conjuncts(hop.relation.expression)
    if conj is None:
        return None
    return [(t, r) if hop.forward else (r, t) for t, r in conj]
