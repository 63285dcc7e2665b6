"""Output plans: every channel of an output settled once.

u_output_generate_query.sql:88-155 builds one ``SELECT ... FROM hub
WHERE true AND <filter> [GROUP BY ...]`` per channel and combines the
channels.  :func:`plan_output` validates a channel and decides its hub,
status routing (V3), filter, mappings, grouping and set operation; the
DataFrame compiler and the SQL emitter only render the result, so both
accept and reject the same outputs with the same messages.
"""

from __future__ import annotations

from dataclasses import dataclass

from dataforge_core_spark.functions.aggregates import AGGREGATE_WHITELIST
from dataforge_core_spark.model import Output, Project, ProjectError, Source
from dataforge_core_spark.parser import parse_expression, rewrite


@dataclass
class ChannelPlan:
    source: Source
    # validation statuses kept; None keeps every row
    codes: list[str] | None
    # the channel filter over bare hub columns
    filter_sql: str | None
    # output column -> SQL over the hub (aggregate calls included)
    select: dict[str, str]
    # operation_type Aggregate: the plain-mapped columns it groups by
    group_by: list[str] | None
    # how it combines with the channels before it: '' (UNION ALL),
    # 'intersect' or 'except' (O3)
    set_op: str


def plan_output(project: Project, output: Output) -> list[ChannelPlan]:
    """One :class:`ChannelPlan` per channel, in declared order."""
    by_name = project.source_by_name()
    name = output.output_name
    plans = []
    for ch in output.channels:
        if ch.unpivot:
            # u_output_generate_query.sql:101 — verbatim
            raise ProjectError("Unpivot not supported yet!")
        src = by_name.get(ch.source_name)
        if src is None:
            raise ProjectError(
                f"Output {name!r}: unknown source {ch.source_name!r}"
            )
        codes = None
        if any(r.rule_type == "V" for r in src.rules):
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
                    f"Output {name!r}: channel must include at least one "
                    "of pass/warn/fail"
                )
            if set(codes) == {"P", "W", "F"}:
                codes = None
        filter_sql = _filter_sql(ch.filter, src) if ch.filter else None
        is_agg = (ch.operation_type or "").lower() == "aggregate"
        select: dict[str, str] = {}
        group_by: list[str] = []
        for mp in ch.mappings:
            path = ".".join([mp.attribute] + mp.keys)
            if not mp.aggregate:
                select[mp.column] = path
                group_by.append(mp.column)
            elif not is_agg:
                raise ProjectError(
                    f"Output {name!r}: aggregate mapping requires "
                    "operation_type: Aggregate"
                )
            elif mp.aggregate not in AGGREGATE_WHITELIST:
                raise ProjectError(
                    f"Output {name!r}: {mp.aggregate!r} is not an allowed "
                    "aggregate"
                )
            else:
                d = "DISTINCT " if mp.distinct else ""
                select[mp.column] = f"{mp.aggregate}({d}{path})"
        if is_agg and len(group_by) == len(ch.mappings):
            raise ProjectError(
                f"Output {name!r}: Aggregate channel has no aggregate "
                "mappings"
            )
        plans.append(
            ChannelPlan(
                source=src,
                codes=codes,
                filter_sql=filter_sql,
                select=select,
                group_by=group_by if is_agg else None,
                set_op=(ch.set_operation or "").lower(),
            )
        )
    if not plans:
        raise ProjectError(f"Output {name!r} has no channels")
    return plans


def _filter_sql(filter_expr: str, src: Source) -> str:
    """A channel filter as SQL over the hub's bare columns; it may name
    only [This] attributes of the channel's source, outside aggregates."""
    parsed = parse_expression(filter_expr)
    if parsed.aggs:
        raise ProjectError(
            f"Channel filter cannot contain aggregates: {filter_expr!r}"
        )
    raw = src.raw_by_name()
    rules = src.rule_by_name()
    for t in parsed.tokens:
        if t.source != "This":
            raise ProjectError(
                "Channel filters may only reference [This]: "
                f"{filter_expr!r}"
            )
        if t.attr not in raw and t.attr not in rules:
            raise ProjectError(
                f"Channel filter references unknown attribute {t.attr!r}"
            )
    return rewrite(
        filter_expr, [(t.start, t.end, f"`{t.attr}`") for t in parsed.tokens]
    )
