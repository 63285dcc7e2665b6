"""Byte-exact parity with the reference's user-facing diagnostics:

- probe behaviors (miniSparky.py:66-77): NULL-row warning, extraneous-
  input error, success type record — messages verbatim, NULL check first
- relation-path direction errors (u_get_next_relation_path.sql:80-86)
- multi-path ambiguity (svc_parse_enrichment.sql:306-315)

plus property tests driving the probe with adversarial expressions,
including multi-statement injection attempts.
"""

from __future__ import annotations

import dataclasses
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

NULL_WARNING = (
    "NULL values detected! This typically indicates improper type casting "
    "or that you're doing some very complex logic"
)
EXTRANEOUS_ERROR = "Extraneous input detected at end of expression"


# -- probe message parity ---------------------------------------------------


def test_probe_null_warning_verbatim(spark):
    from dataforge_core_spark.probe import run_probe

    res = run_probe(spark, "nullif([This].string, [This].string)")
    assert res.status == "warning"
    assert res.message == NULL_WARNING
    assert res.data_type is not None  # type still recorded, as reference


def test_probe_extraneous_error_verbatim(spark):
    from dataforge_core_spark.probe import run_probe

    # alias smuggling: body becomes `SELECT 1 AS x, 2 as col1` -> first
    # column is not col1
    res = run_probe(spark, "1 AS x, 2")
    assert res.status == "error"
    assert res.message == EXTRANEOUS_ERROR


def test_probe_null_takes_precedence_over_extraneous(spark):
    """miniSparky checks the NULL first row before the col1 name."""
    from dataforge_core_spark.probe import run_probe

    res = run_probe(spark, "NULL AS x, 2")
    assert res.status == "warning"
    assert res.message == NULL_WARNING


def test_probe_success_records_type_and_schema(spark):
    from dataforge_core_spark.probe import run_probe

    res = run_probe(spark, "[This].int + 1", {"int": "int"})
    assert res.status == "success"
    assert res.data_type == "int"
    assert res.schema_json == '"integer"'
    assert res.message is None


def test_probe_multi_statement_injection_blocked(spark):
    from dataforge_core_spark.probe import ensure_datatypes_view, run_probe

    ensure_datatypes_view(spark)
    res = run_probe(spark, "1; DROP VIEW datatypes")
    assert res.status == "error"
    # the view survives the attempt
    assert spark.sql("SELECT COUNT(*) FROM datatypes").collect()[0][0] == 2


_FRAGMENTS = st.sampled_from(
    [
        "1",
        "NULL",
        "[This].int",
        "[This].string",
        "' OR '1'='1",
        "1 AS col1",
        "1 AS evil",
        "(SELECT 42)",
        "1; SELECT 2",
        "1 UNION ALL SELECT 2",
        "count(*) OVER ()",
        "*",
        "--",
        "/*",
    ]
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(parts=st.lists(_FRAGMENTS, min_size=1, max_size=3))
def test_probe_adversarial_expressions(spark, parts):
    """Whatever the expression, the probe returns one of the three
    reference statuses with the verbatim message, never raises, and
    never mutates the session (the datatypes view keeps its 2 rows)."""
    from dataforge_core_spark.parser import ExpressionError
    from dataforge_core_spark.probe import ensure_datatypes_view, run_probe

    ensure_datatypes_view(spark)
    try:
        res = run_probe(spark, ", ".join(parts))
    except ExpressionError:
        # parser-level rejection (e.g. the comment guard,
        # svc_parse_enrichment.sql:248-250) happens before any probe runs
        return
    assert res.status in ("success", "warning", "error")
    if res.status == "warning":
        assert res.message == NULL_WARNING
    if res.status == "error":
        assert res.message  # spark analysis text or the verbatim guard
    assert spark.sql("SELECT COUNT(*) FROM datatypes").collect()[0][0] == 2


# ordinary typed expressions to mix into fused waves: plain, aggregate,
# NULL-in-row-0 (warning), NULL-only-in-row-1, and a window
_TYPED = st.sampled_from(
    [
        "[This].int + 1",
        "[This].decimal * 2",
        "concat([This].string, '-x')",
        "date_format([This].timestamp, 'yyyyMM')",
        "nullif([This].string, [This].string)",
        "IF([This].date > DATE '2018-01-01', NULL, [This].int)",
        "sum([o].bigint) + [This].int",
        "count(DISTINCT [o].string)",
        "first_value([This].long) OVER (ORDER BY [This].date DESC)",
    ]
)
_PTYPES = {c: c for c in ("int", "decimal", "string", "timestamp", "date",
                          "bigint", "long")}


def _solo_results(spark, exprs):
    from dataforge_core_spark import probe

    probe._probe_cache.pop(spark, None)
    return [probe.run_probe(spark, e, _PTYPES) for e in exprs]


def _canon(results):
    """Spark analysis errors print the plan with per-query expression
    ids (``#9896``), which differ between any two runs of one query."""
    return [
        dataclasses.replace(r, message=re.sub(r"#\d+", "#", r.message))
        if r.message else r
        for r in results
    ]


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    wave=st.lists(
        st.one_of(
            _TYPED,
            st.lists(_FRAGMENTS, min_size=1, max_size=3).map(", ".join),
        ),
        min_size=2,
        max_size=6,
    )
)
def test_probe_wave_matches_solo_probes(spark, wave):
    """A fused wave gives every expression exactly the ProbeResult
    (status, type, schema JSON, message) of its solo probe, and leaves
    the datatypes view at its 2 rows."""
    from dataforge_core_spark import probe
    from dataforge_core_spark.parser import ExpressionError

    exprs = []
    for e in wave:
        try:
            probe.build_probe_sql(e, _PTYPES)
        except ExpressionError:
            continue  # parser-level rejection: no probe runs at all
        exprs.append(e)
    prev = probe.set_probe_store(None)
    try:
        probe.ensure_datatypes_view(spark)
        probe._probe_cache.pop(spark, None)
        fused = probe.run_probe_wave(spark, [(e, _PTYPES) for e in exprs])
        assert _canon(fused) == _canon(_solo_results(spark, exprs))
    finally:
        probe.set_probe_store(prev)
    assert spark.sql("SELECT COUNT(*) FROM datatypes").collect()[0][0] == 2


def test_probe_wave_window_keeps_row_one_null_a_success(spark):
    """An expression NULL only in the view's second row is a success.
    Fused with a window that sorts that row first it would read as the
    NULL warning, so the window runs alone and the result is the solo
    one."""
    from dataforge_core_spark import probe

    late_null = "IF([This].date > DATE '2018-01-01', NULL, [This].int)"
    window = "first_value([This].long) OVER (ORDER BY [This].date DESC)"
    pair = [(late_null, _PTYPES), (window, _PTYPES)]
    probe.ensure_datatypes_view(spark)
    # the hazard is real: forced into one query, the row order flips
    forced = probe._run_fused(spark, pair)
    assert forced is not None and forced[0].status == "warning"
    prev = probe.set_probe_store(None)
    try:
        probe._probe_cache.pop(spark, None)
        res = probe.run_probe_wave(spark, pair)
        assert res == _solo_results(spark, [late_null, window])
    finally:
        probe.set_probe_store(prev)
    assert res[0].status == "success" and res[0].data_type == "int"
    assert res[1].status == "success"


# -- relation-path message parity -------------------------------------------


def _rel(name, expr, card, primary=False):
    from dataforge_core_spark.loader import parse_relations_list

    return parse_relations_list(
        [
            {
                "name": name,
                "expression": expr,
                "cardinality": card,
                "primary": primary,
            }
        ]
    )[0]


def test_no_active_paths_message_verbatim():
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.paths import RelationGraph

    g = RelationGraph([_rel("[a]- r -[b]", "[This].x = [Related].y", "1-1")])
    with pytest.raises(ProjectError) as ei:
        g.discover("a", "zzz", cardinality="1")
    assert str(ei.value) == (
        "No active relation paths exist from source `a` to source `zzz` "
        "with cardinality 1 using start path "
    )


def test_must_use_aggregation_message_verbatim():
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.paths import RelationGraph

    # only an M path exists but cardinality 1 requested
    g = RelationGraph([_rel("[a]- r -[b]", "[This].x = [Related].y", "1-M")])
    with pytest.raises(ProjectError) as ei:
        g.discover("a", "b", cardinality="1")
    assert str(ei.value) == (
        "You must use aggregation without OVER clause. Target source `b`"
    )


def test_remove_aggregation_message_verbatim():
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.paths import RelationGraph

    # only a 1 path exists but cardinality M requested
    g = RelationGraph([_rel("[a]- r -[b]", "[This].x = [Related].y", "M-1")])
    with pytest.raises(ProjectError) as ei:
        g.discover("a", "b", cardinality="M")
    assert str(ei.value) == (
        "Remove aggregation or add OVER clause. Target source `b`"
    )


def test_multiple_paths_message_verbatim():
    from dataforge_core_spark.model import ProjectError
    from dataforge_core_spark.paths import RelationGraph

    g = RelationGraph(
        [
            _rel("[a]- p1 -[b]", "[This].x = [Related].y", "M-1"),
            _rel("[a]- p2 -[b]", "[This].x2 = [Related].y2", "M-1"),
        ]
    )
    with pytest.raises(ProjectError) as ei:
        g.discover("a", "b")
    assert str(ei.value) == (
        "Multiple relation paths exist for source b. "
        "Specify desired path in rule parameters."
    )


def test_deeper_matching_cardinality_path_found():
    """A 1-hop path of the wrong cardinality must not shadow a deeper
    path of the requested cardinality (the reference keeps all paths and
    filters by cardinality afterwards)."""
    from dataforge_core_spark.paths import RelationGraph

    g = RelationGraph(
        [
            _rel("[a]- direct -[b]", "[This].x = [Related].y", "1-1"),
            _rel("[a]- viac -[c]", "[This].u = [Related].v", "M-1"),
            _rel("[c]- fan -[b]", "[This].p = [Related].q", "1-M"),
        ]
    )
    p = g.discover("a", "b", cardinality="M")
    assert p.is_aggregate and len(p.hops) == 2
    p1 = g.discover("a", "b", cardinality="1")
    assert not p1.is_aggregate and len(p1.hops) == 1
