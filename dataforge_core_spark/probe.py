"""Probe-based expression type inference on a live SparkSession.

Reimplements the reference's compile-time test mechanism
(cli/dataforge/miniSparky.py:23-89 + u_build_datatype_test_expr.sql:26-74):
every rule / relation predicate / output filter is rewritten into a probe
query over a 2-row literal ``datatypes`` view (one column per scalar type)
and *executed*; the result column's type becomes the expression's inferred
type.  Three behaviors replicated exactly:

- success: non-NULL first row -> record data_type + Spark schema JSON
  (miniSparky.py:63 stores ``field.dataType.json()``)
- warning: NULL first row -> "improper type casting" (miniSparky.py:66-72)
- error: extra columns in the result (col_name != 'col1') ->
  "Extraneous input detected" (miniSparky.py:73-77) — the injection /
  extra-expression guard

Probes substitute each ``[Source].attr`` parameter with a typed literal
column of the view; aggregate-containing expressions wrap non-aggregated
parameters in ``first_value(...)`` to stay valid SQL
(u_build_datatype_test_expr_from_parsed, :51-53).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from dataforge_core_spark.model import HIVE_TO_SPARK_DDL, ProjectError
from dataforge_core_spark.parser import parse_expression, rewrite
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import build_levels, plan_source

# 2-row literal fixture, verbatim from miniSparky.py:32-36 (FIXTURES.md §2)
_DATATYPES_SQL = """
SELECT * FROM VALUES
  (CAST(-87.68 AS DECIMAL(10,2)), CAST(13518864 AS BIGINT),
   'Western Ave & Walton St', CAST(130 AS INT), CAST(130 AS INT),
   CAST(41.90331 AS FLOAT), CAST(87.67695 AS DOUBLE),
   DATE '2017-03-31', TIMESTAMP '2017-03-31 23:19:17', true,
   CAST(9999999999 AS BIGINT)),
  (CAST(-8127.68 AS DECIMAL(10,2)), CAST(1518864 AS BIGINT),
   'Western Ave & Walton St', CAST(130 AS INT), CAST(130 AS INT),
   CAST(41.90331 AS FLOAT), CAST(87.67695 AS DOUBLE),
   DATE '2020-03-31', TIMESTAMP '2020-03-31 23:19:17', true,
   CAST(99999999991 AS BIGINT))
AS datatypes(decimal, bigint, string, int, integer, float, double,
             date, timestamp, boolean, long)
"""

VIEW_NAME = "datatypes"


@dataclass
class ProbeResult:
    status: str  # 'success' | 'warning' | 'error'
    data_type: str | None = None  # simple Spark type name
    schema_json: str | None = None  # field.dataType.json()
    message: str | None = None


def ensure_datatypes_view(spark: SparkSession) -> None:
    if not spark.catalog.tableExists(VIEW_NAME):
        spark.sql(_DATATYPES_SQL).createOrReplaceTempView(VIEW_NAME)


def build_probe_sql(
    expression: str, param_types: dict[str, str] | None = None
) -> str:
    """Rewrite tokens to typed literal columns of the datatypes view.

    ``param_types`` maps 'Source.attr' or 'attr' to a hive/scalar type name
    (a datatypes-view column).  Unknown parameters default to 'string'.
    Mirrors u_build_datatype_test_expr.sql:26-74: the probe is
    ``WITH ct AS (SELECT <typed literal per parameter> FROM datatypes)
    SELECT <expr> as col1 FROM ct``.
    """
    selects, body, _ = _probe_parts(expression, param_types, "p")
    return _probe_sql(selects, f"{body} as col1")


def _probe_sql(selects: list[str], select_list: str) -> str:
    ct = ", ".join(selects) if selects else "1 AS p_dummy"
    return f"WITH ct AS (SELECT {ct} FROM {VIEW_NAME}) SELECT {select_list} FROM ct"


def _probe_parts(
    expression: str, param_types: dict[str, str] | None, prefix: str
) -> tuple[list[str], str, bool]:
    """The parameter columns (named ``<prefix>0``, ``<prefix>1``, ...),
    the rewritten body of one expression's probe, and whether it
    aggregates."""
    parsed = parse_expression(expression, allow_this_agg=True)
    param_types = param_types or {}
    selects: list[str] = []
    spans: list[tuple[int, int, str]] = []
    names: dict[str, str] = {}

    def param_col(source: str, attr: str) -> str:
        key = f"{source}.{attr}"
        if key not in names:
            t = param_types.get(key, param_types.get(attr, "string"))
            col = f"{prefix}{len(names)}"
            selects.append(f"`{t}` AS {col}")
            names[key] = col
        return names[key]

    has_agg = bool(parsed.aggs)
    for tok in parsed.tokens:
        col = param_col(tok.source, tok.attr)
        # outside aggregates: wrap in first_value when the rule aggregates
        repl = f"first_value({col})" if has_agg else col
        spans.append((tok.start, tok.end, repl))
    for call in parsed.aggs:
        inner_spans = []
        for tok in call.tokens:
            col = param_col(tok.source, tok.attr)
            inner_spans.append(
                (tok.start - call.inner_offset, tok.end - call.inner_offset, col)
            )
        new_inner = rewrite(call.inner, inner_spans)
        spans.append((call.start, call.end, f"{call.func}({new_inner})"))

    return selects, rewrite(expression, spans), has_agg


# Probe-result cache: a per-session dict held in a WeakKeyDictionary
# keyed by the SparkSession itself, so a stopped session's entries die
# with it and a new session reusing the old object's address can never
# read stale results (an ``id(spark)``-keyed dict could collide after
# GC).  The probe SQL is a pure function of (expression, param_types)
# and runs over a constant 2-row literal view, so its result can never
# change within a session — the reference caches equivalently in its
# metadata DB (meta.process test results; SURVEY §7.3 "cache by
# expression hash").  engine_* driver rows rebuild the same project
# repeatedly; without this every rebuild re-runs identical probe waves
# (~100 ms Spark job each).  Error results are NOT cached: they can be
# transient session failures, and permanent analysis errors re-raise
# identically on re-run.
import hashlib
import json
import os
import re
import weakref

_probe_cache: "weakref.WeakKeyDictionary[SparkSession, dict[str, ProbeResult]]"
_probe_cache = weakref.WeakKeyDictionary()
probe_stats = {"runs": 0, "hits": 0, "store_hits": 0}


class ProbeStore:
    """CROSS-RUN probe-result persistence: ``probe_cache.json`` in a
    MetaStore state dir, keyed by sha256 of the probe SQL (which is a
    pure function of expression + parameter types over a constant
    literal view).  The reference persists inferred expression types in
    its metadata DB the same way (impc_update_test_results.sql:80-83);
    this is its file-backed analogue, so a re-validate / re-build of an
    unchanged project issues ZERO probe Spark jobs.

    Entries record the Spark version they were probed under and are
    ignored on mismatch (type-inference rules can change between
    releases).  Only success/warning results persist — errors may be
    transient session failures.  Writes are atomic (tmp + rename), one
    small JSON per project state dir.
    """

    FILE = "probe_cache.json"

    def __init__(self, state_dir: str):
        import pyspark

        self.state_dir = state_dir
        self.path = os.path.join(state_dir, self.FILE)
        self._version = pyspark.__version__
        self._data: dict[str, dict] = {}
        if os.path.isfile(self.path):
            try:
                with open(self.path) as f:
                    self._data = json.load(f)
            except (OSError, ValueError):
                self._data = {}

    @staticmethod
    def _key(sql: str) -> str:
        return hashlib.sha256(sql.encode()).hexdigest()

    def get(self, sql: str) -> ProbeResult | None:
        e = self._data.get(self._key(sql))
        if e is None or e.get("spark") != self._version:
            return None
        return ProbeResult(
            status=e["status"],
            data_type=e.get("data_type"),
            schema_json=e.get("schema_json"),
            message=e.get("message"),
        )

    def put(self, results: dict[str, ProbeResult]) -> None:
        """Record ``{probe sql: result}`` (one wave's fresh results) with
        one merge-and-replace of the file."""
        for sql, res in results.items():
            self._data[self._key(sql)] = {
                "spark": self._version,
                "status": res.status,
                "data_type": res.data_type,
                "schema_json": res.schema_json,
                "message": res.message,
            }
        # merge-on-flush: re-read what's on disk and overlay our entries
        # before the atomic replace, so two concurrent runs sharing a
        # state dir accumulate instead of last-writer-wins dropping each
        # other's results (entries are content-addressed and immutable,
        # so merge order cannot conflict)
        os.makedirs(self.state_dir, exist_ok=True)
        merged: dict[str, dict] = {}
        try:
            with open(self.path) as f:
                merged = json.load(f)
        except (OSError, ValueError):
            pass
        merged.update(self._data)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


_probe_store: ProbeStore | None = None


def set_probe_store(store: ProbeStore | None) -> ProbeStore | None:
    """Install (or clear) the persistent probe store; returns the
    previous one so callers can restore it."""
    global _probe_store
    prev = _probe_store
    _probe_store = store
    return prev


def run_probe(
    spark: SparkSession,
    expression: str,
    param_types: dict[str, str] | None = None,
) -> ProbeResult:
    return run_probe_wave(spark, [(expression, param_types)])[0]


# A window reorders rows and a generator adds or drops them; either would
# change the other columns' first row in a fused probe, so it runs alone.
_RUNS_ALONE = re.compile(
    r"over\s*\(|\b(?:pos)?explode(?:_outer)?\s*\(|\binline(?:_outer)?\s*\("
    r"|\bstack\s*\(|\bjson_tuple\s*\(",
    re.IGNORECASE,
)


def run_probe_wave(
    spark: SparkSession,
    items: list[tuple[str, dict[str, str] | None]],
) -> list[ProbeResult]:
    """Probe independent ``(expression, param_types)`` pairs, one result
    each, equal to what ``run_probe`` gives for the pair alone.

    Cache and ProbeStore lookups are per expression, keyed by its
    ``build_probe_sql`` text.  The misses run as at most two fused
    SELECTs over the datatypes view (plain expressions, aggregate
    expressions); an expression matched by ``_RUNS_ALONE`` runs on its
    own.  A fused query that fails, comes back empty or has other columns
    than the ones it asked for re-runs its expressions one by one, so
    the miniSparky messages stay exact."""
    parts = [_probe_parts(e, p, "p") for e, p in items]
    sqls = [_probe_sql(sel, f"{body} as col1") for sel, body, _ in parts]
    results: list[ProbeResult | None] = [None] * len(items)
    session_cache = _probe_cache.setdefault(spark, {})
    groups: dict[str, list[int]] = {"plain": [], "agg": []}
    alone: list[int] = []
    for i, sql in enumerate(sqls):
        hit = session_cache.get(sql)
        if hit is not None:
            probe_stats["hits"] += 1
        elif _probe_store is not None:
            hit = _probe_store.get(sql)
            if hit is not None:
                probe_stats["store_hits"] += 1
                session_cache[sql] = hit
        if hit is not None:
            results[i] = hit
        elif _RUNS_ALONE.search(items[i][0]):
            alone.append(i)
        else:
            groups["agg" if parts[i][2] else "plain"].append(i)
    misses = alone + groups["plain"] + groups["agg"]
    if not misses:
        return results
    ensure_datatypes_view(spark)
    for group in groups.values():
        if len(group) < 2:
            alone += group
            continue
        fused = _run_fused(spark, [items[i] for i in group])
        if fused is None:
            alone += group
        else:
            for i, res in zip(group, fused):
                results[i] = res
    for i in alone:
        probe_stats["runs"] += 1
        results[i] = _run_probe_uncached(spark, sqls[i])
    fresh = {sqls[i]: results[i] for i in misses if results[i].status != "error"}
    session_cache.update(fresh)
    if fresh and _probe_store is not None:
        _probe_store.put(fresh)
    return results


def _run_fused(
    spark: SparkSession, items: list[tuple[str, dict[str, str] | None]]
) -> list[ProbeResult] | None:
    """One probe query for several expressions: each gets its own
    parameter columns and alias, after a constant leading column (so no
    expression can turn the select list into ``SELECT DISTINCT``).  The
    names carry a digest of the expressions, which no expression can
    spell, so a result with exactly the expected columns means every
    expression stayed inside its own select item.  None when the query
    fails or its result is empty or shaped otherwise."""
    digest = hashlib.sha256("\0".join(e for e, _ in items).encode())
    tag = "f" + digest.hexdigest()[:16]
    selects: list[str] = []
    cols = [f"1 AS {tag}"]
    names = [tag]
    for i, (expression, param_types) in enumerate(items):
        sel, body, _ = _probe_parts(expression, param_types, f"{tag}_{i}p")
        selects += sel
        names.append(f"{tag}_{i}")
        cols.append(f"{body} AS {names[-1]}")
    probe_stats["runs"] += 1
    try:
        df = spark.sql(_probe_sql(selects, ", ".join(cols)))
        rows = df.limit(1).collect()
    except Exception:
        return None
    fields = df.schema.fields
    if not rows or [f.name for f in fields] != names:
        return None
    return [_typed_result(f, v) for f, v in zip(fields[1:], rows[0][1:])]


def _typed_result(field, value) -> ProbeResult:
    """A probe column's result from its first-row value (miniSparky.py:
    63-72): NULL is the improper-casting warning, anything else a
    success; both record the type."""
    if value is None:
        return ProbeResult(
            status="warning",
            data_type=field.dataType.simpleString(),
            schema_json=field.dataType.json(),
            message=(
                "NULL values detected! This typically indicates improper "
                "type casting or that you're doing some very complex logic"
            ),
        )
    return ProbeResult(
        status="success",
        data_type=field.dataType.simpleString(),
        schema_json=field.dataType.json(),
    )


def _run_probe_uncached(spark: SparkSession, sql: str) -> ProbeResult:
    try:
        df = spark.sql(sql)
        rows = df.limit(1).collect()
    except Exception as e:  # surface Spark analysis errors per-rule
        return ProbeResult(status="error", message=str(e))
    fields = df.schema.fields
    # Behavior + message parity with miniSparky.py:66-77, including the
    # precedence: the NULL check (on the FIRST column of the first row)
    # fires before the extraneous-column check.  An empty result set is
    # an error: the reference's ``df.head()[0]`` raises IndexError there,
    # which its except-path reports verbatim (miniSparky.py:59,84-89).
    if not rows:
        return ProbeResult(status="error", message="list index out of range")
    if rows[0][0] is not None and (len(fields) != 1 or fields[0].name != "col1"):
        # reference checks only fields[0].name != 'col1'; rejecting extra
        # columns too is a strictly stronger injection guard with the
        # same verbatim message
        return ProbeResult(
            status="error",
            message="Extraneous input detected at end of expression",
        )
    return _typed_result(fields[0], rows[0][0])


_SIMPLE_TO_VIEW_COL = {
    "string": "string",
    "boolean": "boolean",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
}


def _view_col_for(simple_type: str) -> str:
    if simple_type.startswith("decimal"):
        return "decimal"
    return _SIMPLE_TO_VIEW_COL.get(simple_type, "string")


def validate_project(spark: SparkSession, project) -> list[dict]:
    """One report row per rule / relation / filter:
    {kind, name, status, data_type, message} (see ``infer_types``)."""
    return infer_types(spark, project)[0]


def infer_types(
    spark: SparkSession, project
) -> tuple[list[dict], dict[tuple[str, str], str]]:
    """Dependency-ordered probe waves over a whole project — the
    reference's import loop (importProject.py:81-111: expressions become
    testable once their parameters' types are known; ≤20 waves).

    A wave is every unprobed rule whose parameters name no earlier rule
    still unprobed (a rule whose probe errored counts as probed; its
    dependents read it as ``string``); ``run_probe_wave`` fuses the
    wave's cache misses.  Relations and
    output filters form the last wave.  Returns the report (rules in
    build order, then relations, then filters) and the datatypes-view
    column of every raw attribute and typed rule, keyed by
    ``(source_name, attr)``.
    """
    types: dict[tuple[str, str], str] = {}
    for src in project.sources:
        for a in src.raw_attributes:
            if a.hive_type is not None:
                types[(src.source_name, a.name)] = _view_col_for(
                    HIVE_TO_SPARK_DDL.get(a.hive_type, a.hive_type)
                )
            else:
                types[(src.source_name, a.name)] = "string"

    def owners(src_name: str, expression: str) -> dict[str, tuple[str, str]]:
        parsed = parse_expression(expression, allow_this_agg=True)
        return {
            f"{t.source}.{t.attr}": (
                src_name if t.source in ("This", "Related") else t.source,
                t.attr,
            )
            for t in parsed.all_tokens()
        }

    def param_types(refs: dict[str, tuple[str, str]]) -> dict[str, str]:
        return {p: types.get(o, "string") for p, o in refs.items()}

    # rules in build order: sources in topological order, each source's
    # rules in level order
    graph = RelationGraph(project.relations)
    by_name = project.source_by_name()
    rules: dict[tuple[str, str], str] = {}
    for level in build_levels(project, graph):
        for name in level:
            src = by_name[name]
            for lv in plan_source(project, graph, src).levels:
                for rule_name in lv:
                    rule = src.rule_by_name()[rule_name]
                    rules[(name, rule_name)] = rule.expression
    refs = {k: owners(k[0], e) for k, e in rules.items()}
    pos = {k: i for i, k in enumerate(rules)}
    results: dict[tuple[str, str], ProbeResult] = {}
    pending = set(rules)
    while pending:
        # only rules earlier in build order count as dependencies, so
        # the first pending rule is always ready
        wave = [
            k for k in rules
            if k in pending and not any(
                o in pending and pos[o] < pos[k] for o in refs[k].values()
            )
        ]
        probed = run_probe_wave(
            spark, [(rules[k], param_types(refs[k])) for k in wave]
        )
        for k, res in zip(wave, probed):
            results[k] = res
            if res.data_type:
                types[k] = _view_col_for(res.data_type)
        pending -= set(wave)
    report = [
        {
            "kind": "rule",
            "name": f"{k[0]}.{k[1]}",
            "status": results[k].status,
            "data_type": results[k].data_type,
            "message": results[k].message,
        }
        for k in rules
    ]

    checks: list[tuple[str, str, str, dict[str, str]]] = []
    for rel in project.relations:
        left, _, right = rel.decode()
        parsed = parse_expression(rel.expression, allow_this_agg=True)
        ptypes = {
            f"{t.source}.{t.attr}": types.get(
                (left if t.source == "This" else right, t.attr), "string"
            )
            for t in parsed.tokens
        }
        checks.append(("relation", rel.name, rel.expression, ptypes))
    for out in project.outputs:
        for ch in out.channels:
            if ch.filter:
                checks.append((
                    "filter",
                    f"{out.output_name}/{ch.source_name}",
                    ch.filter,
                    param_types(owners(ch.source_name, ch.filter)),
                ))
    probed = run_probe_wave(spark, [(c[2], c[3]) for c in checks])
    for (kind, name, _, _), res in zip(checks, probed):
        ok = res.status != "error" and res.data_type == "boolean"
        report.append(
            {
                "kind": kind,
                "name": name,
                "status": "success" if ok else "error",
                "data_type": res.data_type,
                "message": res.message
                if res.status == "error"
                else (None if ok else f"{kind} must be boolean"),
            }
        )
    return report, types


def check_boolean(
    spark: SparkSession,
    expression: str,
    param_types: dict[str, str] | None = None,
    context: str = "expression",
) -> None:
    """Relation predicates / channel filters must type-check to boolean
    (impc_update_test_results.sql:36-48,65-76)."""
    res = run_probe(spark, expression, param_types)
    if res.status == "error":
        raise ProjectError(f"{context} failed type check: {res.message}")
    if res.data_type != "boolean":
        raise ProjectError(
            f"{context} must be boolean, got {res.data_type}: {expression!r}"
        )
