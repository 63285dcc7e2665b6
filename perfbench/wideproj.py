"""Seeded generator of wide dataforge projects.

A project is a forest of sources: each non-root source has one M-1
relation to its parent, so every pair of sources is joined by exactly
one relation path (lookups run up to 4 hops toward an ancestor).  Rules
are drawn only from kinds the sample project and the engine lanes
already exercise: arithmetic, rule-on-rule chains, lookups, correlated
aggregates, windows, validations and unique rules.  Every rule carries
the result type the generator expects ``validate_project`` to infer.

Sources get a random build rank, and a rule may only read sources of
lower rank, so the hub dependency graph is acyclic.  Sums aggregate
integer columns only, so the DataFrame runner and the emitted SQL agree
bit for bit.  Column names carry their source's index (``c3_amt``), as
TPC-H's do: the emitted SQL joins hubs side by side, where a column name
shared by two sources would be ambiguous.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

MAX_DEPTH = 4

# raw attributes of every source: name -> (declared type, inferred type)
_RAW = {
    "key": ("long", "bigint"),
    "amt": ("double", "double"),
    "qty": ("int", "int"),
    "tag": ("string", "string"),
    "fk": ("long", "bigint"),  # non-root sources only
}
_TAGS = ["north", "south", "east", "west", "core", "edge"]


@dataclass
class _Src:
    idx: int
    name: str
    parent: int | None
    depth: int
    rank: int
    rules: list[dict] = field(default_factory=list)
    # column name -> inferred type, raw attributes and rules alike
    types: dict[str, str] = field(default_factory=dict)

    def col(self, attr: str) -> str:
        return f"c{self.idx}_{attr}"


@dataclass
class WideProject:
    """A generated project: its YAML directory, its parquet data
    directory, the expected type of every rule (``{source.rule: type}``)
    and each source's hub table."""

    project_dir: str
    data_dir: str
    expected_types: dict[str, str]
    hub_tables: dict[str, str]
    n_rules: int


def _lit(rng, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.2f}"


def _pick(rng, items: list):
    return items[int(rng.integers(0, len(items)))]


def _of_type(s: _Src, *types: str) -> list[str]:
    return [c for c, t in s.types.items() if t in types]


def _rule_this(rng, val, s: _Src, name: str) -> dict:
    """A rule over the source's own columns (arithmetic, chains on
    earlier rules, string functions, CASE, window, validation)."""
    kind = int(rng.integers(0, 8))
    c = s.col
    if kind == 0:
        return dict(name=name, type="double", expression=(
            f"[This].{_pick(rng, _of_type(s, 'double'))} * "
            f"{_lit(val, 0.5, 3)} + {_lit(val, 0, 100)}"
        ))
    if kind == 1:
        return dict(name=name, type="bigint", expression=(
            f"CAST([This].{c('amt')} * {_lit(val, 1, 50)} AS bigint)"
        ))
    if kind == 2:
        return dict(name=name, type="int", expression=(
            f"[This].{c('qty')} % {val.integers(2, 13)}"
        ))
    if kind == 3:
        return dict(name=name, type="string", expression=(
            f"concat([This].{c('tag')}, '_{val.integers(0, 1000)}')"
        ))
    if kind == 4:
        return dict(name=name, type="bigint", expression=(
            f"[This].{_pick(rng, _of_type(s, 'bigint'))} + "
            f"{val.integers(1, 1000)}"
        ))
    if kind == 5:
        return dict(name=name, type="string", expression=(
            f"CASE WHEN [This].{c('amt')} > {_lit(val, 0, 1000)} "
            "THEN 'hi' ELSE 'lo' END"
        ))
    if kind == 6:
        part = c("fk") if s.parent is not None else c("tag")
        return dict(name=name, type="int", expression=(
            f"ROW_NUMBER() OVER (PARTITION BY [This].{part} "
            f"ORDER BY [This].{c('amt')}, [This].{c('key')})"
        ))
    return dict(
        name=name, type="boolean", rule_type="V",
        validation_action=_pick(rng, ["W", "F"]),
        expression=f"[This].{c('amt')} >= {_lit(val, 0, 200)}",
    )


def _rule_lookup(rng, srcs: list[_Src], s: _Src, name: str) -> dict | None:
    """``[ancestor].column`` through cardinality-1 hops only."""
    ok, i = [], s.idx
    while srcs[i].parent is not None:
        i = srcs[i].parent
        if srcs[i].rank > s.rank:
            break  # every source on the path must be built first
        ok.append(srcs[i])
    if not ok:
        return None
    t = _pick(rng, ok)
    col = _pick(rng, list(t.types))
    return dict(name=name, type=t.types[col],
                expression=f"[{t.name}].{col}")


def _rule_agg(rng, srcs: list[_Src], s: _Src, name: str) -> dict | None:
    """Correlated aggregate over a child (one M hop), or over a sibling
    through the shared parent (a 1 hop, then an M hop)."""
    cands = [c for c in srcs if c.parent == s.idx]
    if s.parent is not None and srcs[s.parent].rank < s.rank:
        cands += [c for c in srcs if c.parent == s.parent and c is not s]
    cands = [c for c in cands if c.rank < s.rank]
    if not cands:
        return None
    t = _pick(rng, cands)
    kind = int(rng.integers(0, 5))
    if kind == 0:
        col = _pick(rng, _of_type(t, "int", "bigint"))
        return dict(name=name, type="bigint",
                    expression=f"SUM([{t.name}].{col})")
    if kind == 1:
        return dict(name=name, type="bigint",
                    expression=f"COUNT([{t.name}].{t.col('key')})")
    if kind == 2:
        col = _pick(rng, _of_type(t, "double"))
        return dict(name=name, type="double",
                    expression=f"MAX([{t.name}].{col})")
    if kind == 3:
        return dict(name=name, type="double",
                    expression=f"AVG([{t.name}].{t.col('qty')})")
    return dict(name=name, type="bigint",
                expression=f"COUNT(DISTINCT [{t.name}].{t.col('tag')})")


def generate(
    out_dir: str,
    seed: int,
    iteration: int,
    n_sources: int = 10,
    rules_per_source: int = 6,
    rows: int = 300,
) -> WideProject:
    """Write project ``w<iteration>`` (YAML) and its parquet inputs
    under ``out_dir``; the same arguments give byte-identical files.

    The project's shape (relation graph, rule kinds and the columns they
    read) depends on ``iteration`` alone, so every run compiles the same
    sequence of shapes; literals and data come from ``seed``."""
    rng = np.random.default_rng([4, iteration])
    val = np.random.default_rng([seed, 4, iteration])
    prefix = f"w{iteration}"
    proj = os.path.join(out_dir, "project")
    data = os.path.join(out_dir, "data")
    for d in ("sources", "outputs"):
        os.makedirs(os.path.join(proj, d), exist_ok=True)
    os.makedirs(data, exist_ok=True)

    srcs: list[_Src] = []
    ranks = rng.permutation(n_sources)
    for i in range(n_sources):
        parent = None
        if i > 0:
            parent = _pick(
                rng, [j for j in range(i) if srcs[j].depth < MAX_DEPTH]
            )
        depth = 0 if parent is None else srcs[parent].depth + 1
        s = _Src(i, f"{prefix}_s{i:02d}", parent, depth, int(ranks[i]))
        s.types = {
            s.col(a): t for a, (_, t) in _RAW.items()
            if a != "fk" or parent is not None
        }
        srcs.append(s)

    # rules in rank order, so cross-source reads see finished sources
    n = 0
    for s in sorted(srcs, key=lambda s: s.rank):
        for _ in range(rules_per_source):
            name = f"r{n}"
            pick = rng.integers(0, 10)
            rule = None
            if pick < 3:
                rule = _rule_lookup(rng, srcs, s, name)
            elif pick < 5:
                rule = _rule_agg(rng, srcs, s, name)
            if rule is None:
                rule = _rule_this(rng, val, s, name)
            s.rules.append(rule)
            s.types[name] = rule["type"]
            n += 1
        # one unique rule per source (the uniqueness-guard companion)
        name = f"r{n}"
        s.rules.append(dict(
            name=name, type="string", unique=True,
            expression=f"CAST([This].{s.col('key')} AS string)",
        ))
        s.types[name] = "string"
        n += 1

    expected: dict[str, str] = {}
    hubs: dict[str, str] = {}
    relations = []
    for s in srcs:
        raw = [
            f"{s.col(a)} {decl}" for a, (decl, _) in _RAW.items()
            if s.col(a) in s.types
        ]
        if s.parent is not None:
            p = srcs[s.parent]
            relations.append({
                "name": f"[{s.name}]- fk -[{p.name}]",
                "expression": (
                    f"[This].{s.col('fk')} = [Related].{p.col('key')}"
                ),
                "cardinality": "M-1",
            })
        for r in s.rules:
            expected[f"{s.name}.{r['name']}"] = r["type"]
        hubs[s.name] = f"{s.name}_hub"
        _dump(os.path.join(proj, "sources", f"{s.name}.yaml"), {
            "source_name": s.name,
            "source_table": "${DATA_DIR}/" + f"{s.name}.parquet",
            "target_table": hubs[s.name],
            "raw_attributes": raw,
            "rules": [
                {k: v for k, v in r.items() if k != "type"} for r in s.rules
            ],
        })
        _write_data(val, data, s, rows)

    _dump(os.path.join(proj, "meta.yaml"),
          {"format": "core1.0", "name": f"wide_{prefix}"})
    _dump(os.path.join(proj, "relations.yaml"), relations)
    _write_outputs(rng, val, proj, prefix, srcs)
    return WideProject(proj, data, expected, hubs, n)


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        yaml.safe_dump(obj, f, sort_keys=False)


def _write_data(rng, data: str, s: _Src, rows: int) -> None:
    cols = {
        s.col("key"): pa.array(np.arange(rows), pa.int64()),
        s.col("amt"): pa.array(np.round(rng.uniform(0, 1000, rows), 2)),
        s.col("qty"): pa.array(rng.integers(0, 100, rows), pa.int32()),
        s.col("tag"): pa.array(
            np.array(_TAGS)[rng.integers(0, len(_TAGS), rows)]
        ),
    }
    if s.parent is not None:
        cols[s.col("fk")] = pa.array(rng.integers(0, rows, rows), pa.int64())
    pq.write_table(pa.table(cols), os.path.join(data, f"{s.name}.parquet"))


def _write_outputs(rng, val, proj: str, prefix: str, srcs: list[_Src]) -> None:
    """An aggregate channel, a two-channel union with a typed-null fill,
    and a filtered projection."""
    agg = _pick(rng, [s for s in srcs if s.parent is not None])
    a, b = (srcs[j] for j in rng.choice(len(srcs), 2, replace=False))
    flat = _pick(rng, srcs)
    outputs = [
        {
            "output_name": f"{prefix}_agg",
            "columns": ["dim string", "total_qty long", "n long"],
            "channels": [{
                "source_name": agg.name,
                "filter": f"[This].{agg.col('amt')} > {_lit(val, 0, 500)}",
                "operation_type": "Aggregate",
                "mappings": [
                    f"{agg.col('tag')} dim",
                    f"sum({agg.col('qty')}) total_qty",
                    f"count({agg.col('key')}) n",
                ],
            }],
        },
        {
            "output_name": f"{prefix}_union",
            "columns": ["id long", "amount double", "label string"],
            "channels": [
                {"source_name": a.name, "mappings": [
                    f"{a.col('key')} id", f"{a.col('amt')} amount",
                    f"{a.col('tag')} label",
                ]},
                {"source_name": b.name,
                 "filter": f"[This].{b.col('qty')} > {val.integers(0, 90)}",
                 "mappings": [f"{b.col('key')} id", f"{b.col('amt')} amount"]},
            ],
        },
        {
            "output_name": f"{prefix}_flat",
            "columns": ["id long", "amount double", "label string"],
            "channels": [{
                "source_name": flat.name,
                "filter": f"[This].{flat.col('amt')} < {_lit(val, 200, 900)}",
                "mappings": [
                    f"{flat.col('key')} id", f"{flat.col('amt')} amount",
                    f"{flat.col('tag')} label",
                ],
            }],
        },
    ]
    for body in outputs:
        _dump(
            os.path.join(proj, "outputs", f"{body['output_name']}.yaml"), body
        )
