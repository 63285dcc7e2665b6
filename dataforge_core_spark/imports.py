"""Stateful import/diff engine (SURVEY §2 C8).

The reference keeps a project's object graph in its Postgres ``meta``
schema and imports a project by DIFFING the incoming files against that
state: upsert-by-name, delete objects missing from the import, cascade-
delete dependents (impc_execute.sql:1-221 orchestrates; cascade rules in
u_delete_cascade.sql:1-116; rule delete-missing in
impc_upsert_enrichments.sql:9-17; relation delete-missing in
impc_upsert_relations.sql:54-58).

This module re-expresses that engine over a JSON metadata store — the
natural Spark-world replacement for the metadata DB (metadata is tiny; a
JSON document on shared storage versions and diffs cleanly).  Object
identity survives imports exactly as in the reference: every source /
rule / relation / output gets a stable integer id on first import and
keeps it across upserts, so downstream consumers (recalculation slicing,
external catalogs) can track objects through renames of everything but
their name.

Faithful behaviors:
- upsert order: sources -> rules -> relations -> outputs/channels
  (impc_execute.sql:19-161 "upsert changed objects in the order to
  maintain ref integrity")
- duplicate-rule / rule-name / duplicate-relation validation with the
  reference's error payload shape and verbatim messages
  (impc_execute.sql:84-102; impc_upsert_relations.sql:37-52)
- rules / relations missing from the import are deleted for sources the
  import still contains (blunt delete — the reference relies on the
  post-import parameter validation to surface broken references)
- sources / outputs missing from the import are CASCADE-deleted:
  dependent rules in other sources, relations touching the source,
  rules using those relations, mappings using deleted rules, channels
  reading the source (u_delete_cascade.sql 'source'/'output'/
  'enrichment'/'relation' branches)
- post-import parameter validation over every imported rule
  ('Rule validation errors' — impc_execute.sql:187-199)
- all-or-nothing: errors leave the store untouched (the reference runs
  inside a transaction)

The store round-trips to a :class:`~dataforge_core_spark.model.Project`
via ``to_project()``, so an imported state compiles with the normal
engine.
"""

from __future__ import annotations

import copy
import json
import os
from typing import Any

from dataforge_core_spark.model import (
    NAME_RE,
    Mapping,
    Project,
    Relation,
    Source,
)
from dataforge_core_spark.parser import parse_expression
from dataforge_core_spark.paths import RelationGraph

# impc_execute.sql:100-101 — verbatim message
_INVALID_RULE_NAME_MSG = (
    "Invalid rule name(s). Name has to start with lowercase letter or _ "
    "It may contain lowercase letters, numbers and _"
)

_STATE_FILE = "metastore.json"


def _empty_state() -> dict:
    return {"seq": 0, "sources": {}, "relations": {}, "outputs": {}}


class MetaStore:
    """JSON-file-backed project metadata state."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.path = os.path.join(state_dir, _STATE_FILE)
        if os.path.isfile(self.path):
            with open(self.path) as f:
                self.state = json.load(f)
        else:
            self.state = _empty_state()

    def save(self) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)  # atomic on POSIX

    def probe_store(self):
        """Persistent probe-result cache living alongside this store —
        the analogue of the reference persisting inferred expression
        types in its metadata DB (impc_update_test_results.sql:80-83)."""
        from dataforge_core_spark.probe import ProbeStore

        return ProbeStore(self.state_dir)

    def to_project(self, name: str = "project") -> Project:
        """Reconstruct the model from stored bodies (stable id order)."""
        from dataforge_core_spark.loader import (
            parse_output_dict,
            parse_relations_list,
            parse_source_dict,
        )

        s = self.state
        sources = [
            parse_source_dict(v["body"])
            for v in sorted(s["sources"].values(), key=lambda v: v["id"])
        ]
        relations = parse_relations_list(
            [
                v["body"]
                for v in sorted(s["relations"].values(), key=lambda v: v["id"])
            ]
        )
        outputs = [
            parse_output_dict(v["body"])
            for v in sorted(s["outputs"].values(), key=lambda v: v["id"])
        ]
        return Project(
            sources=sources, relations=relations, outputs=outputs, name=name
        )


# ---------------------------------------------------------------------------
# model -> loader-dict serialization (bodies are stored in the same shape
# loader.parse_source_dict / parse_output_dict / parse_relations_list read)
# ---------------------------------------------------------------------------


def _raw_attr_dict(a) -> Any:
    if a.hive_type is not None:
        return f"{a.name} {a.hive_type}"
    return {"name": a.name, "schema": a.schema_json}


def _rule_dict(r) -> dict:
    d: dict = {"name": r.name, "expression": r.expression}
    if r.rule_type != "E":
        d["rule_type"] = r.rule_type
        d["validation_action"] = r.validation_action
    if r.unique:
        d["unique"] = True
    if r.keep_current:
        d["keep_current"] = True
    if r.cast_datatype:
        d["cast_datatype"] = r.cast_datatype
    if r.parameters:
        d["parameters"] = [
            {"source_name": p.source_name, "relations": list(p.relations)}
            for p in r.parameters
        ]
    return d


def _source_dict(s: Source) -> dict:
    d: dict = {
        "source_name": s.source_name,
        "source_table": s.source_table,
        "target_table": s.target_table,
        "raw_attributes": [_raw_attr_dict(a) for a in s.raw_attributes],
        "rules": [_rule_dict(r) for r in s.rules],
    }
    if s.processing_type != "batch":
        d["processing_type"] = s.processing_type
    if s.sub_source_parent:
        d["sub_source"] = {
            "parent": s.sub_source_parent,
            "attribute": s.sub_source_attribute,
        }
    return d


def _relation_dict(r: Relation) -> dict:
    d: dict = {
        "name": r.name,
        "expression": r.expression,
        "cardinality": r.cardinality,
    }
    if r.primary:
        d["primary"] = True
    return d


def _mapping_text(m: Mapping) -> str:
    attr = m.attribute + ("." + ".".join(m.keys) if m.keys else "")
    if m.aggregate:
        inner = ("DISTINCT " if m.distinct else "") + attr
        return f"{m.aggregate}({inner}) {m.column}"
    return f"{attr} {m.column}"


def _output_dict(o) -> dict:
    d: dict = {
        "output_name": o.output_name,
        "columns": [
            f"{c.name} {c.hive_type}"
            if c.partition_ordinal is None and c.zorder_ordinal is None
            else {
                "name": c.name,
                "type": c.hive_type,
                **(
                    {"partition_ordinal": c.partition_ordinal}
                    if c.partition_ordinal is not None
                    else {}
                ),
                **(
                    {"zorder_ordinal": c.zorder_ordinal}
                    if c.zorder_ordinal is not None
                    else {}
                ),
            }
            for c in o.columns
        ],
        "channels": [],
    }
    if o.output_type != "table":
        d["output_type"] = o.output_type
    if o.file_format:
        d["file_format"] = o.file_format
    for ch in o.channels:
        cd: dict = {
            "source_name": ch.source_name,
            "mappings": [_mapping_text(m) for m in ch.mappings],
        }
        if ch.filter:
            cd["filter"] = ch.filter
        if ch.operation_type:
            cd["operation_type"] = ch.operation_type
        if ch.set_operation:
            cd["set_operation"] = ch.set_operation
        if not ch.include_pass:
            cd["include_pass"] = False
        if ch.include_warn:
            cd["include_warn"] = True
        if ch.include_fail:
            cd["include_fail"] = True
        d["channels"].append(cd)
    return d


# ---------------------------------------------------------------------------
# dependency extraction
# ---------------------------------------------------------------------------


def _rule_refs(src_name: str, rule_body: dict) -> list[tuple[str, str]]:
    """(source, attribute) pairs a rule's expression references."""
    parsed = parse_expression(rule_body["expression"], allow_this_agg=True)
    out = []
    for t in parsed.all_tokens():
        owner = src_name if t.source in ("This", "Related") else t.source
        out.append((owner, t.attr))
    return out


def _used_relations(
    project: Project, graph: RelationGraph, src: Source
) -> dict[str, list[str]]:
    """rule name -> relation names its lookup paths traverse (the
    reference stores source_relation_ids per enrichment parameter —
    impc_upsert_enrichment_parameters.sql; used by the 'relation' branch
    of u_delete_cascade to find rules that depend on a relation)."""
    known = {s.source_name for s in project.sources}
    out: dict[str, list[str]] = {}
    for rule in src.rules:
        rels: set[str] = set()
        explicit = {
            p.source_name: list(p.relations) for p in rule.parameters
        }
        parsed = parse_expression(rule.expression, allow_this_agg=True)
        for t in parsed.all_tokens():
            if t.source in ("This", "Related") or t.source not in known:
                continue
            try:
                path = graph.resolve(
                    src.source_name,
                    t.source,
                    explicit.get(t.source),
                    context=f"rule {rule.name!r}",
                )
                rels.update(h.relation.name for h in path.hops)
            except Exception:
                pass  # unresolvable path -> caught by compile validation
        out[rule.name] = sorted(rels)
    return out


# ---------------------------------------------------------------------------
# cascade deletes (u_delete_cascade.sql branches, on the JSON state)
# ---------------------------------------------------------------------------


def _delete_rule_cascade(
    state: dict, src_name: str, rule_name: str, log: list[str]
) -> None:
    """'enrichment' branch: dependents first, then the rule itself."""
    srec = state["sources"].get(src_name)
    if srec is None or rule_name not in srec["rules"]:
        return
    del srec["rules"][rule_name]
    srec["body"]["rules"] = [
        r for r in srec["body"]["rules"] if r["name"] != rule_name
    ]
    log.append(f"cascade: deleted rule {src_name}.{rule_name}")

    # rules (anywhere) whose expressions reference the deleted rule
    for other_name, orec in list(state["sources"].items()):
        for rbody in list(orec["body"]["rules"]):
            if (src_name, rule_name) in _rule_refs(other_name, rbody):
                _delete_rule_cascade(state, other_name, rbody["name"], log)

    # relations whose predicate references the deleted rule on its side
    for rel_name, rrec in list(state["relations"].items()):
        rel = Relation(**{k: v for k, v in rrec["body"].items()})
        left, _, right = rel.decode()
        parsed = parse_expression(rel.expression, allow_this_agg=True)
        for t in parsed.tokens:
            owner = left if t.source == "This" else right
            if owner == src_name and t.attr == rule_name:
                _delete_relation_cascade(state, rel_name, log)
                break

    # output mappings that use the deleted rule
    for orec in state["outputs"].values():
        for ch in orec["body"]["channels"]:
            if ch["source_name"] != src_name:
                continue
            before = len(ch["mappings"])
            ch["mappings"] = [
                m
                for m in ch["mappings"]
                if _mapping_attr(m) != rule_name
            ]
            if len(ch["mappings"]) != before:
                log.append(
                    f"cascade: deleted mapping(s) of {rule_name} from "
                    f"output {orec['body']['output_name']}"
                )


def _mapping_attr(mapping_text: str) -> str:
    from dataforge_core_spark.loader import _parse_mapping

    return _parse_mapping(mapping_text).attribute


def _delete_relation_cascade(
    state: dict, rel_name: str, log: list[str]
) -> None:
    """'relation' branch: rules whose paths use the relation, then it."""
    if rel_name not in state["relations"]:
        return
    del state["relations"][rel_name]
    log.append(f"cascade: deleted relation {rel_name}")
    for src_name, srec in list(state["sources"].items()):
        for rname, rrec in list(srec["rules"].items()):
            if rel_name in rrec.get("used_relations", []):
                _delete_rule_cascade(state, src_name, rname, log)


def _delete_source_cascade(
    state: dict, src_name: str, log: list[str]
) -> None:
    """'source' branch of u_delete_cascade.sql:19-43."""
    if src_name not in state["sources"]:
        return
    # rules in OTHER sources whose parameters reference this source
    for other_name, orec in list(state["sources"].items()):
        if other_name == src_name:
            continue
        for rbody in list(orec["body"]["rules"]):
            if any(
                owner == src_name
                for owner, _ in _rule_refs(other_name, rbody)
            ):
                _delete_rule_cascade(state, other_name, rbody["name"], log)
    # relations touching this source on either side
    for rel_name, rrec in list(state["relations"].items()):
        rel = Relation(**{k: v for k, v in rrec["body"].items()})
        left, _, right = rel.decode()
        if src_name in (left, right):
            _delete_relation_cascade(state, rel_name, log)
    # channels reading this source (mappings go with the channel)
    for orec in state["outputs"].values():
        before = len(orec["body"]["channels"])
        orec["body"]["channels"] = [
            ch
            for ch in orec["body"]["channels"]
            if ch["source_name"] != src_name
        ]
        if len(orec["body"]["channels"]) != before:
            log.append(
                f"cascade: deleted channel(s) of {src_name} from "
                f"output {orec['body']['output_name']}"
            )
    if src_name in state["sources"]:
        del state["sources"][src_name]
        log.append(f"cascade: deleted source {src_name}")


# ---------------------------------------------------------------------------
# import
# ---------------------------------------------------------------------------


def import_project(store: MetaStore, project: Project) -> dict:
    """Diff-import ``project`` into ``store``.

    Returns a report dict; on validation failure returns
    ``{"error": ..., "error_detail": [...]}`` (the reference's jsonb
    error payload shape) and leaves the store unmodified.
    """
    state = copy.deepcopy(store.state)
    log: list[str] = []
    report: dict = {"log": log}

    # ---- validations before any mutation (impc_execute.sql:84-102) ----
    dupes = []
    for src in project.sources:
        seen: set[str] = set()
        for r in src.rules:
            if r.name in seen:
                dupes.append(
                    {
                        "source_name": src.source_name,
                        "attribute_name": r.name,
                    }
                )
            seen.add(r.name)
    if dupes:
        return {"error": "Duplicate rules", "error_detail": dupes}

    bad_names = [
        {"source_name": s.source_name, "attribute_name": r.name}
        for s in project.sources
        for r in s.rules
        if not NAME_RE.match(r.name)
    ]
    if bad_names:
        return {"error": _INVALID_RULE_NAME_MSG, "error_detail": bad_names}

    rel_seen: set[str] = set()
    rel_dupes = []
    for rel in project.relations:
        if rel.name in rel_seen:
            rel_dupes.append({"name": rel.name})
        rel_seen.add(rel.name)
    if rel_dupes:
        return {"error": "Duplicate relations", "error_detail": rel_dupes}

    def next_id() -> int:
        state["seq"] += 1
        return state["seq"]

    graph = RelationGraph(project.relations)

    # ---- upsert sources + rules (impc_execute.sql:19-108) ----
    n_src_new = n_src_upd = 0
    n_rule_del = n_rule_upserted = 0
    for src in project.sources:
        body = _source_dict(src)
        used = _used_relations(project, graph, src)
        rec = state["sources"].get(src.source_name)
        if rec is None:
            rec = {"id": next_id(), "body": body, "rules": {}}
            state["sources"][src.source_name] = rec
            n_src_new += 1
        else:
            if rec["body"] != body:
                n_src_upd += 1
            rec["body"] = body
        # delete rules missing from the import
        # (impc_upsert_enrichments.sql:9-17)
        incoming = {r.name for r in src.rules}
        for rname in list(rec["rules"]):
            if rname not in incoming:
                del rec["rules"][rname]
                n_rule_del += 1
        # upsert rules, preserving ids for matched names
        for r in src.rules:
            rrec = rec["rules"].get(r.name)
            rbody = _rule_dict(r)
            if rrec is None:
                rec["rules"][r.name] = {
                    "id": next_id(),
                    "body": rbody,
                    "used_relations": used[r.name],
                }
            else:
                rrec["body"] = rbody
                rrec["used_relations"] = used[r.name]
            n_rule_upserted += 1
    log.append(f"Imported {n_src_new + n_src_upd} sources")
    log.append(f"Deleted {n_rule_del} enrichments")
    log.append(f"Upserted {n_rule_upserted} enrichments")

    # ---- upsert relations (impc_upsert_relations.sql) ----
    incoming_rels = {rel.name for rel in project.relations}
    n_rel_del = 0
    for rel_name in list(state["relations"]):
        if rel_name not in incoming_rels:
            del state["relations"][rel_name]
            n_rel_del += 1
    log.append(f"Deleted {n_rel_del} relations")
    for rel in project.relations:
        body = _relation_dict(rel)
        rec = state["relations"].get(rel.name)
        if rec is None:
            state["relations"][rel.name] = {"id": next_id(), "body": body}
        else:
            rec["body"] = body

    # ---- upsert outputs + channels (impc_execute.sql:125-161) ----
    n_out = 0
    for out in project.outputs:
        body = _output_dict(out)
        rec = state["outputs"].get(out.output_name)
        if rec is None:
            state["outputs"][out.output_name] = {
                "id": next_id(),
                "body": body,
            }
        else:
            rec["body"] = body
        n_out += 1
    log.append(f"Imported {n_out} outputs")

    # ---- cascade delete missing sources/outputs (impc_execute:163-184) --
    incoming_sources = {s.source_name for s in project.sources}
    gone_sources = [
        n for n in state["sources"] if n not in incoming_sources
    ]
    for name in gone_sources:
        _delete_source_cascade(state, name, log)
    log.append(
        f"Deleted {len(gone_sources)} sources not existing in import"
    )
    incoming_outputs = {o.output_name for o in project.outputs}
    gone_outputs = [
        n for n in state["outputs"] if n not in incoming_outputs
    ]
    for name in gone_outputs:
        del state["outputs"][name]
        log.append(f"cascade: deleted output {name}")
    log.append(
        f"Deleted {len(gone_outputs)} outputs not existing in import"
    )

    # ---- post-import parameter validation (impc_execute.sql:187-199) ----
    errors = []
    known_attrs: dict[str, set[str]] = {}
    for name, rec in state["sources"].items():
        attrs = {
            a.split(" ")[0] if isinstance(a, str) else a["name"]
            for a in rec["body"]["raw_attributes"]
        }
        attrs.update(rec["rules"])
        known_attrs[name] = attrs
    for name, rec in state["sources"].items():
        for rbody in rec["body"]["rules"]:
            for owner, attr in _rule_refs(name, rbody):
                if owner not in known_attrs:
                    errors.append(
                        {
                            "attribute_name": rbody["name"],
                            "source_name": name,
                            "error": f"references unknown source "
                            f"{owner!r}",
                        }
                    )
                elif attr not in known_attrs[owner]:
                    errors.append(
                        {
                            "attribute_name": rbody["name"],
                            "source_name": name,
                            "error": f"references unknown attribute "
                            f"{owner}.{attr}",
                        }
                    )
    if errors:
        return {"error": "Rule validation errors", "error_detail": errors}

    # ---- commit ----
    store.state = state
    store.save()
    log.append("Import files parsed successfully. ")
    report.update(
        {
            "sources_added": n_src_new,
            "sources_updated": n_src_upd,
            "rules_deleted": n_rule_del,
            "relations_deleted": n_rel_del,
            "sources_deleted": len(gone_sources),
            "outputs_deleted": len(gone_outputs),
        }
    )
    return report
