"""The benchmark's workloads.  Each is a closed loop with one client: this
process drives Spark ``local[nproc]`` and starts the next operation when
the previous one has finished.

- ``refresh_lanes``: what a pipeline owner waits for at run time.  The
  sample project ``projects/tpch_demo`` is refreshed in full (7 hubs, 2
  outputs), two seeded upsert batches go into its orders hub, and
  operator lanes drawn from every operators module run over the document
  corpus.  Spark execution dominates.
- ``elt_compile_wide``: what a project author waits for at compile time.
  A new generated wide project goes through the reference's user loop
  (load, import, validate, emit, run ``run.sql``).  The compile layers
  dominate; the data is a few hundred rows per source.

Each workload function sets up (session, inputs, an unrecorded warm-up
round), calls ``ctx.setup_done()``, loops until ``ctx.more()`` says the run's seconds
are spent, calls ``ctx.loop_done()``, and then checks every output
against its reference outside the timed region.
"""

from __future__ import annotations

import dataclasses
import importlib
import os
import random
import re

import datagen
import oracle
import wideproj
from metrics import OPERATOR_MODULES

REFRESH_SF = 0.01  # 60k lineitem rows; the corpus is at its minimum size
UPSERT_ROWS = 150  # 1% of the orders, plus 15 new ones
UPSERT_BATCHES = 2  # per iteration, each into the refreshed orders hub
WIDE_SOURCES = 4
WIDE_RULES_PER_SOURCE = 2
# The lane draw is fixed, so run-to-run spread measures the code and
# not which lanes were drawn; --seed varies the lanes' data.
LANE_DRAW_SEED = 0
# Lanes eligible for the draw: per module, those whose first call took
# at most about 3 s and whose warm call at most about 1.5 s on the
# corpus, after a refresh had warmed the JVM, on a 4-core x86 host, and
# whose DuckDB reference takes well under a second, so that a run fits
# its budget.
LANE_POOL = {
    "dedup": ["dedup_exact"],
    "simhash": ["dedup_simhash"],
    "similarity": ["embeddings_dim_stats"],
    "sketches": ["sketch_dd_quantiles"],
    "text": ["text_lang_id", "text_quality", "text_readability",
             "text_tokens"],
    "training": ["train_chunk", "train_sample_stratified",
                 "train_shard_assign"],
    "multimodal": ["multimodal_meta"],
    "events": ["events_bot_detection", "events_json", "events_rollup",
               "events_sessionize"],
    "nested": ["nested_aggregate"],
    "streaming_rows": ["stream_topk"],
}

_HUB_ORACLES = {
    "tpch_region": "hub_region",
    "tpch_nation": "hub_nation",
    "tpch_supplier": "hub_supplier",
    "tpch_orders": "hub_orders",
    "tpch_customer": "hub_customer",
    "tpch_lineitem": "hub_lineitem",
    "tpch_part": "hub_part",
}
_OUTPUT_ORACLES = {
    "feature_customer": "output_feature_customer",
    "entity_union": "output_entity_union",
}
_SHUFFLE_RE = re.compile(r"^\W*Exchange (?!.*Broadcast)", re.MULTILINE)


def canonical(df):
    """The comparison form the repo's oracles are written against:
    DECIMAL as DOUBLE, array<string> as its sorted comma-joined text."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.DecimalType):
            c = c.cast("double")
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StringType
        ):
            c = F.array_join(F.sort_array(c), ",")
        cols.append(c.alias(f.name))
    return df.select(*cols)


def plan_stats(dfs) -> tuple[int, int]:
    """(analyzed-plan nodes, shuffle exchanges in the physical plans)
    summed over lazily built frames."""
    nodes = exchanges = 0
    for df in dfs:
        qe = df._jdf.queryExecution()
        nodes += len(qe.analyzed().treeString().splitlines())
        exchanges += len(_SHUFFLE_RE.findall(qe.executedPlan().toString()))
    return nodes, exchanges


def n_joins(project) -> int:
    from dataforge_core_spark.compiler import SourceCompiler

    comp = SourceCompiler(None, project)
    return sum(
        len(comp.plan(s).joins) for s in project.sources
        if not s.sub_source_parent
    )


def note_ir(ctx, label: str, project, subs: dict) -> None:
    """Traced runs only: IR sizes of the project's lazily built hubs,
    built outside the timed iteration."""
    from dataforge_core_spark import ProjectRunner

    with ctx.iteration("x" + label, record=False):
        lazy = ProjectRunner(ctx.spark, project, subs, persist_hubs=False).build()
    nodes, exchanges = plan_stats(lazy.values())
    ctx.note(label, "compiler.plan_nodes", nodes)
    ctx.note(label, "compiler.exchanges", exchanges)
    ctx.note(label, "plans.joins", n_joins(project))


# ---------------------------------------------------------------------------
# refresh_lanes
# ---------------------------------------------------------------------------


def draw_lanes(seed: int) -> list[tuple[str, str]]:
    """One lane from each operators module's pool, drawn with
    ``random.Random(seed)``: [(module, lane)]."""
    rng = random.Random(seed)
    return [(m, rng.choice(sorted(LANE_POOL[m]))) for m in OPERATOR_MODULES]


def refresh_lanes(ctx) -> None:
    from dataforge_core_spark import ProjectRunner, load_project
    from dataforge_core_spark.sources.readers import read_source

    spark = ctx.session()
    project_dir = os.path.join(ctx.root, "projects", "tpch_demo")
    data = ctx.path("data")
    datagen.write_tpch(data, ctx.seed, REFRESH_SF)
    datagen.write_corpus(data, ctx.seed, REFRESH_SF)
    lanes = draw_lanes(LANE_DRAW_SEED)
    fns = {
        lane: importlib.import_module(
            f"dataforge_core_spark.operators.{m}"
        ).queries()[lane]
        for m, lane in lanes
    }

    def refresh():
        project = load_project(project_dir)
        runner = ProjectRunner(
            spark, project, {"DATA_DIR": data}, persist_hubs=False
        )
        hubs = runner.build_checkpointed()
        with ctx.span("bench.outputs"):
            outs = runner.build_outputs(hubs)
            for df in outs.values():
                df.write.format("noop").mode("overwrite").save()
        return project, runner, hubs, outs

    def upsert(project, runner, hubs, batch_path: str):
        with ctx.span("bench.upsert"):
            orders = project.source_by_name()["tpch_orders"]
            batch = read_source(
                spark, dataclasses.replace(orders, source_table=batch_path)
            )
            return runner.compiler.incremental_upsert(
                orders, hubs["tpch_orders"], batch, ["o_orderkey"], hubs
            ).localCheckpoint(eager=True)

    def lane_pass(kind: str) -> dict:
        """Every drawn lane once, as Arrow tables by lane name."""
        out = {}
        with ctx.step(f"{kind}_pass_s"):
            for m, lane in lanes:
                with ctx.span(f"operators.{m}"):
                    out[lane] = ctx.op(
                        f"{kind}.{lane}",
                        lambda f: f(spark, data).toArrow(), fns[lane],
                    )
        return out

    def batch_file(i: int, k: int) -> str:
        """Upsert batch ``k`` of iteration ``i``, applied to that
        iteration's refreshed hubs."""
        path = ctx.path(f"batch{i}_{k}.parquet")
        datagen.write_upsert_batch(
            data, path, ctx.seed, i * UPSERT_BATCHES + k, UPSERT_ROWS
        )
        return path

    # Set-up starts with the cold lane pass, whose first calls build
    # every index the lanes read, and then warms the refresh and upsert
    # with one unrecorded round: their first plans cost several times a
    # later one's, and that code generation and compilation would swamp
    # the timed samples.
    cold: dict = {}
    with ctx.iteration("cold"):
        cold = lane_pass("cold")
    with ctx.iteration("warmup", record=False):
        project, runner, hubs, _ = ctx.op("refresh_s", refresh)
        ctx.op("upsert_s", upsert, project, runner, hubs, batch_file(0, 0))
    ctx.setup_done()

    upserts = []  # (batch path, upserted orders as Arrow)
    warm_passes = []
    last = None
    i = 0
    while ctx.more(i):
        i += 1
        batches = [batch_file(i, k) for k in range(UPSERT_BATCHES)]
        with ctx.iteration(f"it{i}") as it:
            project, runner, hubs, outs = ctx.op("refresh_s", refresh)
            ups = [ctx.op("upsert_s", upsert, project, runner, hubs, b)
                   for b in batches]
            lanes_out = lane_pass("warm")
        if not it.ok:
            continue
        upserts += [(b, canonical(up).toArrow())
                    for b, up in zip(batches, ups)]
        warm_passes.append(lanes_out)
        last = (hubs, outs)
        if ctx.tracing:
            note_ir(ctx, f"it{i}", project, {"DATA_DIR": data})
    ctx.loop_done()

    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    con = oracle.connect(data)
    try:
        if last is not None:
            frames = {**last[0], **last[1]}
            for name, key in {**_HUB_ORACLES, **_OUTPUT_ORACLES}.items():
                got = canonical(frames[name]).toArrow()
                ctx.check(key, oracle.diff_rows(con, got, sqls[key]))
        for lane, got in cold.items():
            ctx.check(f"{lane} oracle", oracle.diff_rows(
                con, got, sqls[lane]
            ))
        # the upsert's reference is a full rebuild of the mutated input
        orders = os.path.join(data, "orders.parquet")
        for batch, got in upserts:
            con.execute(
                f"""CREATE OR REPLACE VIEW orders AS
                SELECT * FROM read_parquet('{orders}')
                WHERE o_orderkey NOT IN (
                  SELECT o_orderkey FROM read_parquet('{batch}'))
                UNION ALL SELECT * FROM read_parquet('{batch}')"""
            )
            ctx.check(f"upsert {os.path.basename(batch)}",
                      oracle.diff_rows(con, got, sqls["hub_orders"]))
    finally:
        con.close()
    for k, warm_out in enumerate(warm_passes):
        for lane, got in warm_out.items():
            ctx.check(f"{lane} warm{k + 1}",
                      oracle.diff_tables(got, cold[lane]))


# ---------------------------------------------------------------------------
# elt_compile_wide
# ---------------------------------------------------------------------------


def elt_compile_wide(ctx) -> None:
    from dataforge_core_spark import ProjectRunner, load_project
    from dataforge_core_spark.backends import STMT_SPLIT, SparkWarehouse
    from dataforge_core_spark.imports import MetaStore, import_project
    from dataforge_core_spark.probe import (
        probe_stats,
        set_probe_store,
        validate_project,
    )
    from dataforge_core_spark.sql_emitter import SqlEmitter

    spark = ctx.session()

    def compile_one(i: int):
        """Steps 1-5 of the user loop for project ``w<i>``; returns what
        the checks need."""
        wp = wideproj.generate(
            ctx.path(f"w{i}"), ctx.seed, i,
            n_sources=WIDE_SOURCES, rules_per_source=WIDE_RULES_PER_SOURCE,
        )
        subs = {"DATA_DIR": wp.data_dir}
        project = ctx.op("load_s", load_project, wp.project_dir)
        store = MetaStore(ctx.path(f"w{i}/state"))
        with ctx.step("build_s"):
            rep = ctx.op("import_s", import_project, store, project)
            imported = ctx.op("to_project_s", store.to_project, "wide")
        prev = set_probe_store(store.probe_store())
        try:
            report = ctx.op("validate_s", validate_project, spark, imported)
        finally:
            set_probe_store(prev)
        with ctx.step("build_s"):
            run_sql = ctx.op(
                "emit_s",
                SqlEmitter(imported, subs, spark=spark).emit_all,
                ctx.path(f"w{i}/target"),
            )
        ctx.op("run_sql_s", SparkWarehouse(
            spark, log_path=ctx.path(f"w{i}")
        ).execute, run_sql)
        if "error" in rep:
            ctx.check(f"w{i} import", 1)
        return wp, imported, report, run_sql

    def check_types(wp, report) -> int:
        bad = 0
        for r in report:
            if r["status"] != "success":
                bad += 1
            elif r["kind"] == "rule":
                bad += r["data_type"] != wp.expected_types[r["name"]]
        return bad

    def drop_tables(wp, imported) -> None:
        for name in [*wp.hub_tables.values(),
                     *(o.output_name for o in imported.outputs)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    # Set-up compiles one unrecorded project, w0: the first project's
    # code generation and compilation cost several times a later one's
    # and would swamp a single timed sample.  Each timed project is new,
    # so its probes still miss the cache as a real new project's would.
    with ctx.iteration("warmup", record=False) as it:
        wp, imported, report, _ = compile_one(0)
    if it.ok:
        ctx.check("w0 types", check_types(wp, report))
        drop_tables(wp, imported)
    ctx.setup_done()

    last = None
    i = 0
    while ctx.more(i):
        i += 1
        label = f"it{i}"
        before = dict(probe_stats)
        with ctx.iteration(label) as it:
            wp, imported, report, run_sql = compile_one(i)
        if not it.ok:
            continue
        runs = probe_stats["runs"] - before["runs"]
        hits = (probe_stats["hits"] + probe_stats["store_hits"]
                - before["hits"] - before["store_hits"])
        ctx.note(label, "probe.runs", runs)
        ctx.note(label, "probe.hit_ratio", hits / max(1, hits + runs))
        ctx.note(label, "sql_emitter.sql_bytes", len(run_sql.encode()))
        ctx.note(label, "sql_emitter.statements", sum(
            1 for s in STMT_SPLIT.findall(run_sql) if s.strip()
        ))
        ctx.check(f"{label} types", check_types(wp, report))
        if ctx.tracing:
            note_ir(ctx, label, imported, {"DATA_DIR": wp.data_dir})
        if last is not None:
            drop_tables(*last)
        last = (wp, imported)
    ctx.loop_done()

    if last is not None:
        # the run.sql tables against the DataFrame runner's frames
        wp, imported = last
        runner = ProjectRunner(
            spark, imported, {"DATA_DIR": wp.data_dir}, persist_hubs=False
        )
        hubs = runner.build_checkpointed()
        outs = runner.build_outputs(hubs)
        for src, table in wp.hub_tables.items():
            ctx.check(f"{table} data", oracle.diff_tables(
                spark.table(table).toArrow(), hubs[src].toArrow()
            ))
        for name, df in outs.items():
            ctx.check(f"{name} data", oracle.diff_tables(
                spark.table(name).toArrow(), df.toArrow()
            ))


WORKLOADS = {
    "refresh_lanes": refresh_lanes,
    "elt_compile_wide": elt_compile_wide,
}

# the recorded steps behind the generic end-to-end metrics, in order:
# step k of an iteration is the sum of the steps named in its tuple
STEPS = {
    "refresh_lanes": (("refresh_s", "upsert_s"), ("warm_pass_s",)),
    "elt_compile_wide": (("build_s", "validate_s"), ("run_sql_s",)),
}
