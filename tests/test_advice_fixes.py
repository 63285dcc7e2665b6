"""Regression tests for the round-1 advisor findings: emitted-SQL
empty-array parity, recalculation window validation, output-channel
validation in the emitter, and self-relation aggregates."""

from __future__ import annotations

import shutil
import tempfile

import pytest


def _project(parent_table: str, child_table: str):
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project

    parent = parse_source_dict(
        {
            "source_name": "par",
            "source_table": parent_table,
            "target_table": "hub_par_adv",
            "raw_attributes": ["pid long"],
            "rules": [
                {"name": "vals", "expression": "collect_list([chi].v)"},
                {"name": "vset", "expression": "collect_set([chi].v)"},
                {"name": "vcnt", "expression": "count([chi].v)"},
            ],
        }
    )
    child = parse_source_dict(
        {
            "source_name": "chi",
            "source_table": child_table,
            "target_table": "hub_chi_adv",
            "raw_attributes": ["cid long", "parent_id long", "v long"],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[par]- kids -[chi]",
                "expression": "[This].pid = [Related].parent_id",
                "cardinality": "1-M",
            }
        ]
    )
    return Project(sources=[parent, child], relations=rels)


@pytest.fixture(scope="module")
def empty_group_tables(spark):
    """Parent pid=2 has NO children — the empty aggregation group the
    sf0.001 TPC-H data never produces (every customer has orders)."""
    d = tempfile.mkdtemp(prefix="dfspark_adv_")
    spark.createDataFrame([(1,), (2,)], "pid long").write.parquet(f"{d}/p")
    spark.createDataFrame(
        [(10, 1, 7), (11, 1, 8)], "cid long, parent_id long, v long"
    ).write.parquet(f"{d}/c")
    yield f"{d}/p", f"{d}/c"
    shutil.rmtree(d, ignore_errors=True)


def test_emitted_sql_empty_array_parity(spark, empty_group_tables):
    """The SQL artifact must coalesce collect_list/collect_set to [] for
    empty groups exactly like compiler._agg_empty_fixes (LATERAL parity);
    previously only the count family was coalesced."""
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.sql_emitter import SqlEmitter, run_statements

    p_tab, c_tab = empty_group_tables
    project = _project(p_tab, c_tab)

    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    df_rows = {
        r["pid"]: (sorted(r["vals"]), sorted(r["vset"]), r["vcnt"])
        for r in hubs["par"].collect()
    }
    assert df_rows[2] == ([], [], 0)  # DataFrame path: LATERAL parity

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    target = tempfile.mkdtemp(prefix="dfspark_adv_target_")
    run_sql = SqlEmitter(project, spark=spark).emit_all(target)
    run_statements(spark, run_sql)
    sql_rows = {
        r["pid"]: (sorted(r["vals"]), sorted(r["vset"]), r["vcnt"])
        for r in spark.table("hub_par_adv").collect()
    }
    assert sql_rows == df_rows
    shutil.rmtree(target, ignore_errors=True)


def test_emit_output_rejects_empty_channel(spark):
    """emit_output must raise the same ProjectError as compile_output when
    a channel excludes all validation statuses, instead of silently
    emitting `IN ()` (invalid SQL) into the artifact."""
    from dataforge_core_spark.loader import parse_output_dict, parse_source_dict
    from dataforge_core_spark.model import Project, ProjectError
    from dataforge_core_spark.sql_emitter import SqlEmitter

    src = parse_source_dict(
        {
            "source_name": "s",
            "source_table": "t",
            "target_table": "h",
            "raw_attributes": ["a long"],
            "rules": [
                {
                    "name": "a_ok",
                    "expression": "[This].a >= 0",
                    "rule_type": "V",
                }
            ],
        }
    )
    out = parse_output_dict(
        {
            "output_name": "o",
            "columns": ["a long"],
            "channels": [
                {
                    "source_name": "s",
                    "operation_type": "pass through",
                    "include_pass": False,
                    "include_warn": False,
                    "include_fail": False,
                    "mappings": ["a a"],
                }
            ],
        }
    )
    project = Project(sources=[src], relations=[], outputs=[out])
    with pytest.raises(ProjectError, match="at least one of pass/warn/fail"):
        SqlEmitter(project).emit_output(out)


def _mk_source(rules):
    from dataforge_core_spark.loader import parse_source_dict

    return parse_source_dict(
        {
            "source_name": "s",
            "source_table": "t",
            "target_table": "h",
            "raw_attributes": ["a long", "b long"],
            "rules": rules,
        }
    )


def test_window_keys_validate_downstream_rules(spark):
    """A window rule explicitly marked keep_current:false that sits in the
    recalculation closure (downstream of a keep_current rule) must
    constrain prunability — recalculate() recomputes it too."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.model import Project

    src = _mk_source(
        [
            {
                "name": "r1",
                "expression": "SUM([This].a) OVER (PARTITION BY [This].a)",
            },
            {
                "name": "r2",
                "expression": "SUM([This].r1) OVER (PARTITION BY [This].b)",
                "keep_current": False,
            },
        ]
    )
    compiler = SourceCompiler(spark, Project(sources=[src], relations=[]))
    assert compiler.recalculation_closure(src) == {"r1", "r2"}
    assert compiler.window_partition_keys(src) is None

    # same downstream rule partitioned consistently -> prunable
    src2 = _mk_source(
        [
            {
                "name": "r1",
                "expression": "SUM([This].a) OVER (PARTITION BY [This].a)",
            },
            {
                "name": "r2",
                "expression": "SUM([This].r1) OVER (PARTITION BY [This].a)",
                "keep_current": False,
            },
        ]
    )
    compiler2 = SourceCompiler(spark, Project(sources=[src2], relations=[]))
    assert compiler2.window_partition_keys(src2) == ["a"]


def test_window_keys_validate_every_window_occurrence(spark):
    """A single rule carrying two OVER() clauses with different partition
    keys must not be treated as confined (previously only the first
    occurrence was inspected)."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.model import Project

    src = _mk_source(
        [
            {
                "name": "r1",
                "expression": (
                    "SUM([This].a) OVER (PARTITION BY [This].a) + "
                    "SUM([This].b) OVER (PARTITION BY [This].b)"
                ),
            }
        ]
    )
    compiler = SourceCompiler(spark, Project(sources=[src], relations=[]))
    assert compiler.window_partition_keys(src) is None


def test_window_keys_reject_unique_rules_in_closure(spark):
    """The implicit `_uv_flag` window partitions by the rule's *value*;
    recomputing it over a pruned subset would miscount values that
    straddle changed/unchanged rows."""
    from dataforge_core_spark.compiler import SourceCompiler
    from dataforge_core_spark.model import Project

    src = _mk_source(
        [
            {
                "name": "r1",
                "expression": "SUM([This].a) OVER (PARTITION BY [This].a)",
            },
            {
                "name": "r2",
                "expression": "CAST([This].r1 AS STRING)",
                "unique": True,
                "keep_current": False,
            },
        ]
    )
    compiler = SourceCompiler(spark, Project(sources=[src], relations=[]))
    assert "r2" in compiler.recalculation_closure(src)
    assert compiler.window_partition_keys(src) is None


def test_self_relation_aggregate(spark, sf_dir):
    """Aggregates over an M self-relation: the aggregation target is the
    in-flight frame (previously raised 'Hub for source ... not built
    yet')."""
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner

    src = parse_source_dict(
        {
            "source_name": "orders_sa",
            "source_table": f"{sf_dir}/orders.parquet",
            "target_table": "enriched_orders_sa",
            "raw_attributes": [
                "o_orderkey long",
                "o_custkey long",
                "o_totalprice double",
            ],
            "rules": [
                {
                    "name": "cust_order_cnt",
                    "expression": "count([orders_sa].o_orderkey)",
                    "parameters": [
                        {
                            "source_name": "orders_sa",
                            "relations": [
                                "[orders_sa]- same_cust -[orders_sa]"
                            ],
                        }
                    ],
                },
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[orders_sa]- same_cust -[orders_sa]",
                "expression": "[This].o_custkey = [Related].o_custkey",
                "cardinality": "1-M",
            }
        ]
    )
    project = Project(sources=[src], relations=rels)
    hubs = ProjectRunner(spark, project, persist_hubs=False).build()
    got = {
        (r["o_orderkey"]): r["cust_order_cnt"]
        for r in hubs["orders_sa"].collect()
    }
    expect = {
        r["o_orderkey"]: r["cnt"]
        for r in spark.sql(
            f"""
            SELECT a.o_orderkey, COUNT(b.o_orderkey) AS cnt
            FROM parquet.`{sf_dir}/orders.parquet` a
            LEFT JOIN parquet.`{sf_dir}/orders.parquet` b
              ON a.o_custkey = b.o_custkey
            GROUP BY a.o_orderkey
            """
        ).collect()
    }
    assert got == expect
    assert any(v > 1 for v in got.values())


# ---------------------------------------------------------------------------
# Round-2 advisor findings
# ---------------------------------------------------------------------------


def test_repetition_short_docs_yield_zero_trigrams(spark, tmp_path):
    """ADVICE r2 (medium): docs with < 3 tokens must produce
    n_trigrams = 0 — the old sequence(1, size-2) form built a [1, 0]
    descending sequence and indexed out of bounds under ANSI mode."""
    import pandas as pd

    from dataforge_core_spark.operators.training import train_repetition

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["", "one", "two words", "exactly three tokens",
                     "a a a a"],
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [0, 3, 9, 20, 7],
        }
    )
    pq = str(tmp_path / "documents.parquet")
    pdf.to_parquet(pq)
    out = {
        r["doc_id"]: r.asDict()
        for r in train_repetition(spark, str(tmp_path)).collect()
    }
    assert out[1]["n_trigrams"] == 0 and out[1]["rep_ratio"] == 0.0
    assert out[2]["n_trigrams"] == 0
    assert out[3]["n_trigrams"] == 0
    assert out[4]["n_trigrams"] == 1 and out[4]["n_unique"] == 1
    # 'a a a a' -> ['a a a', 'a a a']: 2 trigrams, 1 unique, ratio 0.5
    assert out[5]["n_trigrams"] == 2 and out[5]["n_unique"] == 1
    assert out[5]["rep_ratio"] == 0.5


def test_pack_id_stride_is_collision_free_across_shards():
    """ADVICE r2 (low): pack_id stride must not collide across shards
    until ~2e15 tokens per shard (the old 10^6 stride collided at 2.1e9)."""
    from dataforge_core_spark.operators.training import (
        PACK_STRIDE,
        TOKEN_BUDGET,
    )

    # tokens per shard before within-shard pack index spills into the
    # next shard's id range
    assert PACK_STRIDE * TOKEN_BUDGET >= 2 * 10**15


def test_probe_empty_result_is_error(spark):
    """ADVICE r2 (low): zero probe rows must be an error (the reference's
    df.head()[0] raises IndexError, reported via its except path) — not
    silent success."""
    from dataforge_core_spark import probe as P

    res = P.run_probe(spark, "1 + 1")
    assert res.status == "success"
    # a probe over an empty relation: rewrite the view name temporarily
    sql = P.build_probe_sql("1 + 1")
    empty_sql = sql.replace(
        f"FROM {P.VIEW_NAME}", f"FROM {P.VIEW_NAME} WHERE 1 = 0"
    )
    df = spark.sql(empty_sql)
    assert df.limit(1).collect() == []  # precondition: genuinely empty
    # run through the real path by monkeypatching the view
    spark.sql(
        f"SELECT * FROM {P.VIEW_NAME} WHERE 1 = 0"
    ).createOrReplaceTempView("datatypes_empty_probe")
    orig = P.VIEW_NAME
    try:
        P.VIEW_NAME = "datatypes_empty_probe"
        res = P.run_probe(spark, "1 + 1")
    finally:
        P.VIEW_NAME = orig
    assert res.status == "error"
    assert res.message == "list index out of range"


def test_probe_error_results_not_cached(spark):
    """Error ProbeResults may stem from transient session failures — they
    must not be pinned in the per-session cache (round-4 advice)."""
    from dataforge_core_spark import probe

    before = dict(probe.probe_stats)
    r1 = probe.run_probe(spark, "[This].nonexistent_fn_xyz(")
    r2 = probe.run_probe(spark, "[This].nonexistent_fn_xyz(")
    assert r1.status == "error" and r2.status == "error"
    # both invocations ran (no cache hit for the error result)
    assert probe.probe_stats["runs"] - before["runs"] == 2


def test_probe_cache_is_per_session_object(spark):
    """The cache keys on the live session object (WeakKeyDictionary), so
    entries cannot survive into an unrelated session that happens to
    reuse a GC'd session's address (round-4 advice)."""
    from dataforge_core_spark import probe

    probe.run_probe(spark, "1 + 1")
    assert spark in probe._probe_cache
    assert any(
        isinstance(v, probe.ProbeResult)
        for v in probe._probe_cache[spark].values()
    )


def test_configure_nontty_missing_env_errors(tmp_path, monkeypatch):
    """--configure without a TTY must fail loudly listing the missing
    DATAFORGE_DATABRICKS_* keys instead of writing an incomplete profile
    (round-4 advice)."""
    from dataforge_core_spark.cli import main

    for k in ("HOSTNAME", "HTTP_PATH", "ACCESS_TOKEN", "SCHEMA", "CATALOG"):
        monkeypatch.delenv(f"DATAFORGE_DATABRICKS_{k}", raising=False)
    profile = tmp_path / "profile.yaml"
    rc = main(["--configure", "--profile", str(profile)])
    assert rc == 1
    assert not profile.exists()


def test_configure_bare_filename_profile(tmp_path, monkeypatch):
    """--profile with a bare filename (empty dirname) must not crash in
    makedirs (round-4 advice)."""
    from dataforge_core_spark.cli import main

    monkeypatch.chdir(tmp_path)
    for k, v in {
        "HOSTNAME": "h",
        "HTTP_PATH": "/p",
        "ACCESS_TOKEN": "t",
        "SCHEMA": "s",
    }.items():
        monkeypatch.setenv(f"DATAFORGE_DATABRICKS_{k}", v)
    rc = main(["--configure", "--profile", "profile.yaml"])
    assert rc == 0
    assert (tmp_path / "profile.yaml").exists()


def test_free_local_checkpoint_frees_blocks(spark):
    """DataFrame.unpersist() does NOT free a local checkpoint's storage
    blocks (round-6 advice — verified no-op); free_local_checkpoint
    unpersists the underlying LogicalRDD rdd, which does."""
    from dataforge_core_spark.session import free_local_checkpoint

    sc = spark.sparkContext

    def rdd_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = rdd_ids()
    df = spark.range(50_000).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    mine = rdd_ids() - before
    assert mine, "localCheckpoint produced no storage blocks"
    df.unpersist(True)
    assert mine <= rdd_ids(), "plain unpersist unexpectedly freed blocks"
    free_local_checkpoint(df)
    assert not (mine & rdd_ids()), "checkpoint blocks not freed"


def test_free_local_checkpoint_ignores_non_checkpoints(spark):
    """A frame whose plan is not a LogicalRDD holds no checkpoint
    blocks: free_local_checkpoint returns quietly and leaves storage
    alone (a persisted frame stays cached).  Anything else that goes
    wrong propagates instead of being swallowed."""
    from dataforge_core_spark.session import free_local_checkpoint

    sc = spark.sparkContext

    def rdd_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    df = spark.range(50_000).selectExpr("id", "id * 2 AS x").persist()
    df.count()
    cached = rdd_ids()
    try:
        free_local_checkpoint(df)
        free_local_checkpoint(spark.range(10).selectExpr("id + 1 AS y"))
        assert rdd_ids() == cached, "a non-checkpoint frame was freed"
    finally:
        df.unpersist(True)
    with pytest.raises(AttributeError):
        free_local_checkpoint("not a frame")


def test_session_key_is_application_id(spark):
    from dataforge_core_spark.session import session_key

    assert session_key(spark) == spark.sparkContext.applicationId
    assert isinstance(session_key(spark), str)


# ---------------------------------------------------------------------------
# Round-9 advisor findings
# ---------------------------------------------------------------------------


def test_get_spark_defaults_fit_the_host(spark, monkeypatch):
    """Without $SPARK_GRAFT_CPUS / $SPARK_DRIVER_MEM, get_spark runs one
    task thread per CPU this process may use and a heap of a quarter of
    physical RAM, clamped to 1g..16g; both variables still win."""
    import os

    from dataforge_core_spark.session import _host_defaults

    cpus, heap = _host_defaults()
    assert spark.sparkContext.master == f"local[{cpus}]"
    assert spark.conf.get("spark.driver.memory") == heap
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    cpus, heap = _host_defaults()
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 16
    assert int(heap[:-1]) == min(16, max(1, int(ram_gb // 4)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "16g")
    assert _host_defaults() == ("32", "16g")


def test_sq8_zero_vector_quantizes_deterministically(spark):
    """An all-zero embedding must quantize to all-zero codes (not NaN ->
    engine-dependent casts): the max-abs divisor is clamped to 1e-30
    (round-9 advice)."""
    import duckdb

    from dataforge_core_spark.operators.similarity import DIM, _sq_exprs

    zeros = ", ".join(["CAST(0.0 AS DOUBLE)"] * DIM)
    max_abs, arr, scale = _sq_exprs("emb", "spark")
    row = spark.sql(
        f"SELECT {arr} AS code, {scale} AS scale_q FROM "
        f"(SELECT emb, {max_abs} AS __m FROM "
        f"(SELECT array({zeros}) AS emb))"
    ).collect()[0]
    assert list(row.code) == [0] * DIM
    assert row.scale_q == 0

    max_abs_d, arr_d, scale_d = _sq_exprs("emb", "duck")
    con = duckdb.connect()
    try:
        code, scale_q = con.sql(
            f"SELECT {arr_d} AS code, {scale_d} AS scale_q FROM "
            f"(SELECT emb, {max_abs_d} AS __m FROM "
            f"(SELECT [{zeros}] AS emb))"
        ).fetchone()
    finally:
        con.close()
    assert list(code) == [0] * DIM
    assert scale_q == 0


def test_tokenizer_null_text_keeps_a_row(spark):
    """NULL text must tokenize identically on both engines (one empty
    token via the shared COALESCE), so _token_base-derived lens never
    silently drop a document the oracle keeps (round-9 advice)."""
    import duckdb

    from dataforge_core_spark.operators.dedup import (
        _DUCK_TOKENS,
        _SPARK_TOKENS,
    )

    rows = spark.sql(
        f"SELECT size({_SPARK_TOKENS}) AS n FROM "
        "(SELECT CAST(NULL AS STRING) AS text "
        " UNION ALL SELECT '' UNION ALL SELECT 'a b')"
    ).collect()
    assert sorted(r.n for r in rows) == [1, 1, 2]

    con = duckdb.connect()
    try:
        got = con.sql(
            f"SELECT len({_DUCK_TOKENS}) AS n FROM "
            "(SELECT CAST(NULL AS VARCHAR) AS text "
            " UNION ALL SELECT '' UNION ALL SELECT 'a b')"
        ).fetchall()
    finally:
        con.close()
    assert sorted(n for (n,) in got) == [1, 1, 2]


def test_text_tokenizer_matches_token_base():
    """text._SPARK_TOK / _DUCK_TOK must stay EXACTLY split(dedup's
    shared normalization): text_entropy / text_bigram_lm serve their
    token streams from dedup's checkpointed token base, which is
    posexplode(split(_SPARK_NORM)) — a drift between the two families'
    normalizations would silently change those lanes' semantics."""
    from dataforge_core_spark.operators import dedup, text

    assert text._SPARK_TOK == f"split({dedup._SPARK_NORM}, ' ')"
    assert text._DUCK_TOK == f"string_split({dedup._DUCK_NORM}, ' ')"
    assert dedup._SPARK_TOKENS == text._SPARK_TOK
    assert dedup._DUCK_TOKENS == text._DUCK_TOK


def test_narrow_session_isolates_shuffle_width(spark):
    """narrow_session pins the narrow width in a SIBLING session's conf
    so it cannot leak into jobs planning concurrently on the main
    session (r13 advice: the session-global shuffle_override made other
    builders' checkpoint partitioning scheduling-dependent), and rebind
    hands frames across the sibling boundary both ways."""
    from dataforge_core_spark.session import narrow_session, rebind

    main_width = spark.conf.get("spark.sql.shuffle.partitions")
    ns = narrow_session(spark, 7)
    # sibling conf pinned; main conf untouched (the whole point)
    assert ns.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == main_width
    # cached per (application, n)
    assert narrow_session(spark, 7) is ns
    assert narrow_session(spark, 5) is not ns

    # a shuffle planned on the sibling materializes at the narrow width
    df = rebind(spark.range(1000).selectExpr("id % 13 AS k", "id"), ns)
    assert df.sparkSession is ns
    agg = df.groupBy("k").count().localCheckpoint(eager=True)
    assert agg.rdd.getNumPartitions() <= 7
    # ...and rebinding the checkpointed result back to the main session
    # yields the same values under the main session's planner
    back = rebind(agg, spark)
    assert back.sparkSession is spark
    assert back.count() == 13
    assert {r["k"] for r in back.collect()} == set(range(13))


# ---------------------------------------------------------------------------
# Round-14 advisor findings
# ---------------------------------------------------------------------------


def test_rebind_drops_its_global_temp_view(spark):
    """rebind() registered one global_temp.rebind_<n> view per call and
    never dropped it (r14 advice): the catalog entries accumulated for
    the application lifetime AND pinned any checkpointed RDD in the
    rebound plan against the ContextCleaner.  Analysis is eager, so the
    view can be dropped the moment target.table() returns — the
    returned frame must keep working afterwards."""
    from dataforge_core_spark.session import narrow_session, rebind

    def global_views():
        return {t.name for t in spark.catalog.listTables("global_temp")}

    ns = narrow_session(spark, 4)
    before = global_views()
    df = spark.range(1000).selectExpr("id", "id % 5 AS k")
    r = rebind(df, ns)
    assert global_views() == before, "rebind leaked a global temp view"
    assert r.count() == 1000, "rebound frame broken after view drop"
    # round-trip back (the _cc_min_label shape) stays leak-free too
    back = rebind(r.groupBy("k").count(), spark)
    assert global_views() == before
    assert back.count() == 5


def test_free_local_checkpoint_frees_rebound_frames(spark):
    """A rebound frame's analyzed plan is SubqueryAlias(...LogicalRDD),
    not a bare LogicalRDD, so free_local_checkpoint's .rdd() call
    raised and silently no-opped (r14 advice) — exactly the shape bench
    clears after _cc_min_label.  It must now unwrap the alias chain and
    free the checkpoint blocks."""
    from dataforge_core_spark.session import (
        free_local_checkpoint,
        narrow_session,
        rebind,
    )

    sc = spark.sparkContext

    def rdd_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    ns = narrow_session(spark, 4)
    before = rdd_ids()
    ck = spark.range(50_000).selectExpr("id", "id * 3 AS x").localCheckpoint(
        eager=True
    )
    mine = rdd_ids() - before
    assert mine, "localCheckpoint produced no storage blocks"
    rebound = rebind(ck, ns)
    assert (
        rebound._jdf.queryExecution().analyzed().getClass().getSimpleName()
        != "LogicalRDD"
    ), "precondition: rebind no longer wraps the plan; test is vacuous"
    free_local_checkpoint(rebound)
    assert not (mine & rdd_ids()), "rebound checkpoint blocks not freed"


def test_cc_builds_leave_catalog_stable(spark):
    """Repeated _cc_min_label distributed builds (the narrow-session +
    rebind hot path) must not accumulate global_temp catalog entries
    (r14 verdict item 3's done criterion)."""
    from dataforge_core_spark.operators.dedup import _cc_min_label
    from dataforge_core_spark.session import free_local_checkpoint

    def global_views():
        return {t.name for t in spark.catalog.listTables("global_temp")}

    pairs = spark.range(60).selectExpr(
        "id AS doc_a", "id + 1 AS doc_b"
    )
    before = global_views()
    for _ in range(3):
        # driver_max_edges=0 forces the distributed rebind path
        labels, _rounds = _cc_min_label(pairs, driver_max_edges=0)
        assert labels.count() == 61
        free_local_checkpoint(labels)
    assert global_views() == before, "CC builds leaked global temp views"


def test_funnel_window_min_rejects_non_int():
    """window_min is interpolated into INTERVAL syntax; a float or bool
    passed the old '< 1' guard and landed verbatim in the SQL with
    engine-dependent parsing (r14 advice) — both must raise."""
    import pytest as _pytest

    from dataforge_core_spark.operators.events import _funnel_sql

    assert "INTERVAL 30 MINUTE" in _funnel_sql(30)
    for bad in (2.5, True, "60"):
        with _pytest.raises(ValueError, match="window_min"):
            _funnel_sql(bad)


def test_bench_stamp_schema_marker():
    """The stamp must self-describe index_build_total_s (sum vs the
    r13 stamps' wall meaning) and carry per-lane start offsets so a
    mid-run load spike can be mapped onto the lanes it hit (r14 advice
    + verdict item 4)."""
    import ast
    import os

    import __spark_entry__ as e

    src = open(
        os.path.join(os.path.dirname(os.path.abspath(e.__file__)), "bench.py")
    ).read()
    assert '"stamp_schema"' in src
    assert '"index_build_total_s": "sum_of_builders"' in src
    assert '"query_phase_started_unix"' in src
    assert '"at_s"' in src
    ast.parse(src)


def test_index_width_sizing():
    """index_width sizes a stored index to its relation: ceil over
    rows_per_part, floor 1 (r15)."""
    from dataforge_core_spark.session import index_width

    assert index_width(0) == 1
    assert index_width(1) == 1
    assert index_width(50_000) == 1
    assert index_width(50_001) == 2
    assert index_width(5_000_000) == 100
    assert index_width(128_000, 32_000) == 4
