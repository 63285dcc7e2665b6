"""Structured Streaming extension tests: the streaming operators must
agree with their batch-oracle counterparts when run over the same finite
input (availableNow trigger -> memory sink)."""

from __future__ import annotations

import pytest


def _run_to_memory(df, name: str, spark):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_windowed_aggregate_matches_batch(spark, sf_dir):
    from dataforge_core_spark.operators.events import events_hourly
    from dataforge_core_spark.streaming import (
        stream_events,
        windowed_aggregate,
    )

    stream = stream_events(spark, sf_dir)
    assert stream.isStreaming
    agg = windowed_aggregate(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("hourly_stream").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_hourly(spark, sf_dir)
        .selectExpr(
            "window_start",
            "event_type",
            "n_events",
            "CAST(total_value AS DECIMAL(22,2)) AS total_value",
        )
        .collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        assert got[k][0] == batch[k][0], k
        assert float(got[k][1]) == float(batch[k][1]), k


def test_stream_source_rule_compilation(spark, sf_dir):
    """A stream source compiles through the same rule engine (stateless
    rules + static lookups) and produces the batch-equivalent rows."""
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.streaming import (
        compile_stream_source,
        stream_events,
    )

    src = parse_source_dict(
        {
            "source_name": "events_stream",
            "source_table": "stream",
            "target_table": "enriched_events_stream",
            "processing_type": "stream",
            "raw_attributes": [
                "event_id long",
                "ts timestamp",
                "user_id long",
                "event_type string",
                "value double",
                "props string",
            ],
            "rules": [
                {
                    "name": "value_bucket",
                    "expression": (
                        "CASE WHEN [This].value >= 100 THEN 'high' "
                        "ELSE 'low' END"
                    ),
                },
                {
                    "name": "prop_k",
                    "expression": (
                        "CAST(get_json_object([This].props, '$.k') AS bigint)"
                    ),
                },
            ],
        }
    )
    project = Project(sources=[src])
    stream = stream_events(spark, sf_dir)
    enriched = compile_stream_source(spark, project, src, stream)
    assert enriched.isStreaming
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("enriched_stream")
    n = rows.count()
    assert n > 0
    assert rows.filter("value_bucket NOT IN ('high','low')").count() == 0
    assert rows.filter("prop_k IS NULL").count() == 0


def test_stream_rejects_stateful_rules(spark):
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project, ProjectError
    from dataforge_core_spark.streaming import validate_stream_rules

    base = {
        "source_name": "s",
        "source_table": "t",
        "target_table": "h",
        "raw_attributes": ["a long"],
    }
    for bad_rule, err in [
        (
            {"name": "w", "expression": "SUM([This].a) OVER (ORDER BY [This].a)"},
            "window",
        ),
        ({"name": "u", "expression": "[This].a + 1", "unique": True}, "unique"),
        (
            {"name": "k", "expression": "[This].a + 1", "keep_current": True},
            "keep_current",
        ),
    ]:
        src = parse_source_dict({**base, "rules": [bad_rule]})
        with pytest.raises(ProjectError):
            validate_stream_rules(Project(sources=[src]), src)


def test_stateful_sessionization(spark, sf_dir):
    """applyInPandasWithState sessionizer over the finite stream
    (use_timeout=False — a ProcessingTimeTimeout query never terminates
    under availableNow): emitted sessions must be EXACTLY the batch
    sessionization minus each user's final (still-open) session."""
    from dataforge_core_spark.operators.events import events_sessionize
    from dataforge_core_spark.streaming import (
        sessionize_stateful,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    sess = sessionize_stateful(stream, use_timeout=False)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "sessionize query did not terminate"
    got_counts = {
        r["user_id"]: r["cnt"]
        for r in spark.table("sessions_stream")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    batch_sessions = (
        events_sessionize(spark, sf_dir)
        .groupBy("user_id")
        .agg({"session_number": "max"})
        .withColumnRenamed("max(session_number)", "n_sessions")
    )
    for r in batch_sessions.collect():
        # closed sessions = all sessions except the final open one
        assert got_counts.get(r["user_id"], 0) == r["n_sessions"] - 1


def test_stream_static_lookup(spark, sf_dir):
    """A stream source with a lookup rule against a static hub — the
    stream-static join path (Spark-native; the static side is built by
    the batch compiler)."""
    from dataforge_core_spark.loader import (
        parse_relations_list,
        parse_source_dict,
    )
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.runner import ProjectRunner
    from dataforge_core_spark.streaming import (
        compile_stream_source,
        stream_events,
    )

    cust = parse_source_dict(
        {
            "source_name": "cust_dim",
            "source_table": f"{sf_dir}/customer.parquet",
            "target_table": "hub_cust_dim",
            "raw_attributes": ["c_custkey long", "c_name string"],
        }
    )
    ev = parse_source_dict(
        {
            "source_name": "ev_stream",
            "source_table": "stream",
            "target_table": "enriched_ev_stream",
            "processing_type": "stream",
            "raw_attributes": [
                "event_id long",
                "ts timestamp",
                "user_id long",
                "event_type string",
                "value double",
                "props string",
            ],
            "rules": [
                {"name": "user_name", "expression": "[cust_dim].c_name"},
            ],
        }
    )
    rels = parse_relations_list(
        [
            {
                "name": "[ev_stream]- user -[cust_dim]",
                "expression": "[This].user_id = [Related].c_custkey",
                "cardinality": "M-1",
            }
        ]
    )
    project = Project(sources=[cust, ev], relations=rels)
    static_hubs = {
        "cust_dim": ProjectRunner(spark, project, persist_hubs=False)
        .build()["cust_dim"]
    }
    stream = stream_events(spark, sf_dir)
    enriched = compile_stream_source(spark, project, ev, stream, static_hubs)
    assert enriched.isStreaming
    q = (
        enriched.writeStream.format("memory")
        .queryName("ev_lookup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("ev_lookup_stream")
    n = rows.count()
    assert n > 0
    # every user_id present in the dim must resolve to its name
    joined = rows.filter("user_name IS NOT NULL").count()
    assert joined > 0


def test_stream_stream_attribution_join(spark, sf_dir):
    """Watermarked stream-stream join must agree with the identical batch
    join over the same finite input (inner join; no late data in a single
    availableNow pass)."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.streaming import (
        attribution_join,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    joined = attribution_join(stream)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("attr_stream")

    from pyspark.sql import types as T

    from dataforge_core_spark.streaming.pipeline import _events_ts_is_nanos

    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    clicks = ev.filter("event_type = 'click'").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    want = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "click_id", "purchase_id", "click_ts",
             "purchase_ts", "value")

    assert want.count() > 0, "fixture produced no click->purchase pairs"
    cols = sorted(want.columns)
    assert sorted(got.columns) == cols
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_kafka_plumbing_gated(spark):
    """Kafka wiring raises a clear error when the external package is
    absent (this container); the availability probe is honest."""
    from dataforge_core_spark.streaming import (
        kafka_available,
        kafka_source,
    )

    if kafka_available(spark):
        pytest.skip("kafka package present; gating not exercised")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_source(spark, "localhost:9092", "events")


def test_stream_events_handles_nanos_parquet(spark, tmp_path):
    """The driver has regenerated events.parquet with different physical
    ts units across rounds (timestamp[ns] in r1-r2, timestamp[us] in r3).
    The file-stream source imposes its schema blindly, so stream_events
    probes the footer: native units read as TimestampType, INT64 nanos
    take the legacy nanosAsLong + truncate path.  Pin both."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataforge_core_spark.streaming import stream_events
    from dataforge_core_spark.streaming.pipeline import _events_ts_is_nanos

    base = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = {
        "event_id": [1, 2],
        "ts": pa.array(
            [base, base + datetime.timedelta(minutes=90)],
            type=pa.timestamp("ns"),
        ),
        "user_id": [10, 10],
        "event_type": ["click", "purchase"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }
    d = tmp_path / "nanos_sf"
    d.mkdir()
    pq.write_table(
        pa.table(rows), str(d / "events.parquet"), version="2.6",
        coerce_timestamps=None,
    )
    assert _events_ts_is_nanos(str(d))
    assert not _events_ts_is_nanos("/root/testdata/sf0.001")

    stream = stream_events(spark, str(d))
    q = (
        stream.writeStream.format("memory")
        .queryName("nanos_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["ts"]) for r in spark.table("nanos_stream").collect()
    )
    assert got == [
        (1, base),
        (2, base + datetime.timedelta(minutes=90)),
    ], "nanos path mangled timestamps (January-1970 regression)"


def test_stream_schema_derived_from_footer(spark, tmp_path):
    """A regenerated events.parquet with different physical column types
    (float32 value, int32 user_id) must stream correctly — the schema is
    derived from the parquet footer, not assumed."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataforge_core_spark.streaming import stream_events

    base = datetime.datetime(2024, 5, 1, 12, 0, 0)
    t = pa.table(
        {
            "event_id": pa.array([1], type=pa.int64()),
            "ts": pa.array([base], type=pa.timestamp("us")),
            "user_id": pa.array([7], type=pa.int32()),
            "event_type": ["click"],
            "value": pa.array([1.5], type=pa.float32()),
            "props": ["{}"],
        }
    )
    d = tmp_path / "variant_sf"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    stream = stream_events(spark, str(d))
    # an unzoned footer timestamp still streams as TIMESTAMP, the type
    # a watermark needs, under Spark's default NTZ inference
    assert dict(stream.dtypes)["ts"] == "timestamp"
    q = (
        stream.writeStream.format("memory")
        .queryName("variant_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.table("variant_stream").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 7 and abs(r["value"] - 1.5) < 1e-6
    assert r["ts"] == base


_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_manager_follows_master(spark, tmp_path):
    """A local session checkpoints through Spark's FileSystem manager;
    any other master keeps Spark's default (FileContext) manager."""
    from dataforge_core_spark.session import checkpoint_manager

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == _FS_MANAGER
    managers = (spark._jvm.org.apache.spark.sql.execution.streaming
                .checkpointing.CheckpointFileManager)
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert managers.create(path, conf).getClass().getName() == _FS_MANAGER
    for master in ("local", "local[4]", "local[*]"):
        assert checkpoint_manager(master) == _FS_MANAGER
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        assert checkpoint_manager(master) is None
    conf.unset(key)
    assert managers.create(path, conf).getClass().getSimpleName() == (
        "FileContextBasedCheckpointFileManager")


def test_checkpoint_restart_counts_each_file_once(spark, tmp_path):
    """A windowed count over a file stream, run to completion with a
    persistent checkpoint, then restarted from that checkpoint after a
    second file arrives: the sink equals the batch count over both
    files, so the offset and commit logs and the state files written
    through the session's checkpoint manager resume exactly."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = datetime.datetime(2024, 5, 1, 12, 0, 0)

    def write(name, minutes, types):
        pq.write_table(pa.table({
            "ts": pa.array([base + datetime.timedelta(minutes=m)
                            for m in minutes], type=pa.timestamp("us")),
            "event_type": types,
        }), str(src / name))

    def counts(df):
        return df.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count("*").alias("n"))

    def run():
        """(sink rows, rows read by this run)"""
        stream = spark.readStream.schema("ts timestamp, event_type string")
        q = (
            counts(stream.parquet(str(src))).writeStream.format("memory")
            .queryName("restart_counts")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        read = sum(p["numInputRows"] for p in q.recentProgress)
        return sorted(spark.table("restart_counts").collect()), read

    def batch():
        return sorted(counts(spark.read.parquet(str(src))).collect())

    write("part-0.parquet", [0, 10, 70], ["click", "click", "view"])
    assert run() == (batch(), 3)
    write("part-1.parquet", [20, 80, 200], ["click", "view", "click"])
    # the restart reads only the new file and adds to the saved state
    got, read = run()
    assert read == 3
    assert got == batch()
    assert sum(r["n"] for r in got) == 6


def test_rocksdb_state_store_option(spark, sf_dir):
    """Spark's own ``spark.sql.streaming.stateStore.providerClass`` set
    to the RocksDB provider runs the streaming driver rows on RocksDB
    state and produces the identical result to the default store."""
    from dataforge_core_spark.operators import streaming_rows as SR

    if not SR.rocksdb_available(spark):
        pytest.skip("RocksDB state store provider not loadable")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base = rows(SR.stream_hourly(spark, sf_dir))
    pkey = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(pkey, None)
    spark.conf.set(pkey, SR._ROCKSDB_PROVIDER)
    try:
        got = rows(SR.stream_hourly(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset(pkey)
        else:
            spark.conf.set(pkey, prev)
    assert got == base


def test_late_data_actually_dropped(spark, sf_dir):
    """stream_late_data's correctness claim is that the replayed first-3-
    days rows are DROPPED at the watermark, not merely absent from the
    output set — assert the engine's own drop metric counted every late
    row (guards against the SPARK-40925 two-watermark lag silently
    letting the late batch into state: late filtering uses the
    PREVIOUS batch's watermark, which is why the replay needs the
    bridge batch between on-time and late files)."""
    import pyarrow.parquet as pq

    from dataforge_core_spark.operators import streaming_rows as SR

    data = SR._late_replay_dir(spark, sf_dir)
    n_late = pq.read_metadata(f"{data}/002_late.parquet").num_rows
    assert n_late > 0
    # the watermark filter sits between the partial (map-side) aggregate
    # and the state store, so the engine counts dropped GROUPS, not rows
    n_late_groups = (
        spark.read.parquet(f"{data}/002_late.parquet")
        .selectExpr("date_trunc('hour', ts) AS h", "event_type")
        .distinct()
        .count()
    )

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(data)
    )
    from pyspark.sql import functions as F

    agg = (
        raw.withWatermark("ts", SR.LATE_WM)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == n_late_groups, (
        f"late batch leaked into state: dropped={dropped}, "
        f"expected {n_late_groups} late groups"
    )


def test_stream_near_dedup_semantics(spark, sf_dir):
    """Semantic guarantees of the streaming near-dedup gate (exact
    relational parity with the definition is covered by its DuckDB
    oracle in tests/test_oracle.py): every new-batch doc is classified
    exactly once, and every doc flagged near_dup has a VERIFIED corpus
    partner (exact Jaccard >= threshold against a doc in the stored
    band index) — re-derived here through the batch MIN-aggregate
    signature path, so the stream's scalar array-expression signature
    cannot silently diverge from the batch machinery."""
    from dataforge_core_spark.operators.dedup import (
        INCR_MOD,
        INCR_NEW_GE,
        JACCARD_THRESHOLD,
        _ex_df,
        _near_dedup_index,
    )
    from dataforge_core_spark.operators.streaming_rows import (
        stream_near_dedup,
    )

    got = {
        r.doc_id: r.status
        for r in stream_near_dedup(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_ids = {
        r.doc_id
        for r in docs.filter(
            f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}"
        ).collect()
    }
    assert set(got) == new_ids  # total classification, exactly once

    bname, _kname = _near_dedup_index(spark, sf_dir)
    _ex_df(spark, sf_dir).createOrReplaceTempView("nd_ref_ex")
    pairs = spark.sql(
        f"""
        WITH arrs AS (
          SELECT doc_id, sort_array(collect_list(s)) AS hs
          FROM nd_ref_ex GROUP BY doc_id
        )
        SELECT n.doc_id,
               MAX(CASE WHEN
                 CAST(size(array_intersect(n.hs, b.chs)) AS DOUBLE)
                 / (size(n.hs) + size(b.chs)
                    - size(array_intersect(n.hs, b.chs)))
                 >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END) AS has_partner
        FROM (SELECT doc_id, hs FROM arrs
              WHERE doc_id % {INCR_MOD} >= {INCR_NEW_GE}) n
        JOIN {bname} b
        GROUP BY n.doc_id
        """
    ).collect()
    partner = {r.doc_id: r.has_partner for r in pairs}
    for d, s in got.items():
        if s == "near_dup":
            assert partner.get(d) == 1, d


def test_scalar_signature_matches_batch(spark, tmp_path):
    """The stream lane's aggregation-free minhash signature
    (dedup.scalar_sig_exprs: array_min over permuted distinct shingle
    hashes) must equal the batch MIN-aggregate signature
    (_minhash_sig_df) on ADVERSARIAL texts — NULL, empty, whitespace,
    below-shingle-length, heavy repetition, unicode — not just the
    fixture corpus.  Docs with no shingles are absent from the batch
    sig table and must come out all-NULL on the scalar path."""
    import dataforge_core_spark.operators.dedup as D

    texts = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, "a a a a a a a a"),
        (7, "x y z x y z x y z"),
        (8, "Ünïcode tökens ünïcode tökens mixed CASE case"),
        (9, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
    ]
    p = str(tmp_path / "docs")
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(
        p
    )
    import shutil

    d = str(tmp_path / "sf")
    import os

    os.makedirs(d, exist_ok=True)
    shutil.move(p, f"{d}/documents.parquet")

    batch = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(D.MINHASH_N))
        for r in D._minhash_sig_df(spark, d).collect()
    }
    hs_expr, sig_cols = D.scalar_sig_exprs()
    scal = {
        r.doc_id: tuple(r[f"s{i}"] for i in range(D.MINHASH_N))
        for r in spark.sql(
            f"""
            SELECT doc_id, {", ".join(sig_cols)} FROM (
              SELECT doc_id, transform(hs, h -> h % {D._P}) AS hm,
                     size(hs) AS nsh
              FROM (
                SELECT doc_id, {hs_expr} AS hs FROM (
                  SELECT doc_id, {D._SPARK_SHINGLES} AS sh FROM (
                    SELECT doc_id, {D._SPARK_TOKENS} AS tok
                    FROM parquet.`{d}/documents.parquet`
                  )
                )
              )
            ) WHERE nsh > 0
            """
        ).collect()
    }
    assert scal == batch
    # and the no-shingle docs really are the ones the scalar path drops
    assert set(batch) == {5, 6, 7, 8, 9}
