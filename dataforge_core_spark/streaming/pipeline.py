"""Structured Streaming extension.

The reference has no streaming implementation — only guards for a
``processing_type = 'stream'`` source that its importer never sets
(SURVEY.md §2.9: svc_parse_enrichment.sql:105-112 bans keep_current,
unique rules and aggregates on stream sources; the generated query would
go to a ``meta.process`` table core never creates).  This module
implements the *intended* semantics natively:

- a stream source runs the same rule compiler as batch, restricted to the
  reference's constraints (stateless, per-row rules; window/aggregate/
  unique rules rejected with the reference's error conditions)
- lookups against *static* hubs are allowed (stream-static joins are
  Spark-native and scale: the static side is broadcast or shuffled once)
- watermarked tumbling-window aggregation and stateful sessionization are
  provided as explicit streaming operators (Spark-native semantics),
  whose batch equivalents are the oracle-tested queries in
  operators/events.py
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataforge_core_spark.compiler import SourceCompiler
from dataforge_core_spark.model import Project, ProjectError, Source
from dataforge_core_spark.paths import RelationGraph
from dataforge_core_spark.plans.planner import plan_source
from dataforge_core_spark.sources.readers import footer_schema, read_table


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


EVENTS_SCHEMA = _events_schema(T.TimestampType())


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Probe the parquet footer for the physical ts unit.  The driver has
    regenerated events.parquet with different units across rounds
    (timestamp[ns] -> timestamp[us]); a stream source imposes its schema
    blindly, so pick it from the file rather than assuming."""
    try:
        import pyarrow.parquet as pq

        field = pq.read_schema(f"{sf_dir}/events.parquet").field("ts")
        return str(field.type) == "timestamp[ns]"
    except Exception:
        return False


def validate_stream_rules(project: Project, source: Source) -> None:
    """Reference guards for stream sources (svc_parse_enrichment.sql:105-112;
    u_validate_expression_parameters.sql:140-147)."""
    plan = plan_source(project, RelationGraph(project.relations), source)
    for rule in source.rules:
        if rule.keep_current:
            raise ProjectError(
                f"Stream source {source.source_name!r}: keep_current rules "
                f"are not allowed ({rule.name!r})"
            )
        if rule.unique:
            raise ProjectError(
                f"Stream source {source.source_name!r}: unique rules are "
                f"not allowed ({rule.name!r})"
            )
        el = plan.rules[rule.name]
        if el.parsed.window:
            raise ProjectError(
                f"Stream source {source.source_name!r}: window rules are "
                f"not allowed ({rule.name!r})"
            )
        if el.parsed.aggs:
            raise ProjectError(
                f"Stream source {source.source_name!r}: aggregate rules are "
                f"not allowed ({rule.name!r})"
            )


def compile_stream_source(
    spark: SparkSession,
    project: Project,
    source: Source,
    stream: DataFrame,
    static_hubs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """readStream DataFrame -> enriched stream via the batch compiler.

    The rule DAG compiles identically; only stateless constructs pass
    validation, so the resulting plan is a pure map + stream-static joins
    — no state store, unbounded-source safe.
    """
    validate_stream_rules(project, source)
    compiler = SourceCompiler(spark, project)
    return compiler.compile_source(source, stream, static_hubs or {})


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    Native timestamp units (us/ms) read straight into TimestampType; only
    INT64 TIMESTAMP(NANOS) files — which Spark's vectorized reader rejects
    — take the legacy nanosAsLong + truncate-to-micros path (mirrors the
    batch dtype guard at operators/events.py)."""
    # the file stream source wants a directory; glob-filter to the events
    # file inside the sf dir
    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # every column from the footer, so a regenerated float32 `value`
    # or int32 `user_id` reads correctly instead of silently nulling out;
    # timestamps read as TIMESTAMP whatever the NTZ-inference setting,
    # since a watermark needs that type
    footer = footer_schema(spark, f"{sf_dir}/events.parquet")
    schema = T.StructType([
        T.StructField(f.name, T.TimestampType())
        if f.dataType == T.TimestampNTZType() else f
        for f in footer or EVENTS_SCHEMA
    ])
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from the
    footer, or Spark's batch inference where the footer cannot decide —
    a file stream source cannot infer per-batch)."""
    import os

    path = f"{sf_dir}/documents.parquet"
    is_dir = os.path.isdir(path)
    schema = read_table(spark, path).schema
    if is_dir:
        # stream straight off the directory (pathGlobFilter matches
        # FILE names only, so it cannot select a directory-shaped table
        # from its parent)
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (explicit schema
    — a file stream source cannot infer; directory-aware like
    stream_documents)."""
    import os

    sch = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(path):
        return spark.readStream.schema(sch).parquet(path)
    return (
        spark.readStream.schema(sch)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def windowed_aggregate(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate (late data dropped after the
    watermark — the streaming form of operators/events.events_hourly)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join with a bounded time-range condition.

    Both sides carry a watermark and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + within]`` — together these let
    Spark evict join state once the watermark passes the range, so state
    stays O(events-in-window) per key instead of unbounded (the
    requirement for stream-stream joins at 100 TB/day ingest).  Outer
    variants emit unmatched rows only after watermark expiry.
    """
    l = left.alias("l").withWatermark(left_ts, watermark)
    r = right.alias("r").withWatermark(right_ts, watermark)
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {within}"
    )
    return l.join(r, cond, how)


def attribution_join(
    stream: DataFrame, within: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """Click-to-purchase attribution: each purchase joined to the same
    user's clicks in the preceding ``within`` interval — the canonical
    stream-stream join (ad-tech attribution) over the events stream.

    ``how='left_outer'`` keeps unconverted clicks: the engine emits a
    click with NULL purchase columns once the watermark passes the end
    of its join window (click_ts + within) — state-expiry-driven late
    emission, the semantics that make outer stream-stream joins safe at
    scale (state per key stays bounded by the window, and a row is
    emitted exactly once)."""
    clicks = stream.filter("event_type = 'click'").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = stream.filter("event_type = 'purchase'").select(
        F.col("user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"), F.col("value"),
    )
    return stream_stream_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        within=within,
        how=how,
    ).select(
        "l.user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        "value",
    )


# ---------------------------------------------------------------------------
# Kafka plumbing.  The kafka data source lives in the external
# spark-sql-kafka package (not bundled in this container) — the wiring is
# real (value JSON <-> columns, keyed writes, checkpointing) and gated
# behind an availability probe so environments with the package get it
# for free.
# ---------------------------------------------------------------------------


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka data source is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema: T.StructType = EVENTS_SCHEMA,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """readStream from a Kafka topic, JSON value -> typed columns.

    One explicit ``from_json`` parse per record (schema given, never
    inferred — at ingest scale schema inference is both slow and a
    correctness hazard).  Kafka partitions map 1:1 to input partitions;
    downstream shuffles are governed by the query, not the source.
    """
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka data source not on the classpath; add the "
            "spark-sql-kafka-0-10 package to use kafka_source"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("v")
    ).select("v.*")


def kafka_sink(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str | None = None,
):
    """writeStream to Kafka: row -> JSON value (optionally keyed for
    partition affinity).  Returns the started StreamingQuery."""
    if not kafka_available(df.sparkSession):
        raise RuntimeError(
            "Kafka data source not on the classpath; add the "
            "spark-sql-kafka-0-10 package to use kafka_sink"
        )
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return (
        df.select(*cols)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def sessionize_stateful(
    stream: DataFrame, gap_minutes: int = 30, use_timeout: bool = True
) -> DataFrame:
    """Custom stateful operator: per-user session assignment via
    applyInPandasWithState (GroupState timeout closes idle sessions).

    Emits one row per closed session: (user_id, session_start,
    session_end, n_events).  State per user is O(1): current session
    bounds + counter — executor-local, keyed by the shuffle on user_id.

    ``use_timeout=False`` switches to GroupStateTimeout.NoTimeout for
    FINITE availableNow runs: with ProcessingTimeTimeout the micro-batch
    engine keeps scheduling batches to service pending timeouts and the
    query never terminates (observed: availableNow + timeout = hang).
    Without timeouts the finite run emits exactly the sessions closed by
    a later event — deterministic, and each user's final open session
    stays in state (a live deployment keeps the timeout so idle sessions
    flush).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start", T.LongType()),  # micros
            T.StructField("end", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        # Vectorized session split: the per-event Python loop this
        # replaces iterated every event of every group interpreter-side
        # (~100k iterations per micro-batch at sf0.1) — the exact cost
        # class that over-indexes on Python host slowdowns (the r7
        # 1.7 -> 3.8s move).  Gap detection is one np.diff over the
        # group's sorted int64-micros timestamps; segment bounds come
        # from flatnonzero, so per-group Python work is O(sessions),
        # not O(events).  Semantics are loop-identical, including the
        # late-data edge: ``end`` is the LAST PROCESSED event's ts
        # (sorted order), which can move backward past carried state
        # when a batch delivers only earlier events.
        import numpy as np

        (user_id,) = key
        rows = []
        chunks = [pdf["ts"].to_numpy() for pdf in pdfs]
        if chunks:
            ts = np.concatenate(chunks).astype("datetime64[us]")
            ts = ts.astype(np.int64)
            ts.sort()
        else:
            ts = np.empty(0, dtype=np.int64)
        start, end, n = state.get if state.exists else (None, None, 0)
        if ts.size:
            cut = np.flatnonzero(np.diff(ts) > gap_us) + 1
            seg_a = np.concatenate(([0], cut))
            seg_b = np.concatenate((cut, [ts.size]))  # exclusive ends
            s0, e0 = int(ts[seg_a[0]]), int(ts[seg_b[0] - 1])
            k0 = int(seg_b[0] - seg_a[0])
            if start is not None and s0 - end <= gap_us:
                sessions = [(start, e0, n + k0)]
            else:
                if start is not None:
                    rows.append((user_id, start, end, n))
                sessions = [(s0, e0, k0)]
            sessions += [
                (int(ts[a]), int(ts[b - 1]), int(b - a))
                for a, b in zip(seg_a[1:], seg_b[1:])
            ]
            rows.extend(
                (user_id, s, e, c) for s, e, c in sessions[:-1]
            )
            start, end, n = sessions[-1]
        if state.hasTimedOut:
            if start is not None:
                rows.append((user_id, start, end, n))
            state.remove()
        elif start is not None:
            state.update((start, end, n))
            if use_timeout:
                state.setTimeoutDuration(gap_minutes * 60 * 1000)
        out = pd.DataFrame(
            rows, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        if not out.empty:
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        yield out

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
