"""Driver rows for the Structured Streaming extension (SURVEY §2.9).

The reference guards against streaming sources but implements no
streaming execution (svc_parse_source.sql stream checks); this repo adds
a real Structured Streaming path (streaming/pipeline.py).  These rows
run the streaming operators to completion over the finite driver
testdata (availableNow trigger -> memory sink) and return the result as
a batch DataFrame, so the DuckDB oracle can value-compare them exactly
like any batch operator — the streaming analogue of the batch-parity
tests in tests/test_streaming.py, but visible to the round driver.

Determinism notes:
- ``availableNow`` over the single events.parquet file yields one
  micro-batch, so no watermark eviction happens mid-run: the windowed
  aggregate (complete mode) and the inner stream-stream join both emit
  exactly the batch-equivalent result.
- Memory-sink tables are tiny (hour x type groups; attribution pairs,
  371 rows at sf0.1) — collecting them driver-side is safe at any SF;
  at production scale the same plans write to a real sink instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataforge_core_spark.sources.readers import read_table


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_available(spark: SparkSession) -> bool:
    """True if the RocksDB state-store provider (bundled with Spark 4,
    but dependent on a loadable native rocksdbjni) can be used."""
    try:
        spark._jvm.java.lang.Class.forName(_ROCKSDB_PROVIDER)
        spark._jvm.org.rocksdb.RocksDB.loadLibrary()
        return True
    except Exception:
        return False


def _run_to_memory(df: DataFrame, name: str, spark: SparkSession,
                   mode: str, partitions: int = 4) -> DataFrame:
    # State-store partition count is fixed at query start from
    # spark.sql.shuffle.partitions; a finite single-file micro-batch
    # doesn't amortize 32 HDFS-state-store inits, so each driver row
    # sizes its state partitions to its operator and the session conf
    # is restored after.  (A production deployment sizes this to the
    # key cardinality once — it cannot change across restarts of the
    # same checkpoint.)  Measured at sf0.1: the stream-stream joins are
    # dominated by per-store commit fsyncs (fewer partitions win: 4
    # stores/partition/side), while applyInPandasWithState is dominated
    # by Python-worker parallelism (more partitions win).
    # the partitions save/set/restore goes through the session-wide
    # shuffle_override lock (review fix, r13): streaming lanes run
    # sequentially today, but an interleaving with a concurrently held
    # override elsewhere would strand the session at the narrow width
    from dataforge_core_spark.session import shuffle_override

    with shuffle_override(spark, partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False while the query
        # is still running — reading the memory sink then would
        # silently compare a partially-populated table; fail
        # loudly instead
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"streaming query {name!r} did not finish within 300s"
            )
    return spark.table(name)


def _incoming_docs(
    spark: SparkSession, sf_dir: str, batch: bool
) -> DataFrame:
    """The incoming documents of the ingest gates: the "new batch" half
    of the dedup_incremental doc_id split, read as a table in batch
    mode and as a file stream otherwise."""
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.streaming import stream_documents

    src = (
        read_table(spark, f"{sf_dir}/documents.parquet")
        if batch
        else stream_documents(spark, sf_dir)
    )
    return src.where(f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}")


def _gate_result(
    df: DataFrame, name: str, spark: SparkSession, batch: bool
) -> DataFrame:
    """A gate's verdict frame itself in batch mode (the components of
    train_ingest_decision), else its streaming query run to the memory
    sink ``name``."""
    return df if batch else _run_to_memory(df, name, spark, "complete")


def _dup_status(probed: DataFrame) -> DataFrame:
    """Per-doc exact_dup / near_dup / unique from probe rows carrying
    the exf / nearf match flags."""
    return probed.groupBy("doc_id").agg(
        F.expr(
            "CASE WHEN MAX(exf) = 1 THEN 'exact_dup' "
            "WHEN MAX(nearf) = 1 THEN 'near_dup' "
            "ELSE 'unique' END"
        ).alias("status")
    )


def stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate executed on the streaming
    engine (file stream source -> window()/watermark -> memory sink)."""
    from dataforge_core_spark.streaming import (
        stream_events,
        windowed_aggregate,
    )

    agg = windowed_aggregate(stream_events(spark, sf_dir))
    out = _run_to_memory(agg, "drv_stream_hourly", spark, "complete")
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the live event stream scored against a
    batch-computed per-user stats table (mean/stddev from decimal-exact
    sums — the same construction as the batch ``events_anomaly`` row,
    which shares this oracle).

    This is the §2.9 shape the reference's intended semantics allow for
    stream sources — lookups against static hubs — as a driver-checked
    row: the static side is computed once per query start and
    broadcast/hashed against every micro-batch, STATELESS on the stream
    side (no watermark, no state store), so at production scale the
    join cost is per-batch and the static table refreshes on restart.
    """
    from dataforge_core_spark.streaming import stream_events

    read_table(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "stream_anomaly_batch_events"
    )
    stats = spark.sql(
        """
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
               CAST(SUM(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv,
               COUNT(value) AS n
        FROM stream_anomaly_batch_events GROUP BY user_id
        """
    )
    stream = stream_events(spark, sf_dir)
    z = "(value - sv / n) / sqrt((svv - sv * sv / n) / n)"
    joined = (
        stream.join(stats, "user_id")
        .where(
            f"n >= 30 AND (svv - sv * sv / n) / n > 0 AND abs({z}) > 2.5"
        )
        .selectExpr("event_id", "user_id", "value", f"{z} AS z")
    )
    return _run_to_memory(
        joined, "drv_stream_anomaly", spark, "append", partitions=2
    )


# identical to the batch events_anomaly oracle (same thresholds, same
# decimal-exact construction) — the streaming row must reproduce the
# batch result exactly because the stream-static join is stateless
_STREAM_ANOMALY_ORACLE = """
WITH s AS (
  SELECT user_id,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS sv,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))
                       * CAST(value AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS svv,
         COUNT(value) AS n
  FROM events GROUP BY user_id
)
SELECT event_id, e.user_id, value,
       (value - sv / n) / sqrt((svv - sv * sv / n) / n) AS z
FROM events e JOIN s ON e.user_id = s.user_id
WHERE n >= 30
  AND (svv - sv * sv / n) / n > 0
  AND abs((value - sv / n) / sqrt((svv - sv * sv / n) / n)) > 2.5
"""


def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase attribution via a watermarked stream-stream
    join with a bounded time-range condition (state evictable at scale)."""
    from dataforge_core_spark.streaming import (
        attribution_join,
        stream_events,
    )

    joined = attribution_join(stream_events(spark, sf_dir))
    out = _run_to_memory(
        joined, "drv_stream_attribution", spark, "append", partitions=2
    )
    return out.select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        F.col("value").cast("double").alias("value"),
    )


_ATTRIBUTION_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       CAST(p.value AS DOUBLE) AS value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join: unconverted clicks are
    emitted with NULL purchase columns by STATE EXPIRY — the engine
    releases a left row only once the watermark proves no matching
    purchase can still arrive (click_ts + within < watermark).

    Determinism note (what the oracle must express): each side carries
    its own watermark over its filtered sub-stream, and the global
    watermark is their MINIMUM — min(max click ts, max purchase ts) -
    delay.  Clicks younger than (watermark - within) remain in state at
    end-of-stream and are deliberately NOT emitted; a live deployment
    would flush them as later data advances the watermark."""
    from dataforge_core_spark.streaming import (
        attribution_join,
        stream_events,
    )

    joined = attribution_join(
        stream_events(spark, sf_dir), how="left_outer"
    )
    out = _run_to_memory(
        joined, "drv_stream_attribution_outer", spark, "append",
        partitions=2,
    )
    return out.select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        F.col("value").cast("double").alias("value"),
    )


_ATTRIBUTION_OUTER_ORACLE = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts,
         CAST(p.value AS DOUBLE) AS value
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
),
wm AS (
  SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 2 HOUR AS w
)
SELECT * FROM m
UNION ALL
SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
       c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
       CAST(NULL AS DOUBLE) AS value
FROM c, wm
WHERE c.click_ts + INTERVAL 1 HOUR < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (applyInPandasWithState) run to
    completion over the finite stream.

    use_timeout=False: under availableNow a ProcessingTimeTimeout query
    never terminates (the engine keeps scheduling batches to service
    pending timeouts), and without timeouts the output is deterministic —
    exactly the sessions CLOSED by a later event, i.e. every session
    except each user's final one, which is what the oracle expresses."""
    from dataforge_core_spark.streaming import (
        sessionize_stateful,
        stream_events,
    )

    sess = sessionize_stateful(
        stream_events(spark, sf_dir), use_timeout=False
    )
    out = _run_to_memory(
        sess, "drv_stream_sessionize", spark, "append", partitions=16
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1
              ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
  FROM g
),
sess AS (
  SELECT user_id, sn, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, sn
)
SELECT user_id, session_start, session_end, n_events
FROM sess s
WHERE sn < (SELECT MAX(sn) FROM sess m WHERE m.user_id = s.user_id)
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once ingestion dedup: the event stream is
    DUPLICATE-INJECTED (two file sources over the same parquet,
    unioned — the at-least-once delivery every real ingestion pipeline
    must assume), then ``dropDuplicates`` keyed by event_id with a
    watermark bounding the dedup state, then a per-type count.  The
    result equals the distinct-event counts regardless of arrival order
    or duplication factor, which is exactly what the batch oracle
    states.  At scale the dedup state is hash-partitioned by event_id
    and the watermark evicts ids older than the lateness bound — state
    is bounded by the id arrival rate x horizon, not stream length."""
    from dataforge_core_spark.streaming import stream_events

    dup = stream_events(spark, sf_dir).unionByName(
        stream_events(spark, sf_dir)
    )
    deduped = dup.withWatermark("ts", "2 hours").dropDuplicates(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )
    return _run_to_memory(agg, "drv_stream_dedup", spark, "complete")


_STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Watermark late-data semantics, driver-checked: the event stream is
# replayed as TWO ordered files — everything after day 3 arrives first
# (advancing the watermark to max(on-time ts) - 2h), then the first
# 3 days arrive LATE, entirely behind the watermark.  In append mode
# the engine (a) drops every late row before it reaches window state
# and (b) finalizes exactly the windows whose end <= the watermark —
# so the emitted result equals the on-time subset's hourly counts
# bounded by the watermark, which is what the oracle states.  If late
# rows leaked into state, the early windows' counts would include them
# and the hash would break: the oracle verifies the DROP by exclusion.
#
# Determinism: maxFilesPerTrigger=1 forces one batch per file; the file
# source orders by (modification time, path), and both are explicitly
# set.  The late file never advances max event time, so the trailing
# no-data batch re-derives the same watermark and emits nothing new.
# At scale this lane is the correctness contract of every windowed
# streaming job: state stays bounded by the lateness horizon and
# results are reproducible regardless of arrival interleaving.
# ---------------------------------------------------------------------------

LATE_SPLIT_DAYS = 3
LATE_WM = "2 hours"


def _late_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf) the ordered THREE-file replay of the events
    table: 000_body (on-time up to max-2h), 001_bridge (the final 2h of
    on-time data), 002_late (the first 3 days).  Timestamps normalized
    to microseconds.

    Three files because the engine runs TWO watermarks per batch
    (SPARK-40925): late-event filtering uses the watermark as of the
    PREVIOUS batch's planning, eviction/emission the current one — so a
    late file arriving in batch 1 would be filtered against the initial
    watermark (0) and leak into state.  With the bridge batch between,
    the late batch is filtered against max(body)-2h and every late row
    is genuinely dropped (assert-checked by tests via
    numRowsDroppedByWatermark)."""
    import hashlib
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    ident = f"{sf_dir}:{st.st_size}:{st.st_mtime_ns}"
    tag = hashlib.md5(ident.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"dfspark_late_{tag}")
    data = os.path.join(base, "data")
    if not os.path.isdir(data):
        # build in a process-private staging dir and publish with ONE
        # atomic rename: concurrent builders (bench + pytest share this
        # box) each stage privately and exactly one rename wins — a
        # reader can never observe half-written parquet
        stage = os.path.join(base, f"stage_{os.getpid()}")
        os.makedirs(stage, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        ts = t["ts"].combine_chunks().cast(pa.timestamp("us"))
        t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
        lo = pc.min(ts).cast(pa.int64()).as_py()
        hi = pc.max(ts).cast(pa.int64()).as_py()
        cut = pa.scalar(
            lo + LATE_SPLIT_DAYS * 86_400_000_000, pa.timestamp("us")
        )
        bridge_cut = pa.scalar(hi - 7_200_000_000, pa.timestamp("us"))
        parts = [
            ("000_body.parquet",
             pc.and_(pc.greater_equal(ts, cut), pc.less(ts, bridge_cut))),
            ("001_bridge.parquet", pc.greater_equal(ts, bridge_cut)),
            ("002_late.parquet", pc.less(ts, cut)),
        ]
        for i, (name, mask) in enumerate(parts):
            part = t.filter(mask)
            assert part.num_rows > 0, f"late-replay split {name} is empty"
            path = os.path.join(stage, name)
            pq.write_table(part, path)
            os.utime(path, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))
        try:
            os.rename(stage, data)
        except OSError:  # another builder won the publish race
            import shutil

            shutil.rmtree(stage, ignore_errors=True)
    return data


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode hourly counts with the first 3 days replayed late —
    every late row must be dropped at the watermark."""
    data = _late_replay_dir(spark, sf_dir)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(data)
    )
    agg = (
        raw.withWatermark("ts", LATE_WM)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_memory(agg, "drv_stream_late", spark, "append")


_LATE_ORACLE = f"""
WITH b AS (
  SELECT * FROM events
  WHERE ts >= (SELECT MIN(CAST(ts AS TIMESTAMP)) FROM events)
              + INTERVAL {LATE_SPLIT_DAYS} DAY
),
wm AS (
  SELECT date_trunc('millisecond', MAX(CAST(ts AS TIMESTAMP)))
         - INTERVAL 2 HOUR AS w
  FROM b
)
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type, COUNT(*) AS n_events
FROM b, wm
WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR <= wm.w
GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
"""


# ---------------------------------------------------------------------------
# Streaming trending top-K: complete-mode windowed counts on the engine,
# then a per-window rank over the sink — the lambda-free "trending now"
# architecture (the stream maintains the counts; the serving layer ranks
# its materialized view per request).  Counts and ranks are exact
# integers; the rank window lowers to WindowGroupLimit over the
# (windows x types)-sized sink table.
# ---------------------------------------------------------------------------

TREND_TOP_K = 3


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K event types per hour window from the streamed counts."""
    from dataforge_core_spark.streaming import stream_events

    agg = (
        stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    # one state partition: the state is (hour window x event type),
    # 3,385 rows at sf0.01, and the HDFS-backed stores' commits took
    # 42-51 ms at four partitions against 4-13 ms for one (warm, local[4])
    counts = _run_to_memory(agg, "drv_stream_topk", spark, "complete", 1)
    return counts.selectExpr(
        "window.start AS window_start", "event_type", "n_events"
    ).selectExpr(
        "*",
        f"""CAST(ROW_NUMBER() OVER (PARTITION BY window_start
             ORDER BY n_events DESC, event_type) AS INT) AS rank""",
    ).where(f"rank <= {TREND_TOP_K}")


_STREAM_TOPK_ORACLE = f"""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY date_trunc('hour', ts), event_type
)
SELECT window_start, event_type, n_events, rank FROM (
  SELECT window_start, event_type, n_events,
         CAST(ROW_NUMBER() OVER (PARTITION BY window_start
              ORDER BY n_events DESC, event_type) AS INTEGER) AS rank
  FROM c
) t WHERE rank <= {TREND_TOP_K}
"""


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest funnel — the cleaning pipeline run ON the
    streaming engine end to end: a duplicate-injected document stream
    (two file sources over the same parquet, unioned — the
    at-least-once delivery a real ingest must assume) is deduped
    exactly-once by doc_id, the Gopher rule battery rides the stream as
    the SAME scan-side integer expressions the batch lane uses
    (text._gopher_feats — one source of truth), and per-source funnel
    stats aggregate in complete mode.  The result equals the batch
    funnel regardless of arrival order or duplication factor, which is
    what the oracle states.

    Scale note: dedup state here is keyed by doc_id with no watermark
    (the table has no event-time column); a production ingest bounds it
    with dropDuplicatesWithinWatermark on the ingest timestamp — the
    exact pattern stream_dedup demonstrates on the events stream."""
    from dataforge_core_spark.operators.text import (
        GOPHER_PASS_EXPR,
        _gopher_feats,
    )
    from dataforge_core_spark.streaming import stream_documents

    feats, norm, tok = _gopher_feats("spark")
    dup = stream_documents(spark, sf_dir).unionByName(
        stream_documents(spark, sf_dir)
    )
    f = (
        dup.dropDuplicates(["doc_id"])
        .selectExpr(
            "doc_id", "source", "text", f"{norm} AS nrm", f"{tok} AS tok"
        )
        .selectExpr("doc_id", "source", *feats)
    )
    agg = (
        f.selectExpr(
            "source",
            "n_tokens",
            f"CASE WHEN {GOPHER_PASS_EXPR} THEN 1 ELSE 0 END AS keep",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("keep").cast("bigint").alias("n_keep"),
            F.sum(F.expr("CASE WHEN keep = 1 THEN n_tokens ELSE 0 END"))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )
    return _run_to_memory(agg, "drv_stream_corpus_ingest", spark, "complete")


def stream_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming percentile monitoring: the DDSketch-style log-bucket
    histogram (operators/sketches.sketch_dd_quantiles — libm-free
    bit-length bucketing) maintained INCREMENTALLY in stream state.

    The watermarked per-(hour, type, bucket) count aggregate IS the
    sketch merge: bucket counts add across micro-batches exactly like
    per-partition sketches add at batch scale (the mergeability the
    invariant test pins), so the streaming state holds n_types x ~300
    bounded counters per window, never raw values — the shape that
    survives any event rate.  Quantiles (p50/p90/p99 bucket lower
    bounds in milli-units — the same picks as the batch
    sketch_dd_quantiles lane, so the two are a direct parity pair) are
    read off the tiny materialized histograms at query time, the
    standard sketch-serving split."""
    from dataforge_core_spark.operators.sketches import HIST_S
    from dataforge_core_spark.streaming import stream_events

    s = HIST_S
    base = 1 << s
    w = (
        f"SHIFTLEFT(CAST(1 AS BIGINT), GREATEST(msb - {s}, 0))"
    )
    ev = stream_events(spark, sf_dir)
    bkt = (
        ev.filter("value IS NOT NULL AND value >= 0")
        .selectExpr(
            "ts",
            "event_type",
            "CAST(FLOOR(value * 1000) AS BIGINT) AS m",
        )
        .selectExpr("ts", "event_type", "m", "LENGTH(bin(m)) AS msb")
        .selectExpr(
            "ts",
            "event_type",
            f"msb * {base} + m DIV {w} AS id",
            f"(m DIV {w}) * {w} AS lo",
        )
    )
    hist = (
        bkt.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type", "id")
        .agg(F.count("*").alias("cnt"), F.min("lo").alias("lo"))
    )
    out = _run_to_memory(hist, "drv_stream_ddq", spark, "complete")
    out.createOrReplaceTempView("drv_stream_ddq_hist")
    picks = ", ".join(
        f"MIN(CASE WHEN cum >= 1 + ({q} * (n - 1)) DIV 100 THEN lo END)"
        f" AS est_p{q}_milli"
        for q in (50, 90, 99)
    )
    return spark.sql(
        f"""
        WITH h AS (
          SELECT win.start AS window_start, event_type, id, lo, cnt
          FROM drv_stream_ddq_hist
        ),
        r AS (
          SELECT window_start, event_type, lo, cnt,
                 SUM(cnt) OVER (PARTITION BY window_start, event_type
                                ORDER BY id) AS cum,
                 SUM(cnt) OVER (PARTITION BY window_start, event_type)
                   AS n
          FROM h
        )
        SELECT window_start, event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               {picks}
        FROM r GROUP BY window_start, event_type
        """
    )


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality monitoring — distinct users per (hour,
    event type) estimated by the HyperLogLog registers maintained
    INCREMENTALLY in stream state (the HLL twin of
    stream_dd_quantiles): the watermarked per-(hour, type, bucket) MAX
    aggregate IS the register merge (register-wise MAX is exactly how
    per-micro-batch sketches combine — the mergeability
    tests/test_sketch_properties.py pins at batch scale), so state
    holds n_types x <= 256 bounded registers per window, never user
    sets — the shape that survives any event rate.  Estimates (the
    sketches.py integer-exact estimator: exact long division, Q14
    alpha, qlog2 linear-counting) are read off the tiny materialized
    register tables at query time; exact counts ride along from the
    same registers' scope for the error signal... (exact is computed
    by the ORACLE only — the stream side never holds user sets)."""
    from dataforge_core_spark.operators.sketches import (
        _HLL_RMAX,
        _HLL_W,
        HLL_M,
        _hll_est_expr,
        _hll_pw_expr,
        _hll_qrem_cols,
        _hll_rho_expr,
    )
    from dataforge_core_spark.streaming import stream_events

    ev = stream_events(spark, sf_dir)
    bkt = (
        ev.selectExpr(
            "ts",
            "event_type",
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 14),"
            " 16, 10) AS BIGINT) AS h",
        )
        .selectExpr(
            "ts",
            "event_type",
            f"h DIV {_HLL_W} AS bucket",
            f"h % {_HLL_W} AS w",
        )
        .selectExpr(
            "ts", "event_type", "bucket", f"{_hll_rho_expr('spark')} AS r"
        )
    )
    regs = (
        bkt.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type", "bucket"
        )
        .agg(F.max("r").alias("r"))
    )
    out = _run_to_memory(regs, "drv_stream_hll", spark, "complete")
    out.createOrReplaceTempView("drv_stream_hll_regs")
    pw = _hll_pw_expr("spark")
    return spark.sql(
        f"""
        WITH scoped AS (
          SELECT window_start, event_type, v_zero, sints,
                 {_hll_qrem_cols("spark")}
          FROM (
            SELECT win.start AS window_start, event_type,
                   CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
                   CAST(SUM({pw}) AS BIGINT)
                     + ({HLL_M} - COUNT(*)) * {1 << _HLL_RMAX} AS sints
            FROM drv_stream_hll_regs
            GROUP BY win.start, event_type
          ) base
        )
        SELECT window_start, event_type, v_zero,
               CAST({_hll_est_expr("spark")} AS BIGINT) AS est_users
        FROM scoped
        """
    )


def _stream_hll_oracle() -> str:
    from dataforge_core_spark.operators.sketches import (
        _HLL_RMAX,
        _HLL_W,
        HLL_M,
        _hll_est_expr,
        _hll_pw_expr,
        _hll_qrem_cols,
        _hll_rho_expr,
    )

    return f"""
WITH bkt AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         h // {_HLL_W} AS bucket, h % {_HLL_W} AS w
  FROM (
    SELECT ts, event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
             AS h
    FROM events
  ) t
),
regs AS (
  SELECT window_start, event_type, bucket,
         MAX({_hll_rho_expr("duck")}) AS r
  FROM bkt
  GROUP BY window_start, event_type, bucket
),
scoped AS (
  SELECT window_start, event_type, v_zero, sints,
         {_hll_qrem_cols("duck")}
  FROM (
    SELECT window_start, event_type,
           CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
           CAST(SUM({_hll_pw_expr("duck")}) AS BIGINT)
             + ({HLL_M} - COUNT(*)) * {1 << _HLL_RMAX} AS sints
    FROM regs GROUP BY window_start, event_type
  ) base
)
SELECT window_start, event_type, v_zero,
       CAST({_hll_est_expr("duck")} AS BIGINT) AS est_users
FROM scoped
"""


def _stream_dd_oracle() -> str:
    from dataforge_core_spark.operators.sketches import HIST_S

    s = HIST_S
    base = 1 << s
    w = f"(CAST(1 AS BIGINT) << (GREATEST(msb - {s}, 0)))"
    picks = ", ".join(
        f"MIN(CASE WHEN cum >= 1 + ({q} * (n - 1)) // 100 THEN lo END)"
        f" AS est_p{q}_milli"
        for q in (50, 90, 99)
    )
    return f"""
WITH ev AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(FLOOR(value * 1000) AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL AND value >= 0
),
ids AS (SELECT window_start, event_type, m, LENGTH(bin(m)) AS msb FROM ev),
bkt AS MATERIALIZED (
  SELECT window_start, event_type,
         msb * {base} + m // {w} AS id,
         (m // {w}) * {w} AS lo
  FROM ids
),
h AS MATERIALIZED (
  SELECT window_start, event_type, id, MIN(lo) AS lo,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bkt GROUP BY window_start, event_type, id
),
r AS (
  SELECT window_start, event_type, lo, cnt,
         SUM(cnt) OVER (PARTITION BY window_start, event_type
                        ORDER BY id) AS cum,
         SUM(cnt) OVER (PARTITION BY window_start, event_type) AS n
  FROM h
)
SELECT window_start, event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       {picks}
FROM r GROUP BY window_start, event_type
"""


def _corpus_ingest_oracle() -> str:
    from dataforge_core_spark.operators.text import _gopher_sql

    return f"""
WITH g AS ({_gopher_sql('duck')})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       CAST(SUM(CASE WHEN g.gopher_pass THEN g.n_tokens ELSE 0 END)
            AS BIGINT) AS kept_tokens
FROM g JOIN documents d ON g.doc_id = d.doc_id
GROUP BY d.source
"""


def stream_near_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float | None = None,
    batch: bool = False,
) -> DataFrame:
    """Streaming content-based near-dedup gate: an incoming document
    stream (the same doc_id % INCR_MOD >= INCR_NEW_GE "new batch" split
    as the batch dedup_incremental lane) is classified
    exact_dup / near_dup / unique against the STORED corpus index by a
    stream-static join — the continuous-ingest shape of a training
    pipeline: the corpus index is built once by the batch pipeline
    (dedup._near_dedup_index: banded minhash rows carrying each corpus
    doc's sorted shingle-hash array, plus the exact-key set), and each
    micro-batch probes it with NO stateful operator except the final
    per-doc aggregation.

    The stream computes its minhash signature with SCALAR array
    expressions (array_min over the permuted distinct shingle hashes —
    value-identical to the batch MIN-aggregate signature, same
    multiset) because a streaming query can hold at most one stateful
    aggregation: the signature must not be one.  Candidate = any shared
    band (corpus side bucket-capped); verification = exact Jaccard of
    the two shingle-hash arrays evaluated in place on the joined row
    (array_intersect — no second join).  Empty-shingle docs (< 3
    tokens) probe a NULL sentinel band that can never match and are
    classified by the exact key alone, like the batch lane."""
    from dataforge_core_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        MINHASH_BANDS,
        MINHASH_R,
        _band_keys,
        _near_dedup_index,
        _P,
        _SPARK_NORM,
        _SPARK_SHINGLES,
        _SPARK_TOKENS,
        scalar_sig_exprs,
    )

    thr = JACCARD_THRESHOLD if threshold is None else threshold
    bname, kname = _near_dedup_index(spark, sf_dir)
    hs_expr, sig_cols = scalar_sig_exprs()
    bk_arr = "array(" + ", ".join(_band_keys(MINHASH_BANDS, MINHASH_R)) + ")"
    new = (
        _incoming_docs(spark, sf_dir, batch)
        .selectExpr(
            "doc_id", f"md5({_SPARK_NORM}) AS k", f"{_SPARK_TOKENS} AS tok"
        )
        .selectExpr("doc_id", "k", f"{_SPARK_SHINGLES} AS sh")
        .selectExpr("doc_id", "k", f"{hs_expr} AS hs")
        .selectExpr(
            "doc_id", "k", "hs", f"transform(hs, h -> h % {_P}) AS hm"
        )
        .selectExpr("doc_id", "k", "hs", *sig_cols)
        .selectExpr(
            "doc_id",
            "k",
            "hs",
            f"""explode(CASE WHEN size(hs) >= 1 THEN {bk_arr}
                 ELSE array(CAST(NULL AS STRING)) END) AS band_key""",
        )
    )
    probed = (
        new.join(
            spark.table(kname), F.expr(f"k = ck"), "left"
        )
        .join(spark.table(bname).withColumnRenamed("doc_id", "cdoc"),
              "band_key", "left")
        .selectExpr(
            "doc_id",
            "CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END AS exf",
            f"""CASE WHEN cdoc IS NOT NULL
                  AND CAST(size(array_intersect(hs, chs)) AS DOUBLE)
                      / (size(hs) + size(chs)
                         - size(array_intersect(hs, chs)))
                      >= {thr}
                THEN 1 ELSE 0 END AS nearf""",
        )
    )
    return _gate_result(
        _dup_status(probed), "drv_stream_near_dedup", spark, batch
    )


def stream_phash_gate(
    spark: SparkSession, sf_dir: str, batch: bool = False
) -> DataFrame:
    """Streaming IMAGE near-dedup gate — the multimodal sibling of
    stream_near_dedup: incoming images (the dedup_incremental doc_id
    split) are dHashed per micro-batch by the same fused Arrow
    synth+hash pass the batch lanes use (mapInPandas is stateless, so
    it streams), then probe the STORED corpus band index
    (multimodal._phash_probe_stored) via a stream-static join and are
    classified exact_dup (hamming 0) / near_dup (<= PHASH_HAMMING_MAX)
    / unique.  No stateful operator except the final per-doc aggregate
    — the continuous-ingest shape of an image-corpus pipeline, with
    the index built once by the batch side."""
    from dataforge_core_spark.operators.multimodal import PHASH

    return _hash_gate(spark, sf_dir, PHASH, batch)


def _hash_gate(
    spark: SparkSession, sf_dir: str, fam, batch: bool
) -> DataFrame:
    """The media ingest gate of one multimodal.HashFamily: hash the
    incoming documents with the family's fused Arrow stage, probe its
    stored corpus band index on every band, verify by popcount."""
    c, cc = fam.col, f"c{fam.col}"
    idx = fam.probe(spark, sf_dir)[0]
    new = (
        _incoming_docs(spark, sf_dir, batch)
        .selectExpr("doc_id")
        .mapInPandas(fam.hash_fn(), f"doc_id bigint, {c} bigint")
        .selectExpr(
            "doc_id", c,
            f"posexplode(array({fam.blocks()})) AS (bno, blk)",
        )
    )
    probed = new.join(spark.table(idx), ["bno", "blk"], "left").selectExpr(
        "doc_id",
        f"CASE WHEN {cc} IS NOT NULL"
        f" AND bit_count({c} ^ {cc}) = 0 THEN 1 ELSE 0 END AS exf",
        f"CASE WHEN {cc} IS NOT NULL"
        f" AND bit_count({c} ^ {cc}) <= {fam.ham_max}"
        " THEN 1 ELSE 0 END AS nearf",
    )
    return _gate_result(
        _dup_status(probed), f"drv_stream_{c}_gate", spark, batch
    )


def _phash_gate_oracle() -> str:
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.multimodal import (
        _PHASH_BAND_BITS,
        _PHASH_BAND_MASK,
        _phash_h_ctes,
        MAX_PHASH_BUCKET,
        PHASH_BANDS,
        PHASH_HAMMING_MAX,
    )

    corp = f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    new = f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}"
    return f"""
WITH {_phash_h_ctes()},
bands AS MATERIALIZED (
  SELECT doc_id, phash, i AS bno,
         (phash >> ({_PHASH_BAND_BITS} * i)) & {_PHASH_BAND_MASK} AS blk
  FROM h, unnest(generate_series(0, {PHASH_BANDS - 1})) AS u(i)
),
corpb AS MATERIALIZED (
  SELECT bno, blk, cphash FROM (
    SELECT bno, blk, phash AS cphash,
           ROW_NUMBER() OVER (PARTITION BY bno, blk
                ORDER BY doc_id) AS rn
    FROM bands WHERE {corp}
  ) t WHERE rn <= {MAX_PHASH_BUCKET}
)
SELECT n.doc_id,
       CASE WHEN MAX(CASE WHEN c.cphash IS NOT NULL
                 AND bit_count(xor(n.phash, c.cphash)) = 0
                 THEN 1 ELSE 0 END) = 1 THEN 'exact_dup'
            WHEN MAX(CASE WHEN c.cphash IS NOT NULL
                 AND bit_count(xor(n.phash, c.cphash))
                     <= {PHASH_HAMMING_MAX}
                 THEN 1 ELSE 0 END) = 1 THEN 'near_dup'
            ELSE 'unique' END AS status
FROM bands n LEFT JOIN corpb c ON n.bno = c.bno AND n.blk = c.blk
WHERE n.{new}
GROUP BY n.doc_id
"""


def stream_afp_gate(
    spark: SparkSession, sf_dir: str, batch: bool = False
) -> DataFrame:
    """Streaming AUDIO near-dedup gate — the acoustic member of the
    gate family (text minhash, image phash, LM perplexity, semantic
    embedding, now audio fingerprint): incoming tracks (the
    dedup_incremental doc_id split) are fingerprinted per micro-batch
    by the same fused Arrow synth+parse pass the batch lanes use
    (mapInPandas is stateless, so it streams), then probe the STORED
    corpus band index (multimodal._afp_probe_stored) via a
    stream-static join and are classified exact_dup (hamming 0) /
    near_dup (<= AFP_HAMMING_MAX) / unique.  No stateful operator
    except the final per-doc aggregate."""
    from dataforge_core_spark.operators.multimodal import AFP

    return _hash_gate(spark, sf_dir, AFP, batch)


def _afp_gate_oracle() -> str:
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.multimodal import (
        _AFP_BAND_BITS,
        _afp_h_ctes,
        AFP_BANDS,
        AFP_HAMMING_MAX,
        MAX_AFP_BUCKET,
    )

    mask = (1 << _AFP_BAND_BITS) - 1
    corp = f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    new = f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}"
    return f"""
WITH {_afp_h_ctes()},
bands AS MATERIALIZED (
  SELECT doc_id, afp, i AS bno,
         (afp >> ({_AFP_BAND_BITS} * i)) & {mask} AS blk
  FROM h, unnest(generate_series(0, {AFP_BANDS - 1})) AS s(i)
),
corpb AS MATERIALIZED (
  SELECT bno, blk, cafp FROM (
    SELECT bno, blk, afp AS cafp,
           ROW_NUMBER() OVER (PARTITION BY bno, blk
                ORDER BY doc_id) AS rn
    FROM bands WHERE {corp}
  ) t WHERE rn <= {MAX_AFP_BUCKET}
)
SELECT n.doc_id,
       CASE WHEN MAX(CASE WHEN c.cafp IS NOT NULL
                 AND bit_count(xor(n.afp, c.cafp)) = 0
                 THEN 1 ELSE 0 END) = 1 THEN 'exact_dup'
            WHEN MAX(CASE WHEN c.cafp IS NOT NULL
                 AND bit_count(xor(n.afp, c.cafp))
                     <= {AFP_HAMMING_MAX}
                 THEN 1 ELSE 0 END) = 1 THEN 'near_dup'
            ELSE 'unique' END AS status
FROM bands n LEFT JOIN corpb c ON n.bno = c.bno AND n.blk = c.blk
WHERE n.{new}
GROUP BY n.doc_id
"""


def stream_ppl_gate(
    spark: SparkSession, sf_dir: str, batch: bool = False
) -> DataFrame:
    """Streaming LM quality gate — CCNet's ingest architecture: the
    bigram model, smoothing denominators, vocabulary fallback and keep
    threshold are all built ONCE from the corpus split and stored
    (text._ppl_model); each incoming document is scored per micro-batch
    by two stream-static LEFT joins (seen-bigram score; else the
    add-one fallback from the w1 denominator; else the unseen-w1
    vocabulary fallback — all exact quantized-log integers) and gated
    at the stored threshold.  The only stateful operator is the final
    per-doc aggregate.  Model-based sibling of the rule-based
    stream_corpus_ingest gate.

    Gate policy note: documents with fewer than 2 tokens produce no
    bigrams and are filtered BEFORE the explode, so they emit no row at
    all — the gate neither keeps nor drops them (a deployment wraps
    this with an explicit ungated-passthrough channel if short docs
    must be classified).  The oracle mirrors the same exclusion, so
    parity covers exactly the gated population."""
    from dataforge_core_spark.operators.dedup import _SPARK_TOKENS
    from dataforge_core_spark.operators.text import _ppl_model

    mname, uname, ql_v, thr = _ppl_model(spark, sf_dir)
    bg = (
        _incoming_docs(spark, sf_dir, batch)
        .selectExpr("doc_id", f"{_SPARK_TOKENS} AS tok")
        .where("size(tok) >= 2")
        .selectExpr(
            "doc_id",
            "tok",
            "explode(sequence(1, size(tok) - 1)) AS i",
        )
        .selectExpr(
            "doc_id",
            "element_at(tok, i) AS w1",
            "element_at(tok, i + 1) AS w2",
        )
    )
    scored = (
        bg.join(spark.table(mname), ["w1", "w2"], "left")
        .join(spark.table(uname), ["w1"], "left")
        .selectExpr(
            "doc_id",
            f"COALESCE(s, 0 - COALESCE(ql_cuv, {ql_v})) AS s_eff",
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_bigrams"),
        F.expr(
            "CAST((-SUM(s_eff)) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_nll_q"),
    )
    out = agg.selectExpr(
        "doc_id", "n_bigrams", "mean_nll_q",
        f"mean_nll_q <= {thr} AS ppl_keep",
    )
    return _gate_result(out, "drv_stream_ppl_gate", spark, batch)


def _ppl_gate_oracle() -> str:
    from dataforge_core_spark.operators.dedup import (
        _DUCK_TOKENS,
        INCR_MOD,
        INCR_NEW_GE,
    )
    from dataforge_core_spark.operators.text import _qlog2, PPL_KEEP_PCT

    ql = lambda e: _qlog2("duck", e)  # noqa: E731
    corp = f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    new = f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}"
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents),
bgall AS (
  SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(tok) - 1)) AS s(i)
  WHERE len(tok) >= 2
),
bgc AS MATERIALIZED (SELECT * FROM bgall WHERE {corp}),
cnt AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c FROM bgc
                     GROUP BY w1, w2),
vv AS MATERIALIZED (SELECT COUNT(DISTINCT w2) AS v FROM cnt),
uni AS MATERIALIZED (
  SELECT w1, COUNT(*) + (SELECT v FROM vv) AS cuv FROM bgc GROUP BY w1
),
model AS MATERIALIZED (
  SELECT c.w1, c.w2,
         CAST({ql('c.c + 1')} - {ql('u.cuv')} AS BIGINT) AS s
  FROM cnt c JOIN uni u ON c.w1 = u.w1
),
dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bgc
        GROUP BY doc_id, w1, w2),
mcorp AS (
  SELECT d.doc_id,
         (-CAST(SUM(d.k * m.s) AS BIGINT)) // CAST(SUM(d.k) AS BIGINT)
           AS mean_nll_q
  FROM dbg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
  GROUP BY d.doc_id
),
vals AS (SELECT mean_nll_q AS v, COUNT(*) AS c FROM mcorp
         GROUP BY mean_nll_q),
cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cumc,
               SUM(c) OVER () AS n FROM vals),
thr AS (SELECT MIN(v) AS tt FROM cum
        WHERE cumc >= 1 + ({PPL_KEEP_PCT} * (n - 1)) // 100),
sc AS (
  SELECT n.doc_id,
         COALESCE(m.s,
                  0 - COALESCE(u.ql_cuv, (SELECT CAST({ql('v')} AS BIGINT)
                                          FROM vv))) AS s_eff
  FROM (SELECT * FROM bgall WHERE {new}) n
  LEFT JOIN model m ON n.w1 = m.w1 AND n.w2 = m.w2
  LEFT JOIN (SELECT w1, CAST({ql('cuv')} AS BIGINT) AS ql_cuv
             FROM uni) u ON n.w1 = u.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST((-SUM(s_eff)) // COUNT(*) AS BIGINT) AS mean_nll_q,
       CAST((-SUM(s_eff)) // COUNT(*) AS BIGINT)
         <= (SELECT tt FROM thr) AS ppl_keep
FROM sc GROUP BY doc_id
"""


def _incoming_emb_probe(
    spark: SparkSession, sf_dir: str, nprobe: int, batch: bool
):
    """Shared prologue of the embedding-fed streaming lanes (semantic
    gate, ANN top-K serving): the incoming-split embeddings double-cast
    + normed + similarity's sorted-centroid literal probe
    (``_probed_cells``), exploded to one row per (vec_id, probed cid).
    ONE definition so the cast/norm/probe expressions cannot diverge
    between lanes (r12 review fix)."""
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.similarity import (
        _norm,
        _probed_cells,
    )
    from dataforge_core_spark.streaming import stream_embeddings

    src = (
        read_table(spark, f"{sf_dir}/embeddings.parquet")
        if batch
        else stream_embeddings(spark, sf_dir)
    )
    normed = (
        src
        .where(f"vec_id % {INCR_MOD} >= {INCR_NEW_GE}")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS emb")
        .selectExpr("vec_id", "emb", f"{_norm('emb', 'spark')} AS nrm")
    )
    cols = "vec_id, emb, nrm"
    return spark.sql(
        _probed_cells(
            spark, sf_dir, "{normed}", f"{cols}, pcid", cols, nprobe, where=""
        ),
        normed=normed,
    )


def stream_semantic_gate(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    thresh_q: int | None = None,
    batch: bool = False,
) -> DataFrame:
    """Streaming EMBEDDING-space contamination gate — the semantic
    member of the continuous-ingest gate family (text minhash, image
    phash, audio fingerprint, LM quality, this one — see
    train_ingest_decision for the composite): incoming embeddings (the
    dedup_incremental vec_id split) are scored against the STORED
    benchmark cells of the k-means IVF index and gated at the batch
    lane's SEM_DECON_THRESH_Q — ann_semantic_decontaminate's
    architecture run per micro-batch.

    Streaming shape: the probe assignment is a PURE LITERAL PROJECTION
    over the K driver-side centroid literals (stateless, stays in the
    stream's codegen span); the bench side is a stream-static
    broadcast equi-join on the probed cid (eval-suite-sized, never
    corpus-sized); the ONLY stateful operator is the final per-doc
    MAX aggregate.  Docs with no bench vector in any probed cell keep
    their row with the SEM_DECON_NO_CAND_Q sentinel, exactly like the
    batch lane."""
    from dataforge_core_spark.operators.similarity import (
        N_QUERIES,
        SEM_DECON_NO_CAND_Q,
        SEM_DECON_NPROBE,
        SEM_DECON_THRESH_Q,
        _check_nprobe,
        _kmeans_assignments,
        _cosine,
    )

    np_ = SEM_DECON_NPROBE if nprobe is None else nprobe
    thr = SEM_DECON_THRESH_Q if thresh_q is None else thresh_q
    _check_nprobe(np_)
    af = _kmeans_assignments(spark, sf_dir)
    cos = _cosine("q", "c", "spark")
    new = _incoming_emb_probe(spark, sf_dir, np_, batch).alias("c")
    bench = spark.sql(
        f"SELECT vec_id, emb, nrm, cid FROM {af}"
        f" WHERE vec_id < {N_QUERIES}"
    ).alias("q")
    scored = new.join(
        bench,
        F.expr("q.cid = c.pcid AND q.vec_id <> c.vec_id"),
        "left",
    ).selectExpr("c.vec_id AS vec_id", f"({cos}) AS cosv")
    agg = scored.groupBy("vec_id").agg(
        F.expr(
            f"CAST(COALESCE(FLOOR(MAX(cosv) * 1000000),"
            f" {SEM_DECON_NO_CAND_Q}) AS BIGINT)"
        ).alias("max_cos_q"),
        F.expr(
            f"CAST(CASE WHEN FLOOR(MAX(cosv) * 1000000) >= {thr}"
            f" THEN 1 ELSE 0 END AS INT)"
        ).alias("contaminated"),
    )
    return _gate_result(agg, "drv_stream_semantic_gate", spark, batch)


def _semantic_gate_oracle(
    nprobe: int | None = None, thresh_q: int | None = None
) -> str:
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.similarity import (
        KMEANS_ITERS,
        N_QUERIES,
        SEM_DECON_NO_CAND_Q,
        SEM_DECON_NPROBE,
        SEM_DECON_THRESH_Q,
        _cell_rank,
        _cosine,
        _duck_v_cte,
        _kmeans_ctes,
    )

    np_ = SEM_DECON_NPROBE if nprobe is None else nprobe
    thr = SEM_DECON_THRESH_Q if thresh_q is None else thresh_q
    cos = _cosine("q", "c", "duck")
    return f"""
WITH {_duck_v_cte()},
{_kmeans_ctes('v', 'duck')},
afm AS MATERIALIZED (SELECT * FROM af),
cvm AS MATERIALIZED (SELECT * FROM c{KMEANS_ITERS}),
inc AS (
  SELECT vec_id, emb, nrm FROM afm
  WHERE vec_id % {INCR_MOD} >= {INCR_NEW_GE}
),
probed AS (
  SELECT vec_id, emb, nrm, cid AS pcid FROM (
    SELECT a.vec_id, a.emb, a.nrm, c.cid,
           {_cell_rank('duck')} AS rn
    FROM inc a CROSS JOIN cvm c
  ) t WHERE rn <= {np_}
),
scored AS (
  SELECT c.vec_id, MAX({cos}) AS max_cos
  FROM probed c
  JOIN (SELECT * FROM afm WHERE vec_id < {N_QUERIES}) q
    ON q.cid = c.pcid AND q.vec_id <> c.vec_id
  GROUP BY c.vec_id
)
SELECT i.vec_id,
       CAST(COALESCE(FLOOR(s.max_cos * 1000000),
                     {SEM_DECON_NO_CAND_Q}) AS BIGINT) AS max_cos_q,
       CAST(CASE WHEN FLOOR(s.max_cos * 1000000) >= {thr}
            THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM (SELECT vec_id FROM inc) i
LEFT JOIN scored s ON s.vec_id = i.vec_id
"""


def stream_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Streaming vector-search SERVING — the retrieval complement of
    the ingest gates: incoming query embeddings (the incremental
    vec_id split) probe their ``nprobe`` nearest cells of the stored
    k-means IVF index (literal sorted-centroid projection, stateless)
    and retrieve the top-K corpus-split neighbors by cosine via a
    stream-static broadcast equi-join on cid.

    Ranking shape: window functions are barred on streaming frames,
    so the per-query top-K is the one stateful aggregate —
    collect_list of (score, neighbor) structs per query — followed by
    a PLAIN PROJECTION that array_sorts with an explicit
    (score DESC, neighbor ASC) comparator and slices K: the
    collect_list's arrival order is nondeterministic, the total-order
    sort canonicalizes it, and per-query state is bounded by
    nprobe x IVF_CELL_CAP.  Values match the batch ROW_NUMBER ranking
    exactly (the oracle runs that form)."""
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.similarity import (
        IVF_CELL_CAP,
        TOP_K,
        _check_nprobe,
        _kmeans_assignments,
        _cosine,
    )

    np_ = 1 if nprobe is None else nprobe
    k = TOP_K if top_k is None else top_k
    _check_nprobe(np_)
    if k < 1:
        raise ValueError("top_k must be >= 1")
    af = _kmeans_assignments(spark, sf_dir)
    cos = _cosine("q", "c", "spark")
    qs = _incoming_emb_probe(spark, sf_dir, np_, batch=False).alias("q")
    corpus = spark.sql(
        f"SELECT vec_id, emb, nrm, cid FROM {af}"
        f" WHERE vec_id % {INCR_MOD} < {INCR_NEW_GE}"
        f" AND cellrn <= {IVF_CELL_CAP}"
    ).alias("c")
    scored = qs.join(
        corpus, F.expr("c.cid = q.pcid"), "inner"
    ).selectExpr(
        "q.vec_id AS query_id",
        f"named_struct('s', {cos}, 'n', c.vec_id) AS sn",
    )
    agg = scored.groupBy("query_id").agg(
        F.expr("collect_list(sn)").alias("cands")
    )
    ranked = agg.selectExpr(
        "query_id",
        f"""slice(array_sort(cands, (a, b) -> CASE
              WHEN a.s > b.s THEN -1 WHEN a.s < b.s THEN 1
              WHEN a.n < b.n THEN -1 WHEN a.n > b.n THEN 1
              ELSE 0 END), 1, {k}) AS topk""",
    ).selectExpr(
        "query_id",
        "posexplode(topk) AS (i, sn)",
    ).selectExpr(
        "query_id",
        "CAST(i + 1 AS INT) AS rank",
        "sn.n AS neighbor_id",
    )
    return _run_to_memory(
        ranked, "drv_stream_ann_topk", spark, "complete"
    )


def _ann_topk_oracle(
    nprobe: int | None = None, top_k: int | None = None
) -> str:
    from dataforge_core_spark.operators.dedup import INCR_MOD, INCR_NEW_GE
    from dataforge_core_spark.operators.similarity import (
        IVF_CELL_CAP,
        KMEANS_ITERS,
        TOP_K,
        _cell_rank,
        _duck_v_cte,
        _kmeans_ctes,
        _topk_sql,
    )

    np_ = 1 if nprobe is None else nprobe
    k = TOP_K if top_k is None else top_k
    on = (
        f"c.cid = q.pcid AND c.vec_id % {INCR_MOD} < {INCR_NEW_GE}"
        f" AND c.cellrn <= {IVF_CELL_CAP}"
    )
    return f"""
WITH {_duck_v_cte()},
{_kmeans_ctes('v', 'duck')},
afm AS MATERIALIZED (SELECT * FROM af),
cvm AS MATERIALIZED (SELECT * FROM c{KMEANS_ITERS}),
qp AS (
  SELECT vec_id, emb, nrm, cid AS pcid FROM (
    SELECT a.vec_id, a.emb, a.nrm, c.cid,
           {_cell_rank('duck')} AS rn
    FROM (SELECT * FROM afm
          WHERE vec_id % {INCR_MOD} >= {INCR_NEW_GE}) a
    CROSS JOIN cvm c
  ) t WHERE rn <= {np_}
),
{_topk_sql("afm", on, queries="qp", top_k=k, dialect="duck")}
"""


def _near_dedup_oracle(threshold: float | None = None) -> str:
    from dataforge_core_spark.operators.dedup import (
        INCR_MOD,
        INCR_NEW_GE,
        JACCARD_THRESHOLD,
        MAX_BAND_BUCKET,
        MINHASH_BANDS,
        MINHASH_N,
        MINHASH_R,
        _band_keys,
        _duck_ex_sql,
        _DUCK_NORM,
        _P,
        _sig_cols,
    )

    thr = JACCARD_THRESHOLD if threshold is None else threshold
    corp = f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    new = f"doc_id % {INCR_MOD} >= {INCR_NEW_GE}"
    keys = ", ".join(_band_keys(MINHASH_BANDS, MINHASH_R))
    return f"""
WITH ex AS MATERIALIZED ({_duck_ex_sql()}),
hx AS (SELECT doc_id, s % {_P} AS h FROM ex),
sig AS MATERIALIZED (
  SELECT doc_id, {_sig_cols(MINHASH_N)} FROM hx GROUP BY doc_id
),
bands AS MATERIALIZED (
  SELECT doc_id, unnest([{keys}]) AS band_key FROM sig
),
corpb AS MATERIALIZED (
  SELECT band_key, doc_id FROM (
    SELECT band_key, doc_id,
           ROW_NUMBER() OVER (PARTITION BY band_key ORDER BY doc_id) AS rn
    FROM bands WHERE {corp}
  ) t WHERE rn <= {MAX_BAND_BUCKET}
),
dk AS MATERIALIZED (
  SELECT doc_id, md5({_DUCK_NORM}) AS k FROM documents
),
exact AS (
  SELECT DISTINCT n.doc_id FROM dk n JOIN dk c ON c.k = n.k
  WHERE n.{new} AND c.{corp}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
cand AS (
  SELECT DISTINCT nb.doc_id AS doc_n, cb.doc_id AS doc_c
  FROM bands nb JOIN corpb cb ON cb.band_key = nb.band_key
  WHERE nb.{new}
),
inter AS (
  SELECT c.doc_n, c.doc_c, COUNT(*) AS inter_n
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_n
  JOIN ex eb ON eb.doc_id = c.doc_c AND ea.s = eb.s
  GROUP BY c.doc_n, c.doc_c
),
near AS (
  SELECT DISTINCT i.doc_n AS doc_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_n
  JOIN sizes sb ON sb.doc_id = i.doc_c
  WHERE CAST(i.inter_n AS DOUBLE) / (sa.n + sb.n - i.inter_n)
        >= {thr}
)
SELECT n.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN r.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status
FROM (SELECT doc_id FROM documents WHERE {new}) n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN near r ON r.doc_id = n.doc_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stream_near_dedup": stream_near_dedup,
        "stream_phash_gate": stream_phash_gate,
        "stream_afp_gate": stream_afp_gate,
        "stream_ppl_gate": stream_ppl_gate,
        "stream_semantic_gate": stream_semantic_gate,
        "stream_ann_topk": stream_ann_topk,
        "stream_dd_quantiles": stream_dd_quantiles,
        "stream_hll_distinct": stream_hll_distinct,
        "stream_corpus_ingest": stream_corpus_ingest,
        "stream_topk": stream_topk,
        "stream_late_data": stream_late_data,
        "stream_dedup": stream_dedup,
        "stream_hourly": stream_hourly,
        "stream_anomaly": stream_anomaly,
        "stream_attribution": stream_attribution,
        "stream_attribution_outer": stream_attribution_outer,
        "stream_sessionize": stream_sessionize,
    }


def oracles() -> dict[str, str]:
    return {
        "stream_near_dedup": _near_dedup_oracle(),
        "stream_phash_gate": _phash_gate_oracle(),
        "stream_afp_gate": _afp_gate_oracle(),
        "stream_ppl_gate": _ppl_gate_oracle(),
        "stream_semantic_gate": _semantic_gate_oracle(),
        "stream_ann_topk": _ann_topk_oracle(),
        "stream_dd_quantiles": _stream_dd_oracle(),
        "stream_hll_distinct": _stream_hll_oracle(),
        "stream_corpus_ingest": _corpus_ingest_oracle(),
        "stream_topk": _STREAM_TOPK_ORACLE,
        "stream_late_data": _LATE_ORACLE,
        "stream_dedup": _STREAM_DEDUP_ORACLE,
        "stream_hourly": _HOURLY_ORACLE,
        "stream_anomaly": _STREAM_ANOMALY_ORACLE,
        "stream_attribution": _ATTRIBUTION_ORACLE,
        "stream_attribution_outer": _ATTRIBUTION_OUTER_ORACLE,
        "stream_sessionize": _SESSIONIZE_ORACLE,
    }
