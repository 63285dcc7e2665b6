"""Event-stream operators over the ``events`` table (batch semantics).

These are the batch-equivalent definitions of the streaming operators in
``dataforge_core_spark.streaming`` — tumbling-window aggregation,
gap-based sessionization, JSON payload extraction and an as-of join.
Structured Streaming runs the same logical plans with watermarks (see
streaming/ tests); batch mode makes them oracle-checkable.

Determinism notes: value sums go through DECIMAL(12,2) (exact); the as-of
pick packs (epoch, orderkey) into one BIGINT so MAX() is a deterministic
argmax on both engines.

Output canonicalization: comparison columns are emitted as DOUBLE / BIGINT
on BOTH engines (the exact decimal sum happens first, then one final cast)
because the driver hashes pandas frames where Spark DECIMAL -> object
Decimal('1.20000…') while DuckDB DECIMAL -> float64 — bit-identical values,
different hashes.  Internal arithmetic stays decimal-exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.session import session_key
from dataforge_core_spark.sources.readers import read_table

SESSION_GAP_MIN = 30


_views_done: set = set()


def _views(spark: SparkSession, sf_dir: str) -> None:
    from pyspark.sql import functions as F, types as T

    if (session_key(spark), sf_dir) in _views_done:
        return
    _views_done.add((session_key(spark), sf_dir))

    # Old driver testdata carried TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; only those files need nanosAsLong + a
    # truncate-to-micros (exactly DuckDB's nanos->micros conversion, so
    # oracles align).  Current testdata is timestamp[us] and reads natively.
    from dataforge_core_spark.streaming.pipeline import _events_ts_is_nanos

    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = read_table(spark, f"{sf_dir}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    ev.createOrReplaceTempView("events")
    read_table(spark, f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders"
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (streaming window() equivalent)."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        """
    )


_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
         AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def _sessionize_sql(dialect: str, gap_min: int = SESSION_GAP_MIN) -> str:
    """Shared sessionize SQL — ``gap_min`` is the inactivity-gap dial
    every analytics deployment tunes.  The only dialect split is the
    BIGINT cast DuckDB needs on its running-sum (hugeint otherwise)."""
    if gap_min < 1:
        raise ValueError(f"gap_min must be >= 1, got {gap_min}")
    cast_open, cast_close = (
        ("", "") if dialect == "spark" else ("CAST(", " AS BIGINT)")
    )
    return f"""
WITH g AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts > lag(ts) OVER w
                   + INTERVAL {gap_min} MINUTE THEN 1
              ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ts,
       {cast_open}SUM(is_start) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW){cast_close}
         AS session_number
FROM g
"""


def events_sessionize(
    spark: SparkSession, sf_dir: str, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Gap-based sessionization: a new session starts after a
    >``gap_min`` minute gap (driver-sweepable via
    queries_parameterized).

    Expressed as lag + running sum over a per-user window — the batch
    equivalent of applyInPandasWithState sessionization; shuffle key is
    user_id, state never leaves the executor.
    """
    _views(spark, sf_dir)
    return spark.sql(_sessionize_sql("spark", gap_min))


_SESSIONIZE_ORACLE = _sessionize_sql("duck")


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (props is a JSON text column).

    Uses the registered explicit schema via ``from_json`` — one typed
    parse per record with field pruning, vs ``get_json_object``'s one
    parse per extracted path (functions/json_registry.py)."""
    from dataforge_core_spark.functions.json_registry import parse_json_sql

    _views(spark, sf_dir)
    parsed = parse_json_sql("events.props", "props")
    return spark.sql(
        f"""
        SELECT event_id, {parsed}.k AS prop_k
        FROM events
        """
    )


_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the most recent order (o_orderdate <=
    ts) of the matching customer (user_id = o_custkey).

    Sort-merge-style, fan-out-free: both streams are UNIONed tagged
    (orders sort before events at equal time, matching the inclusive
    `<=`), then one running-MAX window per user over the packed
    (epoch, orderkey) key picks the as-of order at event rows.  One
    shuffle keyed by user, O(rows) per partition — a hot user with many
    orders costs events+orders rows, never events*orders (the previous
    join+argmax form multiplied the two).  The packing keeps the pick
    total-ordered (max orderkey among date ties), identical to the
    join+argmax semantics the oracle still expresses.

    Assumes event rows are unique: this form emits one output row per
    event row, while the oracle's GROUP BY (event_id, user_id, ts)
    would collapse exact-duplicate events into one.  The events table
    has unique event_ids (asserted by
    tests/test_events.py::test_events_event_id_unique); an input with
    duplicated event rows should be exact-deduped first.
    """
    _views(spark, sf_dir)
    return spark.sql(
        """
        WITH u AS (
          SELECT user_id, ts AS t, 1 AS tag, event_id, ts,
                 CAST(NULL AS BIGINT) AS packed
          FROM events
          UNION ALL
          SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS t,
                 0 AS tag, CAST(NULL AS BIGINT) AS event_id,
                 CAST(NULL AS TIMESTAMP) AS ts,
                 unix_timestamp(o_orderdate) * 10000000 + o_orderkey AS packed
          FROM orders
        )
        SELECT event_id, user_id, ts,
               best % 10000000 AS asof_orderkey
        FROM (
          SELECT *,
                 MAX(packed) OVER (
                   PARTITION BY user_id ORDER BY t, tag
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS best
          FROM u
        )
        WHERE tag = 1
        """
    )


_ASOF_ORACLE = """
SELECT e.event_id, e.user_id, e.ts,
       MAX(CASE WHEN o.o_orderdate <= e.ts
           THEN CAST(epoch(o.o_orderdate) AS BIGINT) * 10000000 + o.o_orderkey
           END) % 10000000 AS asof_orderkey
FROM events e
LEFT JOIN orders o ON e.user_id = o.o_custkey
GROUP BY e.event_id, e.user_id, e.ts
"""


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup (A6 — absent from the reference, free in
    Spark): per (event_type, day) with day and grand-total subtotals."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                 AS total_value
        FROM events
        GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS DATE))
        """
    )


_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
         AS total_value
FROM events
GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS DATE))
"""


def events_user_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user aggregate via two-phase salted aggregation — the skew
    pattern for hot keys at 100 TB: phase 1 groups by (user, salt) so one
    hot user's rows spread over 16 reducers; phase 2 merges the partials.
    The result is identical to a direct GROUP BY (the oracle *is* the
    direct form); value sums stay decimal-exact so merging is orderless.
    """
    _views(spark, sf_dir)
    return spark.sql(
        """
        WITH partial AS (
          SELECT user_id, event_id % 16 AS salt,
                 COUNT(*) AS n,
                 SUM(CAST(value AS DECIMAL(12,2))) AS v
          FROM events
          GROUP BY user_id, event_id % 16
        )
        SELECT user_id,
               SUM(n) AS n_events,
               CAST(SUM(v) AS DOUBLE) AS total_value
        FROM partial
        GROUP BY user_id
        """
    )


_SALTED_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
         AS total_value
FROM events
GROUP BY user_id
"""


def _funnel_sql(window_min: int | None = None) -> str:
    """Shared funnel SQL (dialect-identical — Spark and DuckDB run the
    same string).  ``window_min`` is the stage-completion window dial
    every funnel analysis sweeps: each later stage's first event must
    land within ``window_min`` minutes of the previous stage's, so a
    click three weeks after the view no longer 'converts'.  ``None``
    (the default) is the classic unbounded any-time funnel — the
    original lane semantics, byte-identical SQL."""
    # the value is interpolated into INTERVAL syntax verbatim, so only
    # a true int may pass: a float (2.5) or bool (True) compares fine
    # against 1 but lands in the SQL string with engine-dependent
    # INTERVAL parsing between Spark and DuckDB (r14 advice)
    if window_min is not None and (
        not isinstance(window_min, int)
        or isinstance(window_min, bool)
        or window_min < 1
    ):
        raise ValueError(
            f"window_min must be an int >= 1 minute or None, got "
            f"{window_min!r}"
        )
    wc = wp = ""
    if window_min is not None:
        wc = f" AND e.ts <= v.first_view + INTERVAL {window_min} MINUTE"
        wp = f" AND e.ts <= c.first_click + INTERVAL {window_min} MINUTE"
    return f"""
        WITH v AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
          FROM events GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS first_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.first_view{wc}
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS first_purchase
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.first_click{wp}
          GROUP BY e.user_id
        )
        SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
               v.first_view IS NOT NULL AS viewed,
               c.first_click IS NOT NULL AS clicked,
               p.first_purchase IS NOT NULL AS converted
        FROM v
        LEFT JOIN c ON c.user_id = v.user_id
        LEFT JOIN p ON p.user_id = v.user_id
        """


def events_funnel(
    spark: SparkSession, sf_dir: str, window_min: int | None = None
) -> DataFrame:
    """Conversion funnel (view -> click -> purchase) per user: first
    view, first click at-or-after it, first purchase at-or-after that
    click, plus stage flags.  ``window_min`` (r14 dial) bounds each
    stage transition — see ``_funnel_sql``.

    Scale shape: three user-keyed conditional MIN aggregates, each with
    map-side partial aggregation, chained by user-keyed joins whose
    probe sides are already user-reduced (one row per user) — the fact
    table itself is scanned per stage but never joined to itself
    row-to-row, so no stage multiplies events x events; all three
    exchanges hash on the same key, so AQE reuses the partitioning.
    """
    _views(spark, sf_dir)
    return spark.sql(_funnel_sql(window_min))


# one builder serves both engines (the funnel SQL is
# dialect-identical); the default instantiation is the lane oracle
_FUNNEL_ORACLE = _funnel_sql()


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; for each (cohort week, week offset), how many of the cohort
    were active.

    Scale shape: the cohort assignment and the distinct activity
    relation are both single user-keyed aggregates with map-side
    partials; the join probe side is one row per user (broadcastable at
    moderate user counts, hash join otherwise) and the final rollup
    groups on the low-cardinality (cohort_week, week_offset) key — no
    step carries more than one row per (user, week)."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        WITH f AS (
          SELECT user_id,
                 MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
          FROM events GROUP BY user_id
        ),
        a AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS DATE) AS week
          FROM events
        )
        SELECT f.cohort_week,
               CAST(datediff(a.week, f.cohort_week) DIV 7 AS INT)
                 AS week_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM a JOIN f ON a.user_id = f.user_id
        GROUP BY f.cohort_week, week_offset
        """
    )


_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id,
         MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INTEGER)
         AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# Exact latency/value quantiles per (event_type, day).
#
# Spark's percentile() and DuckDB's quantile_cont() both compute the
# exact linearly-interpolated quantile, but may associate the
# interpolation arithmetic differently — outputs are quantized to 1e-6
# (FLOOR(q * 1e6) BIGINT) so last-ulp formula differences cannot flip a
# value; at ~1e-13 absolute error the flip window is ~1e-7 of the
# quantization step.
#
# Scale shape: one group-keyed shuffle; exact percentiles buffer each
# group's values, so the group key must bound group size — (type, day)
# does; for unbounded groups swap percentile() -> approx_percentile()
# (same plan, sketch-mergeable, no oracle equivalence).
# ---------------------------------------------------------------------------


def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per (event_type, day)."""
    _views(spark, sf_dir)
    qs = ", ".join(
        f"CAST(FLOOR(percentile(value, {p}) * 1000000) AS BIGINT)"
        f" AS p{n}_q"
        for n, p in (("50", "0.5"), ("90", "0.9"), ("99", "0.99"))
    )
    return spark.sql(
        f"""
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(value) AS n, {qs}
        FROM events GROUP BY event_type, CAST(ts AS DATE)
        """
    )


_QUANTILES_ORACLE = """
SELECT event_type, CAST(ts AS DATE) AS day, COUNT(value) AS n,
       CAST(FLOOR(quantile_cont(value, 0.5) * 1000000) AS BIGINT) AS p50_q,
       CAST(FLOOR(quantile_cont(value, 0.9) * 1000000) AS BIGINT) AS p90_q,
       CAST(FLOOR(quantile_cont(value, 0.99) * 1000000) AS BIGINT) AS p99_q
FROM events GROUP BY event_type, CAST(ts AS DATE)
"""


# ---------------------------------------------------------------------------
# Per-user anomaly flags: |z-score| of value against the user's own
# mean/stddev.  The monitoring-grade outlier primitive over event streams.
#
# Determinism: sums and sums-of-squares go through DECIMAL (exact,
# associative, order-free — double SUM would differ run-to-run with
# partitioning); mean/variance/z are then scalar double expressions with
# identical association on both engines, so z is bit-identical.  DuckDB's
# DECIMAL->DOUBLE cast double-rounds once value*10^scale > 2^53, so the
# oracle routes the sum-of-squares through VARCHAR (the repo-wide
# workaround; Spark's BigDecimal->double is correctly rounded already).
#
# Scale shape: one user-keyed aggregate (map-side combinable) joined back
# to the event scan — the aggregate side is one row per user (usually
# broadcastable after aggregation); no window, no sort.
# ---------------------------------------------------------------------------

ANOMALY_Z = 2.5
ANOMALY_MIN_N = 30


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is > ANOMALY_Z stddevs from the user mean."""
    _views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH s AS (
          SELECT user_id,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))
                          * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv,
                 COUNT(value) AS n
          FROM events GROUP BY user_id
        )
        SELECT event_id, e.user_id, value,
               (value - sv / n) / sqrt((svv - sv * sv / n) / n) AS z
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE n >= {ANOMALY_MIN_N}
          AND (svv - sv * sv / n) / n > 0
          AND abs((value - sv / n) / sqrt((svv - sv * sv / n) / n))
              > {ANOMALY_Z}
        """
    )


_ANOMALY_ORACLE = f"""
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
WHERE n >= {ANOMALY_MIN_N}
  AND (svv - sv * sv / n) / n > 0
  AND abs((value - sv / n) / sqrt((svv - sv * sv / n) / n)) > {ANOMALY_Z}
"""


# ---------------------------------------------------------------------------
# DAU / WAU stickiness: daily active users over trailing-7-day weekly
# active users — the engagement ratio every product dashboard tracks.
# The rolling DISTINCT is made associative the replication way (a
# (day, user) activity row counts toward the WAU of days d..d+6), on
# exact epoch-day integers; both sides are distinct aggregates with
# partial combine, the final join is day-keyed and tiny.
# ---------------------------------------------------------------------------


def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-7-day WAU, and DAU/WAU stickiness."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        WITH d AS (
          SELECT DISTINCT
                 datediff(CAST(ts AS DATE), DATE'1970-01-01') AS dd,
                 user_id
          FROM events
        ),
        dau AS (SELECT dd, COUNT(*) AS c FROM d GROUP BY dd),
        w AS (
          SELECT user_id, dd + k AS wd
          FROM d LATERAL VIEW explode(sequence(0, 6)) s AS k
        ),
        wau AS (SELECT wd, COUNT(DISTINCT user_id) AS c FROM w GROUP BY wd)
        SELECT date_add(DATE'1970-01-01', CAST(dau.dd AS INT)) AS day,
               dau.c AS dau, wau.c AS wau,
               CAST(dau.c AS DOUBLE) / wau.c AS stickiness
        FROM dau JOIN wau ON dau.dd = wau.wd
        """
    )


_DAU_WAU_ORACLE = """
WITH d AS (
  SELECT DISTINCT CAST(ts AS DATE) - DATE '1970-01-01' AS dd, user_id
  FROM events
),
dau AS (SELECT dd, COUNT(*) AS c FROM d GROUP BY dd),
w AS (
  SELECT user_id, dd + k AS wd
  FROM d, unnest(generate_series(0, 6)) AS s(k)
),
wau AS (SELECT wd, COUNT(DISTINCT user_id) AS c FROM w GROUP BY wd)
SELECT DATE '1970-01-01' + CAST(dau.dd AS INTEGER) AS day,
       dau.c AS dau, wau.c AS wau,
       CAST(dau.c AS DOUBLE) / wau.c AS stickiness
FROM dau JOIN wau ON dau.dd = wau.wd
"""


# ---------------------------------------------------------------------------
# SLIDING-window active users: 3-hour windows sliding by 1 hour — the
# batch analogue of Structured Streaming's window(ts, '3 hours',
# '1 hour') (events_hourly/stream_hourly cover the tumbling case).
# Each event replicates into its 3 covering windows via an explode on
# exact epoch-hour integer arithmetic (no interval math — engines
# disagree on interval edge semantics; integers cannot), then one
# window-keyed distinct aggregate.  Spark plans COUNT(DISTINCT) as the
# two-level partial aggregate, so the per-window user sets never gather.
# ---------------------------------------------------------------------------

SLIDE_WINDOW_HOURS = 3


def events_sliding_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users + event count per 3h/1h sliding window."""
    _views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH e AS (
          -- ts reads as TIMESTAMP_NTZ; the session is pinned UTC, so
          -- the TIMESTAMP hop gives the same epoch DuckDB's epoch() does
          SELECT user_id,
                 CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 3600 AS h
          FROM events
        ),
        w AS (
          SELECT user_id, (h - k) * 3600 AS ws
          FROM e LATERAL VIEW explode(
            sequence(0, {SLIDE_WINDOW_HOURS - 1})) s AS k
        )
        -- window start stays an epoch-seconds BIGINT: Spark's
        -- timestamp_seconds() is TIMESTAMP while recent DuckDB's
        -- to_timestamp() is TIMESTAMPTZ, so a timestamp-typed column
        -- schema-mismatches across engines; integers cannot.
        SELECT ws AS window_start_s,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM w GROUP BY ws
        """
    )


_SLIDING_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h FROM events
),
w AS (
  SELECT user_id, (h - k) * 3600 AS ws
  FROM e, unnest(generate_series(0, {SLIDE_WINDOW_HOURS - 1})) AS s(k)
)
SELECT ws AS window_start_s,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM w GROUP BY ws
"""


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts): for each
# user-ordered consecutive event pair, count (from_type, to_type) and the
# conditional transition probability.  The behavioral-model primitive
# behind next-event prediction and anomaly scoring.
#
# Determinism: ordering is (ts, event_id) — a total order, so lead() is
# well-defined on both engines; counts are exact integers and the
# probability is one division of exact integers (the per-from_type total
# is an integer window sum).
#
# Scale shape: one user-keyed window shuffle (the same partitioning the
# sessionize/funnel family uses), then a tiny (|types|^2)-row aggregate
# with map-side combine; the probability window runs over that tiny
# aggregate, not the event stream.
# ---------------------------------------------------------------------------

_TRANSITIONS_SQL = """
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
),
c AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM c
"""


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type transition counts + P(to|from)."""
    _views(spark, sf_dir)
    return spark.sql(_TRANSITIONS_SQL)


_TRANSITIONS_ORACLE = _TRANSITIONS_SQL


# ---------------------------------------------------------------------------
# Per-event rolling user features: trailing-1h event count and seconds
# since the previous event — the feature-engineering primitive behind
# rate limiting, fraud scoring and behavioral models.  Value-based
# RANGE frames (not ROWS) so same-timestamp ties resolve identically on
# both engines; the trailing sum is decimal-exact and emitted as
# integer cents; seconds-since-prev is an integer difference of
# truncated epochs.  One user-keyed window shuffle — the same
# partitioning the sessionize/funnel family already uses.
# ---------------------------------------------------------------------------


def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h count/value + gap-to-previous per event."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id, user_id,
               COUNT(*) OVER wr - 1 AS n_prev_1h,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wr * 100
                    AS BIGINT) AS value_1h_cents,
               unix_timestamp(ts)
                 - unix_timestamp(lag(ts) OVER wo) AS secs_since_prev
        FROM events
        WINDOW
          wr AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
          wo AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )


_USER_FEATURES_ORACLE = """
SELECT event_id, user_id,
       COUNT(*) OVER wr - 1 AS n_prev_1h,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER wr * 100
            AS BIGINT) AS value_1h_cents,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(lag(ts) OVER wo)) AS BIGINT) AS secs_since_prev
FROM events
WINDOW
  wr AS (PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
  wo AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Banded RANGE JOIN (the J8-family range member, batch form of the
# stream attribution join): for every 'view' event, the 'purchase'
# events of the same user inside the following hour.  A naive
# inequality join (user equal + ts range) degenerates to per-user
# cross products; the scalable form buckets both sides by hour and
# equi-joins on (user, hour-bucket) with the view side exploded into
# the <=2 buckets its window can touch, then applies the exact range
# as a post-filter — shuffle keys stay equi, fan-out is bounded by
# events-per-user-hour.  Exactly the bin-then-filter plan Spark's own
# range-join hints (and every streaming interval join) lower to.
#
# Determinism: counts are exact integers; first_purchase_ts is a MIN
# over parquet-exact timestamps.  A purchase matches exactly one of a
# view's bucket rows, so the explode cannot double-count.
# ---------------------------------------------------------------------------

RANGE_JOIN_FROM = "view"
RANGE_JOIN_TO = "purchase"


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases within 1h after each view (banded equi-join form)."""
    _views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH v AS (
          SELECT event_id, user_id, ts,
                 CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 3600 AS h
          FROM events WHERE event_type = '{RANGE_JOIN_FROM}'
        ),
        p AS (
          SELECT user_id, ts,
                 CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 3600 AS h
          FROM events WHERE event_type = '{RANGE_JOIN_TO}'
        ),
        vb AS (
          SELECT v.event_id, v.user_id, v.ts, v.h + k AS hb
          FROM v LATERAL VIEW explode(sequence(0, 1)) s AS k
        )
        SELECT vb.event_id, vb.user_id, vb.ts AS view_ts,
               COUNT(p.ts) AS n_purchases,
               MIN(p.ts) AS first_purchase_ts
        FROM vb LEFT JOIN p
          ON p.user_id = vb.user_id AND p.h = vb.hb
             AND p.ts > vb.ts AND p.ts <= vb.ts + INTERVAL 1 HOUR
        GROUP BY vb.event_id, vb.user_id, vb.ts
        """
    )


_RANGE_JOIN_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
  FROM events WHERE event_type = '{RANGE_JOIN_FROM}'
),
p AS (
  SELECT user_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
  FROM events WHERE event_type = '{RANGE_JOIN_TO}'
),
vb AS (
  SELECT v.event_id, v.user_id, v.ts, v.h + k AS hb
  FROM v, unnest(generate_series(0, 1)) AS s(k)
)
SELECT vb.event_id, vb.user_id, vb.ts AS view_ts,
       COUNT(p.ts) AS n_purchases,
       MIN(p.ts) AS first_purchase_ts
FROM vb LEFT JOIN p
  ON p.user_id = vb.user_id AND p.h = vb.hb
     AND p.ts > vb.ts AND p.ts <= vb.ts + INTERVAL 1 HOUR
GROUP BY vb.event_id, vb.user_id, vb.ts
"""


# ---------------------------------------------------------------------------
# Purged temporal split: train on everything before the cut, test on
# everything after, and DROP an embargo window before the cut — the
# leakage control for time-series feature models (a trailing-window
# feature computed at the cut can see embargo-period rows; purging
# them from train removes the overlap; see de Prado's purged CV).  The
# cut is the 80% point of the observed span, embargo = 1 day, both
# derived in exact epoch-second integer arithmetic so assignment is
# engine-identical.  Scan-side projection against two scalar subqueries
# — zero extra shuffles.
# ---------------------------------------------------------------------------

PURGE_EMBARGO_S = 86_400  # 1 day
PURGE_TRAIN_PCT = 80


def events_purged_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event train/embargo/test assignment with an embargo gap.

    The cut is attached as SCALAR subqueries, not a 1-row cross join:
    Spark executes them once and folds the result into the scan-side
    CASE as a literal — no BroadcastNestedLoopJoin in the main plan
    (the no-cartesian gate holds), and the split stays a pure
    projection over the event scan."""
    _views(spark, sf_dir)
    cut = (
        "(SELECT MIN(unix_timestamp(ts))"
        f" + ((MAX(unix_timestamp(ts)) - MIN(unix_timestamp(ts)))"
        f" * {PURGE_TRAIN_PCT}) DIV 100 FROM events)"
    )
    return spark.sql(
        f"""
        SELECT event_id, user_id,
               CASE
                 WHEN unix_timestamp(ts) >= {cut} THEN 'test'
                 WHEN unix_timestamp(ts)
                      >= {cut} - {PURGE_EMBARGO_S} THEN 'embargo'
                 ELSE 'train'
               END AS split
        FROM events
        """
    )


_PURGED_ORACLE = f"""
WITH b AS (
  SELECT MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
  FROM events
),
c AS (
  SELECT lo + ((hi - lo) * {PURGE_TRAIN_PCT}) // 100 AS cut FROM b
)
SELECT e.event_id, e.user_id,
       CASE
         WHEN CAST(floor(epoch(e.ts)) AS BIGINT) >= c.cut THEN 'test'
         WHEN CAST(floor(epoch(e.ts)) AS BIGINT)
              >= c.cut - {PURGE_EMBARGO_S} THEN 'embargo'
         ELSE 'train'
       END AS split
FROM events e CROSS JOIN c
"""


# ---------------------------------------------------------------------------
# Bot / automation detection: accounts whose inter-event gaps are too
# REGULAR are schedulers, not humans — the behavioral-abuse filter a
# training-data pipeline runs before user content enters a corpus.  The
# test is on the squared coefficient of variation (dimensionless, so it
# works at any activity rate): human arrivals are ~Poisson (CV ~= 1),
# automation is periodic (CV ~= 0); flag CV² < 3/4 at volume.  Exact
# integers end to end: gaps are integer seconds (epoch difference), and
# CV² = (n·Σg² - (Σg)²) / (Σg)², so the flag is the cross-multiplied
# comparison 4·(n·Σg² - (Σg)²) < 3·(Σg)² — no division, no doubles,
# identical hash on any engine.
#
# Scale shape: one user-keyed window (the same partitioning the
# sessionize/features family shuffles on) + a map-side-combinable
# aggregate; nothing exceeds one row per user downstream.
# ---------------------------------------------------------------------------

BOT_MIN_GAPS = 20
# flag when CV² < BOT_CV2_NUM / BOT_CV2_DEN (Poisson humans sit at 1)
BOT_CV2_NUM, BOT_CV2_DEN = 3, 4


def _bot_sql(
    dialect: str,
    min_gaps: int = BOT_MIN_GAPS,
    cv2_num: int = BOT_CV2_NUM,
    cv2_den: int = BOT_CV2_DEN,
) -> str:
    """Shared bot-detection SQL (dialect-identical arithmetic).  The
    dials are the abuse-filter strictness knobs every deployment
    tunes: ``min_gaps`` is the volume floor below which regularity is
    not evidence, and ``cv2_num/cv2_den`` the CV² threshold as an
    exact RATIONAL — kept as two ints so the flag stays the
    cross-multiplied integer comparison (no division, no doubles,
    engine-identical hashes) at ANY threshold setting (r15)."""
    for name, v in (
        ("min_gaps", min_gaps),
        ("cv2_num", cv2_num),
        ("cv2_den", cv2_den),
    ):
        if not isinstance(v, int) or isinstance(v, bool):
            raise ValueError(f"{name} must be an int, got {v!r}")
    if min_gaps < 2:
        raise ValueError(
            f"min_gaps={min_gaps} must be >= 2: CV needs at least "
            "two gaps"
        )
    if cv2_num < 0 or cv2_den < 1:
        raise ValueError(
            f"cv2 threshold {cv2_num}/{cv2_den} must be a"
            " non-negative rational"
        )
    if dialect == "spark":
        gap = (
            "unix_timestamp(ts)\n"
            "           - unix_timestamp(lag(ts) OVER (PARTITION BY"
            " user_id\n                ORDER BY ts, event_id)) AS gap_s"
        )
        sg, sg2 = "SUM(gap_s)", "SUM(gap_s * gap_s)"
    else:
        gap = (
            "CAST(floor(epoch(ts)) AS BIGINT)\n"
            "           - CAST(floor(epoch(lag(ts) OVER (PARTITION BY"
            " user_id\n                ORDER BY ts, event_id))) AS"
            " BIGINT) AS gap_s"
        )
        sg = "CAST(SUM(gap_s) AS BIGINT)"
        sg2 = "CAST(SUM(gap_s * gap_s) AS BIGINT)"
    return f"""
WITH g AS (
  SELECT user_id,
         {gap}
  FROM events
),
s AS (
  SELECT user_id, COUNT(gap_s) AS n_gaps,
         {sg} AS sum_gap_s,
         {sg2} AS sum_gap2
  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
)
SELECT user_id, n_gaps, sum_gap_s,
       n_gaps * sum_gap2 - sum_gap_s * sum_gap_s AS gap_var_num,
       n_gaps >= {min_gaps}
         AND {cv2_den} * (n_gaps * sum_gap2 - sum_gap_s * sum_gap_s)
             < {cv2_num} * sum_gap_s * sum_gap_s
         AS is_bot
FROM s
"""


def events_bot_detection(
    spark: SparkSession,
    sf_dir: str,
    min_gaps: int = BOT_MIN_GAPS,
    cv2_num: int = BOT_CV2_NUM,
    cv2_den: int = BOT_CV2_DEN,
) -> DataFrame:
    """Per-user gap statistics + low-variance-at-volume bot flag."""
    _views(spark, sf_dir)
    return spark.sql(_bot_sql("spark", min_gaps, cv2_num, cv2_den))


_BOT_ORACLE = _bot_sql("duck")


# ---------------------------------------------------------------------------
# Cohort LTV triangle: per (signup-cohort week, week offset) purchase
# revenue, cumulative revenue, and per-user LTV — the revenue sibling of
# events_retention's activity triangle.  Revenue is decimal-exact cents
# (BIGINT) end to end: the per-week sums, the cumulative window and the
# per-user division are all integer arithmetic, so the triangle hashes
# identically on any engine.
#
# Scale shape: two user-keyed aggregates (cohort assignment, weekly
# revenue) with map-side partials, a per-user join (broadcastable cohort
# side), then a rollup + cumulative window on the tiny (cohort, offset)
# key — nothing carries more than one row per (user, week).
# ---------------------------------------------------------------------------


def events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort x week-offset revenue / cumulative LTV triangle."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        WITH f AS (
          SELECT user_id,
                 MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
          FROM events GROUP BY user_id
        ),
        r AS (
          SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
                 SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                   AS rev_cents
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, CAST(date_trunc('week', ts) AS DATE)
        ),
        c AS (
          SELECT cohort_week, COUNT(*) AS n_users
          FROM f GROUP BY cohort_week
        ),
        tri AS (
          SELECT f.cohort_week,
                 CAST(datediff(r.week, f.cohort_week) DIV 7 AS INT)
                   AS week_offset,
                 SUM(r.rev_cents) AS rev_cents
          FROM r JOIN f ON r.user_id = f.user_id
          GROUP BY f.cohort_week, datediff(r.week, f.cohort_week) DIV 7
        )
        SELECT t.cohort_week, t.week_offset, t.rev_cents,
               SUM(t.rev_cents) OVER (PARTITION BY t.cohort_week
                    ORDER BY t.week_offset) AS cum_rev_cents,
               c.n_users,
               SUM(t.rev_cents) OVER (PARTITION BY t.cohort_week
                    ORDER BY t.week_offset) DIV c.n_users
                 AS ltv_cents_per_user
        FROM tri t JOIN c ON t.cohort_week = c.cohort_week
        """
    )


_LTV_ORACLE = """
WITH f AS (
  SELECT user_id,
         MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
r AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
         SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
           AS rev_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, CAST(date_trunc('week', ts) AS DATE)
),
c AS (SELECT cohort_week, COUNT(*) AS n_users FROM f GROUP BY cohort_week),
tri AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, r.week) // 7 AS INTEGER)
           AS week_offset,
         SUM(r.rev_cents) AS rev_cents
  FROM r JOIN f ON r.user_id = f.user_id
  GROUP BY f.cohort_week, date_diff('day', f.cohort_week, r.week) // 7
)
SELECT t.cohort_week, t.week_offset, CAST(t.rev_cents AS BIGINT) AS rev_cents,
       CAST(SUM(t.rev_cents) OVER (PARTITION BY t.cohort_week
            ORDER BY t.week_offset) AS BIGINT) AS cum_rev_cents,
       c.n_users,
       CAST(SUM(t.rev_cents) OVER (PARTITION BY t.cohort_week
            ORDER BY t.week_offset) AS BIGINT) // c.n_users
         AS ltv_cents_per_user
FROM tri t JOIN c ON t.cohort_week = c.cohort_week
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "events_user_features": events_user_features,
        "events_range_join": events_range_join,
        "events_dau_wau": events_dau_wau,
        "events_sliding_active": events_sliding_active,
        "events_transitions": events_transitions,
        "events_quantiles": events_quantiles,
        "events_anomaly": events_anomaly,
        "events_funnel": events_funnel,
        "events_retention": events_retention,
        "events_ltv_cohort": events_ltv_cohort,
        "events_bot_detection": events_bot_detection,
        "events_purged_split": events_purged_split,
        "events_user_stats_salted": events_user_stats_salted,
        "events_hourly": events_hourly,
        "events_sessionize": events_sessionize,
        "events_json": events_json,
        "events_asof_order": events_asof_order,
        "events_rollup": events_rollup,
    }


def oracles() -> dict[str, str]:
    return {
        "events_user_features": _USER_FEATURES_ORACLE,
        "events_range_join": _RANGE_JOIN_ORACLE,
        "events_dau_wau": _DAU_WAU_ORACLE,
        "events_sliding_active": _SLIDING_ORACLE,
        "events_transitions": _TRANSITIONS_ORACLE,
        "events_quantiles": _QUANTILES_ORACLE,
        "events_anomaly": _ANOMALY_ORACLE,
        "events_funnel": _FUNNEL_ORACLE,
        "events_retention": _RETENTION_ORACLE,
        "events_ltv_cohort": _LTV_ORACLE,
        "events_bot_detection": _BOT_ORACLE,
        "events_purged_split": _PURGED_ORACLE,
        "events_user_stats_salted": _SALTED_ORACLE,
        "events_hourly": _HOURLY_ORACLE,
        "events_sessionize": _SESSIONIZE_ORACLE,
        "events_json": _JSON_ORACLE,
        "events_asof_order": _ASOF_ORACLE,
        "events_rollup": _ROLLUP_ORACLE,
    }
