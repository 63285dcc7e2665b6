"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the same settings are what we'd ship on a
multi-executor cluster: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any Pandas-UDF boundary, UTC session time zone for
deterministic date/timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def checkpoint_manager(master: str) -> str | None:
    """The streaming checkpoint manager class ``get_spark`` sets for
    ``master``, or None to keep Spark's default.

    Spark's default manager goes through Hadoop's FileContext, which
    on the local file system sets permissions on every offset, commit
    and state file it creates.  Without the native libhadoop (as in a
    plain pyspark install) Hadoop forks ``chmod`` and ``readlink`` to do
    that: measured 0.41-0.46 CPU-s of reaped child processes per warm
    ``stream_topk`` call at four state partitions (sf0.01 data, 4-core
    x86 host, local[4]), against 0.12-0.13 s through the FileSystem
    API.  A local master checkpoints to a local POSIX
    disk, where the FileSystem manager's write-then-rename is atomic,
    which is all the offset/commit logs and versioned state files
    need.  Other masters keep Spark's default, whose FileContext rename
    is the atomic one on HDFS."""
    if master == "local" or master.startswith("local["):
        return (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        )
    return None


def get_spark(
    app_name: str = "dataforge_core_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] packs every executor thread into the driver JVM, so
        # this is the WHOLE cluster's heap: 8g caused GC-driven
        # multi-second outliers late in long bench sessions (cached hub
        # blocks + checkpointed indexes + shuffle buffers for 32
        # threads).  16g is still an eighth of the box; a real cluster
        # sizes executors separately.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # the generated-class cache defaults to 100 entries; a session
        # running the ~100-query inventory (or any long-lived mixed
        # workload) evicts constantly, and re-Janino-compiling a WIDE
        # aggregate class costs seconds — measured as 4-6s attaching
        # nondeterministically to whichever wide row got evicted
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    manager = checkpoint_manager(master)
    if manager:
        builder = builder.config(_CHECKPOINT_MANAGER_KEY, manager)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_key(spark: SparkSession) -> str:
    """Stable per-session cache key.

    ``id(spark)`` is unsafe: after a session is stopped and
    garbage-collected, a NEW session object can land at the same id and
    inherit cached DataFrames/temp-view names bound to the dead
    context.  The Spark application id is unique per context and lives
    exactly as long as it does."""
    return spark.sparkContext.applicationId


def sql_conf(spark: SparkSession):
    """The session's JVM ``SQLConf``, whose typed getters
    (``autoBroadcastJoinThreshold()``, ``numShufflePartitions()``) give
    the values the planner itself uses, with byte-size strings such as
    ``64MB`` already parsed."""
    return spark._jsparkSession.sessionState().conf()


import contextlib as _contextlib
import threading as _threading

_shuffle_lock = _threading.RLock()


@_contextlib.contextmanager
def shuffle_override(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` for a build loop and restore
    it after, SERIALIZED across threads: the save/set/restore pattern is
    session-global, so two concurrent overrides can interleave as
    A-saves-32 / A-sets-8 / B-saves-8 / A-restores-32 / B-restores-8 —
    leaving the session at 8 for everything after.  Note the setting
    itself is still session-global while held: a concurrent
    NON-overriding job plans its shuffles at ``n``.  For BATCH builds
    that want a narrow width, use ``narrow_session`` instead (r13
    advice: with the concurrent index phase, the session-global
    override made other builders' checkpoint partitioning
    scheduling-dependent).  This context manager remains for the
    STREAMING lanes only — a streaming query snapshots the conf of the
    session its ``writeStream.start()`` runs on, and a streaming plan
    cannot be rebound across sessions; those lanes run sequentially in
    the query phase, so nothing plans concurrently while they hold
    the lock."""
    key = "spark.sql.shuffle.partitions"
    with _shuffle_lock:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, prev)


_narrow_sessions: dict = {}
_narrow_lock = _threading.Lock()


def narrow_session(spark: SparkSession, n: int) -> SparkSession:
    """A sibling session (``spark.newSession()``: shared SparkContext,
    cached blocks and global temp views; its OWN SQLConf) pinned to
    ``spark.sql.shuffle.partitions = n``.

    Batch builds that want a narrow shuffle width (small fixed-point
    loops, K-group aggregates) run their jobs here instead of toggling
    the main session's conf: the width then CANNOT leak into jobs that
    happen to plan concurrently on the main session — under the bench's
    concurrent index phase the session-global ``shuffle_override`` made
    other builders' checkpoint partitioning scheduling-dependent (r13
    advice).  Cached per (application, n); builder-time confs (AQE,
    Arrow, codegen cache) live in the SparkContext conf and are
    inherited by the sibling."""
    key = (session_key(spark), n)
    with _narrow_lock:
        s = _narrow_sessions.get(key)
        if s is None:
            s = spark.newSession()
            s.conf.set("spark.sql.shuffle.partitions", str(n))
            _narrow_sessions[key] = s
        return s


import itertools as _itertools

_rebind_ids = _itertools.count()


def rebind(df, target: SparkSession):
    """Re-expose ``df`` on a sibling session of the same SparkContext.

    Goes through a global temp view (the one catalog ``newSession``
    siblings share): ``target.table`` inlines the view's LOGICAL plan,
    so the returned frame plans under the TARGET session's SQL conf.
    For a checkpointed frame the inlined plan is its LogicalRDD —
    nothing is recomputed; for an unmaterialized plan the target
    session re-plans it (which is the point: that's how a narrow
    session takes ownership of a build's shuffles).

    The view is a RESOLUTION VEHICLE only: ``Dataset`` analysis is
    eager, so by the time ``target.table`` returns, the view's plan is
    already inlined into the returned frame and the catalog entry can
    be dropped immediately.  Leaving it registered leaked one
    ``global_temp.rebind_<n>`` per call for the application lifetime —
    and, worse, the catalog reference pinned any checkpointed RDD in
    the rebound plan so the ContextCleaner could never reclaim its
    blocks (r14 advice)."""
    name = f"rebind_{next(_rebind_ids)}"
    df.createOrReplaceGlobalTempView(name)
    try:
        return target.table(f"global_temp.{name}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)


def index_width(n_rows: int, rows_per_part: int = 50_000) -> int:
    """Partition count for a STORED index relation: sized to the
    relation, not inherited from the session's corpus-scan width.

    The r15 simhash adjudication generalized: a checkpointed index
    whose row count is a small multiple of the entity count (vector
    norms, code tables, band tables) costs its consumers pure TASK
    COUNT when stored at the scan width — every query-time scan,
    broadcast collect and shuffle map side pays one task per stored
    partition, and at bench scale 32 tasks of ~60 rows each double a
    lane's wall time.  ``ceil(n / rows_per_part)`` keeps partitions at
    a size where per-task overhead is amortized; at 100 TB the same
    formula yields thousands of partitions — the width follows the
    index, both directions."""
    return max(1, (int(n_rows) + rows_per_part - 1) // rows_per_part)


def free_local_checkpoint(df) -> None:
    """Eagerly drop a ``localCheckpoint``'ed frame's storage blocks.

    ``DataFrame.unpersist()`` only removes CacheManager entries — it
    does NOT free a local checkpoint's blocks (verified: RDD storage
    info unchanged after ``unpersist(blocking=True)``); those are
    otherwise freed only by the async ContextCleaner after driver GC.
    The checkpointed RDD is held by the plan's ``LogicalRDD``;
    unpersisting THAT rdd frees the blocks immediately.  Only call on
    frames whose lineage is never consumed again — a locally
    checkpointed RDD cannot be recomputed.

    A frame that went through ``rebind`` arrives with its LogicalRDD
    wrapped in the temp-view resolution nodes (SubqueryAlias, and View
    for stored-analyzed-plan views) — calling ``.rdd()`` on the
    wrapper raised and silently fell through to the no-op branch, so
    rebound checkpoints (e.g. _cc_min_label results) were never freed
    (r14 advice).  Unwrap the alias chain first; anything that still
    isn't a LogicalRDD has no checkpoint blocks to free and returns
    quietly.  Any other failure propagates."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() in ("SubqueryAlias", "View"):
        plan = plan.child()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
