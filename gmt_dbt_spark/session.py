"""SparkSession factory + per-session tuning.

Local-mode testing uses ``local[N]``; the same configuration is what
we would ship on a 1000-executor cluster — AQE on (runtime join
strategy switch, skew-join splitting, partition coalescing), Arrow
enabled for the pandas-UDF path, UTC session time zone so results are
comparable against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import shutil
import uuid
import weakref
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row, SparkSession

# The one scratch root (gitignored). Builders take their per-call
# directories from `scratch_dir`; the only persistent entry is the
# streaming replay-shard cache (`stateful._replay_cache_dir`).
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# Runtime-settable confs we also apply to sessions we did not create
# (the correctness driver hands us its own SparkSession).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long, convert
    # in catalog.table (Spark has no nanos timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# One record per live session object: present once `tune` has run,
# holding the warehouse schemas `catalog.table` resolved in it. Keyed
# by the object, not its id(), so a record dies with its session and a
# new session never inherits a collected one's.
_SESSIONS: weakref.WeakKeyDictionary[SparkSession, dict] = weakref.WeakKeyDictionary()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session.

    Safe to call on a session owned by someone else (the driver);
    only touches confs that are modifiable at runtime. Applied once
    per session object — table() calls this on every scan, and ~7
    py4j conf round-trips per scan add up in tight query loops.
    """
    if spark in _SESSIONS:
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-modifiable in this deployment; keep going
    try:
        # Right-size shuffle parallelism if the session still carries
        # Spark's default: AQE coalesces most exchanges anyway, but
        # stateful streaming ops PIN the partition count into their
        # state store at first checkpoint — 200 state instances on an
        # 8-core driver session is pure overhead. Never override a
        # deliberately-set value.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    _SESSIONS.setdefault(spark, {})  # never drop a concurrent tune's memo
    return spark


def inherit_local_properties(spark: SparkSession, fn):
    """``fn`` wrapped to run under the calling thread's Spark local
    properties (job group, job description, scheduler pool), read
    now, for submission to a thread pool. A pool thread starts with
    none of them, so its jobs would escape the caller's group
    (``cancelJobGroup``, per-group profiles). Each call installs its
    own clone, as ``pyspark.InheritableThread`` does: concurrent SQL
    executions write their execution id into that object."""
    sc = spark.sparkContext._jsc.sc()
    props = sc.getLocalProperties()

    def run(*args, **kwargs):
        sc.setLocalProperties(props.clone())
        return fn(*args, **kwargs)

    return run


def schema_memo(spark: SparkSession) -> dict:
    """The tuned session's schema memo: file fingerprint → StructType,
    filled and read by `catalog.table`."""
    return _SESSIONS[tune(spark)]


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Row]:
    """Eager ``localCheckpoint`` of ``df`` plus aggregate ``metrics``
    observed over the same rows, in the same job.

    ``checkpoint(df, n=F.count(F.lit(1)))`` replaces the pattern
    "checkpoint, then run a second job to count or compare what was
    just materialized": the metrics ride ``DataFrame.observe`` into
    the checkpoint job, so the returned ``Row`` costs no extra job.
    Empty and zero-partition frames observe their aggregates' empty
    values (0 for counts) without blocking.

    The metrics are read off the checkpoint's own ``QueryExecution``
    as soon as the job returns. ``Observation.get`` would instead wait,
    with no time limit, for the end-of-query event to arrive through
    the asynchronous listener bus, which can drop events under load."""
    name = f"checkpoint_{uuid.uuid4().hex}"
    observed = df.observe(name, *(c.alias(k) for k, c in metrics.items()))
    out = observed.localCheckpoint(eager=True)
    row = observed._jdf.queryExecution().observedMetrics().get(name).get()
    return out, Row(**{k: row.get(i) for i, k in enumerate(metrics)})


def get_spark(app_name: str = "gmt_dbt_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions are sized to the core count — at cluster scale this
    becomes executor-cores × executors (AQE coalesces down from
    there), not the 200 default.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


@contextmanager
def scratch_dir(prefix: str):
    """A fresh path ``SCRATCH/<prefix>_<uuid>`` for one builder's
    intermediate files, removed on exit, on success and on exception
    alike.

    The path does not exist on entry (``sink_ctas`` writes with
    ``errorifexists``); its parent does. A builder writes under it and
    returns ``out.localCheckpoint(eager=True)`` from inside the block,
    so the result never reads the files the exit deletes and a query
    can be built again while an earlier frame from it is unread."""
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, f"{prefix}_{uuid.uuid4().hex}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def scoped_conf(spark, **kv):
    """Set runtime SQL confs for a scope and restore the EFFECTIVE
    value on exit. One definition replaces the hand-rolled
    save/try/finally dance in every config-scoped query and plan
    guard.

    Restore semantics (ADVICE r2): a key that raises on
    ``conf.get(k)`` with no default (truly unset, no defined default)
    is ``unset`` on exit; any other key is restored by re-setting its
    pre-scope RESOLVED value. For keys with a defined default that
    were never explicitly set, this pins the default as a session
    conf — effective values are always preserved, but 'was it
    explicitly set' is not recoverable through the RuntimeConfig API,
    so that bit is intentionally not promised."""
    saved = {}
    for k in kv:
        try:
            saved[k] = spark.conf.get(k)
        except Exception as e:
            # Only a genuine missing-key error means "unset on exit".
            # Anything else (Py4J hiccup, JVM-side failure) must NOT
            # be misread as 'key was unset' — that would silently
            # unset an explicitly-set conf when the scope closes
            # (r3 review finding).
            name = type(e).__name__
            msg = str(e)
            if "SQL_CONF_NOT_FOUND" in msg or "NoSuchElement" in name or (
                "NoSuchElement" in msg
            ):
                saved[k] = None  # unset and defaultless → unset on exit
            else:
                raise
    try:
        for k, v in kv.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)


# State partitions of a bounded streaming replay (see `replay_conf`).
REPLAY_STATE_PARTITIONS = 8


def replay_conf(spark):
    """Conf scope for the bounded micro-batch replay harnesses
    (streaming/stateful.py): REPLAY_STATE_PARTITIONS state partitions
    instead of the session's shuffle-partition count.

    Every stateful streaming micro-batch pays a state-store
    open/commit per STATE PARTITION per batch, and the replays run
    4-6 micro-batches over fixture-scale data — at the session's 32
    (or the vanilla driver's 200) partitions that fixed machinery
    dominates wall-clock (measured: the two outer stream-stream
    replays drop 22.1→14.7 s / 15.6→7.8 s at sf0.1 going 32→8).
    State-partition count is a deployment knob sized to throughput —
    a LIVE deployment of these same DAGs wants it high (it is the
    unit of state parallelism and cannot change under one
    checkpoint); a bounded replay of a small fixture wants it small.
    The production plan is unchanged — only the harness execution
    scope.

    noDataMicroBatches is pinned TRUE (its Spark default) because the
    r11 single-sentinel replays RELY on it: the engine's final
    no-data batch is what applies the last watermark advance and
    flushes expired state/timers — a deployment that had disabled it
    globally would silently drop the flush, so the replay scope makes
    the dependency explicit."""
    return scoped_conf(
        spark,
        **{
            "spark.sql.shuffle.partitions": str(REPLAY_STATE_PARTITIONS),
            "spark.sql.streaming.noDataMicroBatches.enabled": "true",
        },
    )
