"""Table access over the parquet warehouse.

The reference registers BigQuery *external tables* over GCS objects
(`main.py:314-349`); our analogue is unmanaged reads over a warehouse
directory of parquet files. ``table()`` is the single scan entry
point every query builder uses, so scan behavior (pushdown-friendly
plain `spark.read.parquet`) is uniform.

Like the reference's external tables, each table file's schema is
resolved once per session: the first scan infers it (one Spark job),
later scans of the same file supply it and launch none. The memo is
keyed on the file fingerprint (`file_fingerprint`), so a rewritten
file is inferred again. Only metadata is kept, never data. A table
path that is not a regular file (e.g. a Spark-written dataset
directory, whose stat does not change when an inner part file is
rewritten) is inferred on every scan.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmt_dbt_spark.session import schema_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
# Tables safe to hint `F.broadcast` at ANY scale factor: only the
# constant-cardinality dims (region = 5 rows, nation = 25 rows,
# independent of sf). customer/supplier/part grow linearly with sf —
# a forced hint on them is honored past autoBroadcastJoinThreshold
# and OOMs at the 100 TB design point, so they are left to AQE.
BROADCAST_TABLES = frozenset({"region", "nation"})


def file_fingerprint(path: str) -> tuple[str, int, int] | None:
    """``(abspath, st_mtime_ns, st_size)`` of a regular file; ``None``
    for a missing path or anything else (a directory's stat misses
    rewrites of the files inside it)."""
    p = os.path.abspath(path)
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return p, st.st_mtime_ns, st.st_size


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table.

    Plain parquet scan → Catalyst gets filter pushdown + column
    pruning for free. The schema is resolved once per session and
    table file: the first scan infers it, later scans of a file with
    the same fingerprint read with the memoized schema and run no
    schema-inference job. Only the schema is memoized, never data;
    directories are inferred on every scan.

    `events.parquet` has shipped with two physical layouts across
    testdata generations: TIMESTAMP(NANOS) (rejected by the Spark
    reader; `spark.sql.legacy.parquet.nanosAsLong` in session.tune
    makes it arrive as a long we truncate to micros — the same
    truncation DuckDB applies reading TIMESTAMP_NS) and plain
    timestamp[us] without timezone (arrives as TIMESTAMP_NTZ). Both
    are normalized to TIMESTAMP here: under the UTC session time zone
    the NTZ→LTZ cast is value-preserving, and downstream operators
    (`unix_micros`, watermarks, `window()`) see one stable type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = schema_memo(spark)
    key = file_fingerprint(path)
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
        if key is not None:
            memo[key] = schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        # EVENT-TIME CONTRACT (r3 adversarial finding): ts is the
        # timeline backbone — Spark's own event-time operators
        # (window, session_window, watermarks) silently DROP null-ts
        # rows while plain analytic windows ORDER them (NULLS FIRST,
        # differently from DuckDB's NULLS LAST), so a null-ts event
        # gives inconsistent, engine-dependent placement query by
        # query. The engine enforces the contract once, here: rows
        # without event time are invisible to event analytics (a real
        # pipeline quarantines them at ingest). The scan-side filter
        # pushes into the parquet reader. Every oracle assumes the
        # same contract (driver testdata satisfies it by
        # construction).
        df = df.filter(F.col("ts").isNotNull())
    return df
