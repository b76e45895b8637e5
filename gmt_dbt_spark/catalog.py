"""Table access over the parquet warehouse, and the one answer to
"what is this parquet path's schema?".

The reference registers BigQuery *external tables* over GCS objects
(`main.py:314-349`); our analogue is unmanaged reads over a warehouse
directory of parquet files. ``table()`` is the single scan entry
point every query builder uses, so scan behavior (pushdown-friendly
plain parquet scans) is uniform.

Like the reference's external tables, whose schema is autodetected
once at registration, a parquet path's schema is resolved once per
session: ``read_parquet`` infers it on the first read of a path (one
Spark job) and memoizes it; later reads of the same files supply it
and launch none. ``seed_schema`` lets a writer record the schema of
what it just wrote, so even the first read-back runs no job. The memo
holds one entry per absolute path, ``(file_fingerprint, schema)``: a
rewritten file or directory has a new fingerprint and is inferred
again, a path rewritten over and over keeps one entry, and entries of
deleted paths are dropped. Only metadata is kept, never data.
"""

from __future__ import annotations

import hashlib
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


def _spark_hidden(name: str) -> bool:
    """Names Spark's file index skips when it lists a dataset
    (`_SUCCESS`, `.crc` checksums, `_temporary`), though not a
    partition directory such as ``_p=1``."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def file_fingerprint(path: str) -> tuple | None:
    """``(abspath, st_mtime_ns, st_size)`` of a regular file;
    ``(abspath, digest)`` of a directory, the digest an md5 over the
    relative path, ``st_mtime_ns`` and ``st_size`` of every data file
    under it (Spark's hidden names skipped, partition directories
    walked); ``None`` for a missing path. A Spark rewrite of a
    directory writes new part-file names, so its digest changes."""
    p = os.path.abspath(path)
    try:
        st = os.stat(p)
        if not stat.S_ISDIR(st.st_mode):
            return p, st.st_mtime_ns, st.st_size
        digest = hashlib.md5()
        for root, dirs, files in os.walk(p):
            dirs[:] = sorted(d for d in dirs if not _spark_hidden(d))
            for f in sorted(f for f in files if not _spark_hidden(f)):
                fst = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), p)
                digest.update(f"{rel}\0{fst.st_mtime_ns}\0{fst.st_size}\n".encode())
    except OSError:
        return None
    return p, digest.hexdigest()


def _remember(spark: SparkSession, fingerprint: tuple | None, schema: T.StructType) -> None:
    """Record ``schema`` for the path ``fingerprint`` was taken of (a
    ``None`` fingerprint, a missing path, records nothing), and drop
    the entries of paths that no longer exist (builders' scratch
    directories), so the memo holds only live paths."""
    if fingerprint is None:
        return
    memo = schema_memo(spark)
    for p in [p for p in list(memo) if not os.path.exists(p)]:
        memo.pop(p, None)
    memo[fingerprint[0]] = fingerprint, schema


def seed_schema(spark: SparkSession, path: str, schema: T.StructType) -> None:
    """Memoize ``schema`` for the parquet files a non-partitioned write
    has just put at ``path``. Never call it after a partitioned write:
    inference re-types partition values (a string column holding
    ``"7"`` reads back as int), so the writer's schema is not what a
    read would see."""
    _remember(spark, file_fingerprint(path), schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan the parquet file or dataset directory at ``path``.

    On the first read of the path's current files the schema is
    inferred (one Spark job) and memoized; a read whose fingerprint
    matches the memo supplies the schema and runs no job. Partitioned
    directories are inferred like any other (partition columns and
    their types included) and memoized from that inference."""
    fingerprint = file_fingerprint(path)
    memo_fingerprint, schema = schema_memo(spark).get(os.path.abspath(path), (None, None))
    if fingerprint is not None and fingerprint == memo_fingerprint:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember(spark, fingerprint, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table.

    Plain parquet scan (`read_parquet`) → Catalyst gets filter
    pushdown + column pruning for free, and the table's schema is
    inferred once per session and table file or directory.

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
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
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
