"""Sinks — SURVEY.md §2.A: truncate-load, CTAS, staging lifecycle.

Path-based parquet writes (no metastore dependency — the correctness
driver's session has no configured warehouse). At cluster scale the
same calls target any Hadoop-FS URI; `partition_by` date keys gives
partition pruning on the read side.

`sink_overwrite` is the reference's WRITE_TRUNCATE load job
(`gcp_function.py:115-131`); `sink_ctas` is the *intent* of the
bronze dbt models (CTAS copy into a bronze layer — the models' own
embedded DDL is a reference bug, SURVEY.md §3.2); `StagingTable` is
the `<table>_temp` create-merge-drop lifecycle
(`gcp_function.py:159-164`, drop at `:112`).

A non-partitioned write seeds the schema memo (`catalog.seed_schema`)
with the written frame's schema, so the read-back of what a sink just
wrote (`catalog.read_parquet`) runs no schema-inference job. A
partitioned write is not seeded: inference re-types partition values
on read, so the writer's schema is not what a reader sees. An append
(`sink_append`) of the dataset's own fields keeps its schema, so it
carries the memoized schema over to the appended files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmt_dbt_spark.catalog import file_fingerprint, read_parquet, seed_schema
from gmt_dbt_spark.session import schema_memo


def sink_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Full-refresh truncate load (WRITE_TRUNCATE)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w.partitionBy(*partition_by).parquet(path)
        return
    w.parquet(path)
    seed_schema(df.sparkSession, path, df.schema)


def _fields(schema: T.StructType) -> list:
    """(name, type) of each field in order; nullability ignored (a
    parquet read is nullable whatever the writer's frame was)."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def sink_append(df: DataFrame, path: str) -> None:
    """Append ``df`` to the non-partitioned parquet dataset at
    ``path``. When the memo holds the schema of the dataset's files
    before the append and ``df`` has the same fields (name, order and
    type), the appended dataset keeps that schema: it is re-recorded
    under the new files' fingerprint, so the next read runs no
    schema-inference job. Otherwise the next read infers."""
    spark = df.sparkSession
    before = file_fingerprint(path)
    memo_fingerprint, schema = schema_memo(spark).get(
        os.path.abspath(path), (None, None)
    )
    df.write.mode("append").parquet(path)
    kept = before is not None and before == memo_fingerprint
    if kept and _fields(df.schema) == _fields(schema):
        seed_schema(spark, path, schema)


def sink_ctas(spark: SparkSession, select_df: DataFrame, path: str) -> DataFrame:
    """CREATE TABLE AS SELECT: materialize a query result as a new
    table and return the scan of the materialized copy."""
    select_df.write.mode("errorifexists").parquet(path)
    seed_schema(spark, path, select_df.schema)
    return read_parquet(spark, path)


class StagingTable:
    """`<table>_temp` staging lifecycle: write on enter, drop on exit."""

    def __init__(self, spark: SparkSession, df: DataFrame, path: str):
        self.spark = spark
        self.df = df
        self.path = path

    def __enter__(self) -> DataFrame:
        sink_overwrite(self.df, self.path)
        return read_parquet(self.spark, self.path)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
