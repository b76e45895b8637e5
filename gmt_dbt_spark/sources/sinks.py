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
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession


def sink_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Full-refresh truncate load (WRITE_TRUNCATE)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_written(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scan of the parquet table ``df`` was just written to at ``path``,
    read with ``df``'s own schema: inferring it from the files' footers
    would run a job to learn what the caller already knows."""
    return spark.read.schema(df.schema).parquet(path)


def sink_ctas(spark: SparkSession, select_df: DataFrame, path: str) -> DataFrame:
    """CREATE TABLE AS SELECT: materialize a query result as a new
    table and return the scan of the materialized copy."""
    select_df.write.mode("errorifexists").parquet(path)
    return read_written(spark, select_df, path)


class StagingTable:
    """`<table>_temp` staging lifecycle: write on enter, drop on exit."""

    def __init__(self, spark: SparkSession, df: DataFrame, path: str):
        self.spark = spark
        self.df = df
        self.path = path

    def __enter__(self) -> DataFrame:
        self.df.write.mode("overwrite").parquet(self.path)
        return read_written(self.spark, self.df, self.path)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
