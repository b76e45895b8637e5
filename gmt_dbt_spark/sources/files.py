"""File-level sources and maintenance sinks: binary ingestion, the
small-files compaction pass, and a custom Python DataSource.

The reference ingests whole files from disk and registers them as
external tables (`main.py:58-91`, `main.py:314-349`); the analogues
here extend that to (a) OPAQUE binary payloads — the multimodal
ingestion entry point (images/audio arrive as bytes + metadata, per
SURVEY.md §2.K `multimodal_cols`), (b) the compaction pass every
long-lived 100 TB table needs (streaming/incremental writes fragment
into small files; scan throughput collapses when footer-read count
dwarfs row bytes), and (c) the Spark 4 Python DataSource API — the
modern pluggable form of the reference's hand-rolled
discover-and-register loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import read_parquet, table
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import scratch_dir
from gmt_dbt_spark.sources.sinks import sink_overwrite

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_BLOBS = os.path.join(REPO, "fixtures", "blobs")


@query(
    "scan_binary",
    oracle=f"""
SELECT parse_filename(filename) AS name,
       size AS length,
       hex(content) AS content_hex
FROM read_blob('{_BLOBS}/*.bin')
""",
)
def scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via the `binaryFile` source: each
    file becomes one row (path, length, raw bytes) — the multimodal
    entry point where image/audio payloads enter as opaque binary +
    metadata, never decoded engine-side. Projected to
    (name, length, hex(content)) so the oracle (DuckDB read_blob)
    compares the content byte-exactly (DuckDB 1.0 has no md5 over
    BLOB). At scale: files split across tasks by size, payload bytes
    stay executor-side."""
    df = spark.read.format("binaryFile").load(os.path.join(_BLOBS, "*.bin"))
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("length"),
        F.hex("content").alias("content_hex"),
    )


def compact_files(
    spark: SparkSession, src_dir: str, dst_dir: str, target_bytes: int = 128 << 20
) -> int:
    """Bin-pack a fragmented parquet directory into ~target_bytes
    files. Uses `coalesce` (narrow — no shuffle: tasks concatenate
    input splits) sized from the directory's actual byte count.
    Returns the output file count. At 100 TB this runs per-partition
    as routine maintenance; `repartition` (wide) is only needed when
    input files are size-skewed enough that bin-packing by count
    misallocates."""
    total = sum(
        os.path.getsize(os.path.join(src_dir, f))
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    n_out = max(1, -(-total // target_bytes))  # ceil
    sink_overwrite(read_parquet(spark, src_dir).coalesce(n_out), dst_dir)
    return len([f for f in os.listdir(dst_dir) if f.endswith(".parquet")])


@query(
    "sink_compact",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_qty
FROM lineitem
""",
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip: fragment lineitem into 64 small files
    (simulating incremental-write debris), bin-pack them back to a
    handful, and aggregate the compacted copy — values must equal the
    pristine source (compaction moves bytes, never changes rows).
    File-count reduction itself is pinned in tests/test_files.py."""
    li = table(spark, sf_dir, "lineitem")
    with scratch_dir("compact") as root:
        frag = os.path.join(root, "frag")
        out = os.path.join(root, "out")
        sink_overwrite(li.repartition(64), frag)
        compact_files(spark, frag, out, target_bytes=128 << 20)
        return read_parquet(spark, out).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)"))
            .cast("string")
            .cast("double")
            .alias("sum_qty"),
        ).localCheckpoint(eager=True)


@query(
    "multimodal_content_dedup",
    oracle=f"""
SELECT md5(hex(content)) AS content_key,
       COUNT(*) AS n_copies,
       MIN(parse_filename(filename)) AS canonical_file
FROM read_blob('{_BLOBS}/*.bin')
GROUP BY md5(hex(content))
""",
)
def multimodal_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup of binary payloads (SURVEY §2.K
    `multimodal_cols` content-hash dedup): every blob keyed by a
    digest of its BYTES (not its name/path), duplicates collapse to
    one canonical file — the storage-dedup step before any decode
    in an image/audio corpus. The digest is computed executor-side
    per file; only (digest, name) pairs shuffle — at 100 TB of
    media, bytes never move. (Digest is md5-of-hex so the DuckDB
    oracle, which lacks BLOB md5, computes the identical key.)"""
    df = spark.read.format("binaryFile").load(os.path.join(_BLOBS, "*.bin"))
    return (
        df.select(
            F.md5(F.encode(F.hex("content"), "UTF-8")).alias("content_key"),
            F.element_at(F.split("path", "/"), -1).alias("name"),
        )
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("name").alias("canonical_file"),
        )
    )
