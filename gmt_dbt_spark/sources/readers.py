"""File readers — SURVEY.md §2.A scan operators.

Spark analogues of the reference's BigQuery external tables
(`main.py:314-349`): schema-autodetect JSON/CSV scans, whole-file
JSON arrays, declared-schema override. Where the reference rewrites
files (array→NDJSON at `main.py:249-252`) or re-uploads sanitized
copies, we express the same result as reader options + a metadata
projection — the scan itself stays distributed and pushdown-capable.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmt_dbt_spark.session import inherit_local_properties, tune

# Files `ingest_directory` loads at once: the reference's upload
# semaphore (`main.py:166-167`).
INGEST_CONCURRENCY = 6


def find_files(root: str, suffix: str) -> list[str]:
    """Recursive file discovery (`main.py:58-73`). For Spark reads
    prefer passing the directory + recursiveFileLookup instead; this
    exists for registry/driver bookkeeping."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(suffix))
    return sorted(out)


def detect_json_layout(path: str) -> str:
    """'ndjson' vs 'array' vs 'object' — the reference detects by
    attempting a whole-file parse and falling back to per-line
    (`main.py:197-212`); we do the cheap inverse: if the first
    non-blank LINE is complete JSON the file is NDJSON, otherwise a
    whole-file parse classifies it as a multi-line array or a single
    multi-line object (both need Spark's multiLine reader)."""
    import json

    first_line = ""
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if line.strip():
                first_line = line
                break
    try:
        first = json.loads(first_line)
        # a whole-array-on-one-line file is still an array payload
        return "array" if isinstance(first, list) else "ndjson"
    except (json.JSONDecodeError, ValueError):
        pass
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            whole = json.load(f)
        return "array" if isinstance(whole, list) else "object"
    except (json.JSONDecodeError, ValueError):
        return "ndjson"  # PERMISSIVE mode quarantines bad rows


def scan_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool | None = None,
) -> DataFrame:
    """NDJSON / whole-file-array JSON scan with autodetect
    (`main.py:318-320`); declared schema disables inference
    (`main.py:333-335`)."""
    tune(spark)
    if multiline is None and os.path.isfile(path):
        multiline = detect_json_layout(path) in ("array", "object")
    reader = spark.read.option("multiLine", bool(multiline)).option(
        "recursiveFileLookup", "true"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """CSV scan with the reference's external-table options
    (`main.py:321-326`): header skip (`skip_leading_rows=1`), quoted
    newlines (`allow_quoted_newlines`), jagged rows
    (`allow_jagged_rows` → PERMISSIVE null-fill), autodetect."""
    tune(spark)
    reader = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("recursiveFileLookup", "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def schema_from_json_file(path: str, table: str) -> tuple[T.StructType, list[str]]:
    """Load a declared schema + merge keys from the registry file —
    the reference's `schema.json` contract (`gcp_function.py:47-64`:
    returns (schema, on_condition_columns))."""
    with open(path) as f:
        reg = json.load(f)
    entry = reg[table]
    return (
        T.StructType.fromJson(entry["schema"]),
        list(entry.get("on_condition_columns", [])),
    )


def append_schema_to_registry(
    path: str, table: str, schema: T.StructType, keys: list[str]
) -> None:
    """Write-back half of the registry (`gcp_function.py:225-272`
    `append_bq_schema_to_json`)."""
    reg = {}
    if os.path.exists(path):
        with open(path) as f:
            reg = json.load(f)
    reg[table] = {"schema": schema.jsonValue(), "on_condition_columns": keys}
    with open(path, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)


def ingest_directory(spark: SparkSession, src_dir: str, warehouse_dir: str) -> int:
    """The reference's whole batch-ingestion lifecycle
    (`main.py:429-452`: discover → sanitize → upload → register) as
    one function: recursively discover `*.json` / `*.csv` under
    ``src_dir``, scan each with autodetect, sanitize identifiers
    (metadata-only — the reference rewrites file bytes,
    `main.py:240-245`; we rename columns in the projection), and
    write a parquet staging table per file under ``warehouse_dir``.
    Returns the number of tables written.

    Files load concurrently, at most ``INGEST_CONCURRENCY`` at once,
    as the reference's semaphore-bounded uploads do
    (`main.py:166-167`); each pool worker runs its file's scan and
    write jobs under the caller's local properties. Upload
    retry/timeout (`main.py:94-188`) collapse into Spark's task
    retry. Two files whose sanitized table names collide raise
    ``ValueError`` before anything is written. A failing file's
    exception carries its path as a note; the first failure in
    discovery order is raised once every worker has finished."""
    from gmt_dbt_spark.sources.sanitize import sanitize_columns, sanitize_table_name
    from gmt_dbt_spark.sources.sinks import sink_overwrite

    json_files = sorted(
        set(find_files(src_dir, ".json")) | set(find_files(src_dir, ".ndjson"))
    )
    tables: dict[str, str] = {}
    for path in json_files + find_files(src_dir, ".csv"):
        name = sanitize_table_name(os.path.splitext(os.path.basename(path))[0])
        if name in tables:
            raise ValueError(
                f"{tables[name]!r} and {path!r} both sanitize to table {name!r}"
            )
        tables[name] = path

    def load(name: str, path: str) -> None:
        try:
            df = scan_csv(spark, path) if path.endswith(".csv") else scan_json(spark, path)
            out = os.path.join(warehouse_dir, name)
            sink_overwrite(sanitize_columns(df), out)
        except Exception as e:
            e.add_note(f"while ingesting {path}")
            raise

    tune(spark)  # once, before the workers: they never race on conf writes
    worker = inherit_local_properties(spark, load)
    with ThreadPoolExecutor(max_workers=INGEST_CONCURRENCY) as pool:
        futures = [pool.submit(worker, name, path) for name, path in tables.items()]
    for fut in futures:
        fut.result()
    return len(tables)
