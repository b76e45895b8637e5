"""catalog resolves each parquet path's schema once per session: warm
scans of a file or a dataset directory launch no Spark job, rewritten
files and part files are seen fresh, non-partitioned sinks seed the
memo, and every package read of a parquet path goes through catalog."""

from __future__ import annotations

import ast
import gc
import os
import shutil
import sys
import threading
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmt_dbt_spark.catalog import file_fingerprint, read_parquet, seed_schema, table
from gmt_dbt_spark.session import _SESSIONS, schema_memo
from gmt_dbt_spark.sources.sinks import sink_overwrite

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmt_dbt_spark")


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), via a job-group count."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog.table scan")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rewrite(path, tbl):
    """Rewrite ``path`` in place and move its mtime forward by 1 s, so the
    fingerprint changes even on a coarse-mtime filesystem."""
    st = os.stat(path)
    pq.write_table(tbl, path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_warm_scan_runs_no_job_and_keeps_schema(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, cold_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    second, warm_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    assert cold_jobs >= 1  # the inferring scan pays its job, so the check has teeth
    assert warm_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["k"]
    _rewrite(path, pa.table({"k": [1, 2], "extra": ["x", "y"]}))
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def _events(ts_type):
    ns = [
        1_700_000_000_123_456_789,
        None,
        1_700_000_001_000_000_999,
    ]
    if ts_type.unit == "us":
        ns = [None if v is None else v // 1000 * 1000 for v in ns]
    ts = pa.array(ns, pa.int64()).cast(pa.timestamp("ns"))
    return pa.table({"event_id": [1, 2, 3], "ts": ts.cast(ts_type)})


def test_events_ts_layouts_normalize_on_both_scans(spark, tmp_path):
    """TIMESTAMP(NANOS) (read as long under nanosAsLong) and
    timestamp[us] (read as TIMESTAMP_NTZ) both come back as TIMESTAMP,
    truncated to micros, without the null-ts row, on the inferring scan
    and on the memo scan alike."""
    want = [(1, 1_700_000_000_123_456), (3, 1_700_000_001_000_000)]
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(_events(pa.timestamp(unit)), d / "events.parquet", version="2.6")
        assert pq.read_schema(d / "events.parquet").field("ts").type == pa.timestamp(unit)
        for scan in ("inferring", "memo"):
            df = table(spark, str(d), "events")
            assert isinstance(df.schema["ts"].dataType, T.TimestampType), (unit, scan)
            got = sorted(df.select("event_id", F.unix_micros("ts")).collect())
            assert [tuple(r) for r in got] == want, (unit, scan)


def test_directory_table_is_memoized_until_a_part_file_changes(spark, tmp_path):
    """A dataset directory keeps its own stat when a part file inside
    it is rewritten; its fingerprint covers the part files, so a warm
    scan runs no job and the rewrite is still seen."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    part = str(d / "part-0.parquet")
    pq.write_table(pa.table({"k": [1]}), part)
    fp = file_fingerprint(str(d))
    assert fp is not None
    first, cold_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    second, warm_jobs = _with_jobs(spark, lambda: table(spark, str(tmp_path), "t"))
    assert cold_jobs >= 1 and warm_jobs == 0
    assert second.collect() == first.collect() == [(1,)]
    dst = os.stat(d)
    _rewrite(part, pa.table({"k": [1], "extra": [7]}))
    os.utime(d, ns=(dst.st_atime_ns, dst.st_mtime_ns))
    assert os.stat(d).st_mtime_ns == dst.st_mtime_ns
    assert file_fingerprint(str(d)) != fp
    assert table(spark, str(tmp_path), "t").collect() == [(1, 7)]


def test_partitioned_write_is_not_seeded(spark, tmp_path):
    """Inference re-types partition values, so a partitioned sink must
    leave the memo alone: a string partition column holding "7" reads
    back as the int inference gives."""
    path = str(tmp_path / "p")
    df = spark.createDataFrame([(1, "7")], "k bigint, part string")
    sink_overwrite(df, path, partition_by=["part"])
    assert os.path.abspath(path) not in schema_memo(spark)
    back, jobs = _with_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert back.schema["part"].dataType == T.IntegerType()
    assert back.collect() == [(1, 7)]


def test_memo_keeps_one_entry_per_path(spark, tmp_path):
    """A path rewritten again and again keeps one memo entry; each
    seeded rewrite is read back with no job and with its own schema,
    and the entry of a deleted path is dropped."""
    path = str(tmp_path / "t")
    for i in range(5):
        df = spark.range(3).selectExpr("id", *[f"id + {j} AS c{j}" for j in range(i)])
        sink_overwrite(df, path)
        back, jobs = _with_jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        assert back.columns == df.columns and sorted(back.collect()) == sorted(df.collect())
    under = [p for p in schema_memo(spark) if p.startswith(str(tmp_path))]
    assert under == [os.path.abspath(path)]
    shutil.rmtree(path)
    sink_overwrite(spark.range(1), str(tmp_path / "other"))
    assert os.path.abspath(path) not in schema_memo(spark)


def test_concurrent_seeds_keep_every_entry(spark, tmp_path):
    """Writers seed the memo from pool threads (ingest, model runs):
    under many threads and a short switch interval, every live path
    keeps the schema its own writer seeded last."""
    schema_memo(spark)  # tune before the threads, as the pools do
    n_threads, rounds = 16, 40
    schemas = [T.StructType([T.StructField(f"c{i}", T.LongType())]) for i in range(n_threads)]
    paths = [str(tmp_path / f"t{i}") for i in range(n_threads)]
    errors = []

    def writer(i):
        try:
            os.makedirs(paths[i])
            for r in range(rounds):
                with open(os.path.join(paths[i], f"part-{r}.parquet"), "w") as f:
                    f.write("x")
                seed_schema(spark, paths[i], schemas[i])
                if schema_memo(spark)[os.path.abspath(paths[i])][1] != schemas[i]:
                    errors.append((i, r))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    memo = schema_memo(spark)
    for path, schema in zip(paths, schemas):
        assert memo[os.path.abspath(path)] == (file_fingerprint(path), schema)

def test_each_session_object_keeps_its_own_record(spark, tmp_path):
    """The tuning flag and schema memo live in one record per session
    object: a new session is tuned and infers for itself, and its
    record is dropped when the session is collected."""
    from pyspark.sql.session import _monkey_patch_RDD

    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    table(spark, str(tmp_path), "t")
    # hold every session already recorded, streaming queries' clones
    # included (released whenever their query is), so only `other`
    # can come or go below
    recorded = list(_SESSIONS)
    n = len(recorded)
    other = spark.newSession()
    try:
        df, jobs = _with_jobs(other, lambda: table(other, str(tmp_path), "t"))
        assert jobs >= 1  # not served the first session's schema
        assert df.collect() == [(1,)]
        assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert len(_SESSIONS) == n + 1
    finally:
        # a new session object rebinds RDD.toDF to itself; hand it back
        _monkey_patch_RDD(spark)
    ref = weakref.ref(other)
    del other, df
    gc.collect()
    assert ref() is None
    assert len(_SESSIONS) == n


# Package parquet reads that keep their own reader, by (module,
# enclosing function), with the reason.
OWN_PARQUET_READS = {
    ("sources/layout.py", "read_version"): "reads a manifest's file list, not one path",
    ("sources/layout.py", "rollup"): "reads a manifest's file list, not one path",
    ("sources/ingest_queries.py", "scan_schema_evolution"): (
        "a mergeSchema read: the query shows two batches' schemas merged"
    ),
}


def _parquet_reads(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``<x>.read<...>.parquet(...)``
    call: a plain read, or one after ``.schema(...)``/``.option(...)``."""
    found = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "parquet":
            chain = node.func.value
            while isinstance(chain, (ast.Call, ast.Attribute)):
                if isinstance(chain, ast.Attribute) and chain.attr == "read":
                    found.append((fn, node.lineno))
                    break
                chain = chain.func if isinstance(chain, ast.Call) else chain.value
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return found


def test_one_parquet_schema_path():
    """Source-level gate: every package read of a parquet path goes
    through `catalog.read_parquet` (and so through its schema memo),
    apart from the named sites, and `sinks.read_written` is gone."""
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = f.read()
            rel = os.path.relpath(path, PACKAGE)
            if "read_written" in text:
                offenders.append(f"{rel} names read_written")
            if rel == "catalog.py":
                continue
            offenders += [
                f"{rel}:{line} ({fn}) reads parquet without catalog"
                for fn, line in _parquet_reads(ast.parse(text))
                if (rel, fn) not in OWN_PARQUET_READS
            ]
    assert not offenders, offenders
