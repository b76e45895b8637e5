"""catalog.table resolves each warehouse table's schema once per session:
warm scans launch no Spark job, rewritten files are seen fresh, and
dataset directories are never memoized."""

from __future__ import annotations

import gc
import os
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmt_dbt_spark.catalog import file_fingerprint, table
from gmt_dbt_spark.session import _SESSIONS


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


def test_directory_table_is_never_memoized(spark, tmp_path):
    """A Spark-style dataset directory keeps its stat when a part file
    inside it is rewritten, so it must be inferred on every scan."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    part = str(d / "part-0.parquet")
    pq.write_table(pa.table({"k": [1]}), part)
    assert file_fingerprint(str(d)) is None
    assert table(spark, str(tmp_path), "t").columns == ["k"]
    dst = os.stat(d)
    _rewrite(part, pa.table({"k": [1], "extra": [7]}))
    os.utime(d, ns=(dst.st_atime_ns, dst.st_mtime_ns))
    assert os.stat(d).st_mtime_ns == dst.st_mtime_ns
    assert table(spark, str(tmp_path), "t").collect() == [(1, 7)]


def test_each_session_object_keeps_its_own_record(spark, tmp_path):
    """The tuning flag and schema memo live in one record per session
    object: a new session is tuned and infers for itself, and its
    record is dropped when the session is collected."""
    from pyspark.sql.session import _monkey_patch_RDD

    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")
    table(spark, str(tmp_path), "t")
    n = len(_SESSIONS)
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
