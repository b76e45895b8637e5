"""True Structured Streaming tests: the batch-registered window ops
executed as real streams (file source → memory sink), watermark
late-row dropping with controlled arrival order, streaming dedup."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
)


def _write_events(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, src_dir, transform, name, batches):
    """Run a streaming query over `batches` (list of row-lists), writing one
    file per batch and draining the query between writes so each file is its
    own micro-batch (deterministic watermark advancement)."""
    stream = transform(spark.readStream.schema(EVENT_SCHEMA).json(src_dir))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        for i, rows in enumerate(batches):
            _write_events(f"{src_dir}/{i}.json", rows)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i % 50:02d}:00", "user_id": i % 3,
         "event_type": "click", "value": 1.0}
        for i in range(50)
    ]
    # sentinel batch advances the watermark past every 10:xx window so all
    # of them close and are emitted in append mode
    sentinel = [{"event_id": 999, "ts": "2024-01-01T12:00:00", "user_id": 0,
                 "event_type": "click", "value": 1.0}]

    def agg(df):
        return (
            df.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count("*").alias("n"))
        )

    out = _run_stream(spark, src, agg, "tumbling_t", [rows, sentinel])
    batch = (
        spark.read.schema(EVENT_SCHEMA)
        .json(f"{src}/0.json")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
    )
    assert sorted((r.window.start, r.n) for r in out.collect()) == sorted(
        (r.window.start, r.n) for r in batch.collect()
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        # batch 0: recent events advance the watermark to 12:00 − 10min
        [{"event_id": 1, "ts": "2024-01-01T12:00:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
        # batch 1: an event 2 hours late — behind the watermark, dropped
        [{"event_id": 2, "ts": "2024-01-01T10:00:00", "user_id": 1,
          "event_type": "click", "value": 1.0},
         {"event_id": 3, "ts": "2024-01-01T12:01:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
        # batch 2: push event-time past 12:01+10min so windows close
        [{"event_id": 4, "ts": "2024-01-01T12:30:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
    ]

    def agg(df):
        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count("*").alias("n"))
        )

    out = _run_stream(spark, src, agg, "late_t", batches)
    got = {r.window.start.isoformat(): r.n for r in out.collect()}
    # the 10:00 window must NOT appear (its only row arrived late);
    # the 12:00 window closed with both on-time rows.
    assert "2024-01-01T10:00:00" not in got
    assert got.get("2024-01-01T12:00:00") == 2


def test_sliding_window_stream(spark, tmp_path):
    """Sliding windows (10 min, sliding by 5): one event at 10:07
    lands in two overlapping windows; sentinel closes them both."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [{"event_id": 1, "ts": "2024-01-01T10:07:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
        [{"event_id": 2, "ts": "2024-01-01T12:00:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
    ]

    def agg(df):
        return (
            df.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.count("*").alias("n"))
        )

    out = _run_stream(spark, src, agg, "sliding_t", batches)
    starts = sorted(r.window.start.isoformat() for r in out.collect()
                    if r.window.start.hour == 10)
    assert starts == ["2024-01-01T10:00:00", "2024-01-01T10:05:00"]


def test_session_window_stream(spark, tmp_path):
    """True streaming session windows: events 5 min apart fuse into
    one session (gap 10 min); a 30-min silence then a new event opens
    a second session; a far-future sentinel closes everything."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    def ev(i, ts, uid=1):
        return {"event_id": i, "ts": ts, "user_id": uid,
                "event_type": "click", "value": 1.0}

    batches = [
        [ev(1, "2024-01-01T10:00:00"), ev(2, "2024-01-01T10:05:00")],
        [ev(3, "2024-01-01T10:40:00")],          # > 10 min gap → new session
        [ev(4, "2024-01-01T13:00:00", uid=99)],  # sentinel advances watermark
    ]

    def agg(df):
        return (
            df.withWatermark("ts", "5 minutes")
            .groupBy(F.session_window("ts", "10 minutes"), "user_id")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "user_id",
                "n",
            )
        )

    out = _run_stream(spark, src, agg, "session_t", batches)
    rows = {(r.s.isoformat(), r.e.isoformat(), r.n)
            for r in out.collect() if r.user_id == 1}
    # session 1: 10:00–10:05 events, extends 10 min past the last event
    assert ("2024-01-01T10:00:00", "2024-01-01T10:15:00", 2) in rows
    # session 2: the lone 10:40 event
    assert ("2024-01-01T10:40:00", "2024-01-01T10:50:00", 1) in rows


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [{"event_id": 7, "ts": "2024-01-01T12:00:00", "user_id": 1,
          "event_type": "click", "value": 1.0}],
        [{"event_id": 7, "ts": "2024-01-01T12:00:05", "user_id": 1,
          "event_type": "click", "value": 1.0},  # duplicate key → dropped
         {"event_id": 8, "ts": "2024-01-01T12:00:10", "user_id": 1,
          "event_type": "click", "value": 1.0}],
    ]

    def dedup(df):
        return df.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])

    out = _run_stream(spark, src, dedup, "dedup_t", batches)
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [7, 8]


def test_checkpoint_recovery_resumes_state(spark, tmp_path):
    """Kill a stateful streaming query mid-stream, restart it from
    the SAME checkpoint, feed more data: the restarted query must
    resume its aggregation state (counts continue, not restart) and
    never re-emit already-processed input — the exactly-once
    resumption contract a production pipeline relies on after any
    executor/driver loss."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def agg_stream(s):
        return s.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )

    def start(name):
        stream = agg_stream(spark.readStream.schema(EVENT_SCHEMA).json(src))
        return (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    rows1 = [
        {"event_id": i, "ts": "2024-01-01T10:00:00", "user_id": i % 2,
         "event_type": "click", "value": 1.0}
        for i in range(10)
    ]
    q1 = start("ckpt_run1")
    try:
        _write_events(f"{src}/0.json", rows1)
        q1.processAllAvailable()
        first = {r.user_id: r.n for r in spark.sql("SELECT * FROM ckpt_run1").collect()}
        assert first == {0: 5, 1: 5}
    finally:
        q1.stop()  # simulated failure/shutdown

    rows2 = [
        {"event_id": 100 + i, "ts": "2024-01-01T10:01:00", "user_id": i % 2,
         "event_type": "click", "value": 1.0}
        for i in range(6)
    ]
    _write_events(f"{src}/1.json", rows2)  # arrives while "down"
    q2 = start("ckpt_run2")
    try:
        q2.processAllAvailable()
        resumed = {r.user_id: (r.n, r.total)
                   for r in spark.sql("SELECT * FROM ckpt_run2").collect()}
        # state carried over: 5+3 per user, totals accumulated — and
        # batch 0 was NOT reprocessed (counts would be 10+3 if replayed
        # on empty state, or doubled if double-counted).
        assert resumed == {0: (8, 8.0), 1: (8, 8.0)}
    finally:
        q2.stop()


def test_python_stream_source_multibatch_progression(spark):
    """The custom Python streaming source must advance offsets across
    MULTIPLE micro-batches (batch=25 over n=100 -> >=4 batches) and
    deliver exactly-once totals; processAllAvailable drains until the
    offset stops advancing (read returns an empty slice at pos=n)."""
    import uuid

    from gmt_dbt_spark.sources.pydatasource import BoundedTicksDataSource

    spark.dataSource.register(BoundedTicksDataSource)
    qname = f"ticks_mb_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("bounded_ticks")
        .option("n", "100")
        .option("batch", "25")
        .load()
    )
    q = stream.writeStream.format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT COUNT(*) AS n, CAST(SUM(i) AS BIGINT) AS s "
                         f"FROM {qname}").collect()[0]
        assert rows.n == 100, rows
        assert rows.s == sum(range(100))
        # multiple micro-batches actually ran
        assert q.lastProgress["batchId"] >= 3, q.lastProgress
    finally:
        q.stop()
        spark.catalog.dropTempView(qname)


def test_pin_mtimes_orders_lexicographically(tmp_path):
    """pin_mtimes must produce strictly increasing mtimes in sorted
    name order — the property batch admission depends on."""
    import os

    from gmt_dbt_spark.streaming.stateful import pin_mtimes

    names = ["part-1.json", "part-90.json", "part-0.json", "part-91.json"]
    for n in names:
        (tmp_path / n).write_text("{}\n")
    pin_mtimes(str(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / n) for n in sorted(names)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_sentinel_times_clear_all_real_expiries(spark):
    """Derived sentinel 1 minus the watermark delay must land beyond
    max(ts) (so every real expiry passes), and sentinel 2 beyond
    sentinel 1 — for any data span."""
    import datetime

    from gmt_dbt_spark.catalog import table
    from gmt_dbt_spark.streaming.stateful import sentinel_times
    from tests.conftest import SF_DIR

    ev = table(spark, SF_DIR, "events")
    s1, s2 = sentinel_times(ev, delay_days=40)
    fmt = "%Y-%m-%dT%H:%M:%S.%f"
    t1 = datetime.datetime.strptime(s1, fmt)
    t2 = datetime.datetime.strptime(s2, fmt)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    assert t1 - datetime.timedelta(days=40) > mx
    assert t2 - datetime.timedelta(days=40) > t1


def test_scoped_conf_restores_on_error(spark):
    """scoped_conf must restore (or unset) every key even when the
    body raises."""
    import pytest as _pytest

    from gmt_dbt_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _pytest.raises(RuntimeError):
        with scoped_conf(spark, **{key: "7"}):
            assert spark.conf.get(key) == "7"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_replay_cache_variant_and_invalidation(spark, tmp_path):
    """The replay-shard cache must (a) reuse the authored shards for
    an identical (source, split, frame) request, (b) key DIFFERENT
    frames into different entries WITHOUT any caller-supplied tag —
    the hostile-events sweep caught the first cut serving the upsert
    harness's filtered frame the unfiltered shards, and the fix
    derives the variant from the analyzed plan so it cannot be
    forgotten — and (c) invalidate when the source parquet is
    regenerated. Run dirs live under SCRATCH like the real harnesses
    (hardlinks need one filesystem; elsewhere the copy fallback is
    exercised instead, which this test does not assert on)."""
    import os
    import shutil
    import uuid

    from gmt_dbt_spark.streaming.stateful import (
        SCRATCH,
        _frame_fingerprint,
        _replay_cache_dir,
        write_replay,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    ev = spark.range(10).selectExpr(
        "id AS event_id",
        "timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id AS INT),0) AS ts",
        "CASE WHEN id = 3 THEN NULL ELSE id % 4 END AS user_id",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
        "'{}' AS props",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "stage" / part, os.path.join(sf, "events.parquet"))

    filtered = ev.filter(F.col("user_id").isNotNull())
    fp_plain, fp_filt = _frame_fingerprint(ev), _frame_fingerprint(filtered)
    assert fp_plain != fp_filt  # different frames → different keys, no tag needed
    key_plain = _replay_cache_dir(sf, 2, "mod", fp_plain)

    base = os.path.join(SCRATCH, f"replay_cache_test_{uuid.uuid4().hex[:8]}")
    try:
        d1 = os.path.join(base, "run1"); os.makedirs(d1)
        write_replay(ev, d1, sf_dir=sf)
        assert os.path.exists(os.path.join(key_plain, "_OK"))
        authored = os.stat(os.path.join(key_plain, "part-0.json")).st_ino

        # reuse: second run hardlinks the same inode, no re-author
        d2 = os.path.join(base, "run2"); os.makedirs(d2)
        write_replay(ev, d2, sf_dir=sf)
        assert os.stat(os.path.join(d2, "part-0.json")).st_ino == authored

        # frame separation: the filtered frame authors its own shards
        d3 = os.path.join(base, "run3"); os.makedirs(d3)
        write_replay(filtered, d3, sf_dir=sf)
        lines = open(os.path.join(d3, "part-0.json")).read() + open(
            os.path.join(d3, "part-1.json")
        ).read()
        assert '"user_id": null' not in lines and '"user_id":null' not in lines
        plain_lines = open(os.path.join(d2, "part-0.json")).read() + open(
            os.path.join(d2, "part-1.json")
        ).read()
        assert "null" in plain_lines  # the unfiltered shards keep the null row

        # shard mtimes are pre-pinned at author time (never expose an
        # authored-now mtime through a shared inode)
        assert os.stat(os.path.join(key_plain, "part-0.json")).st_mtime == 1_700_000_000

        # invalidation: touching the source parquet changes the key
        os.utime(os.path.join(sf, "events.parquet"))
        assert _replay_cache_dir(sf, 2, "mod", fp_plain) != key_plain

        # a dataset DIRECTORY named events.parquet is never cached
        dsf = str(tmp_path / "sfdir"); os.makedirs(os.path.join(dsf, "events.parquet"))
        assert _replay_cache_dir(dsf, 2, "mod", fp_plain) is None
    finally:
        shutil.rmtree(base, ignore_errors=True)
        for k in {
            _replay_cache_dir(sf, 2, "mod", fp_plain),
            _replay_cache_dir(sf, 2, "mod", fp_filt),
            key_plain,
        }:
            if k:
                shutil.rmtree(k, ignore_errors=True)


def test_stream_corpus_ingest_keeps_first_arrival_not_min_id(spark, tmp_path):
    """The streaming ingest's keeper is the first-ARRIVING doc per
    fingerprint, which differs from the globally-lowest doc_id
    whenever a duplicate lands in an earlier shard with a higher id.
    Craft exactly that: ids 4 (shard 1) and 6 (shard 0) share text —
    the streaming run must keep 6 (arrives first), where any
    batch-collapsed run would keep 4. Also pins that a later-batch
    duplicate (id 5, shard 2) cannot displace an earlier keeper, and
    that a gated-out doc never blocks a later arrival of the same
    text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    dup = "the same long duplicated document body with many tokens inside it"
    other = "a completely different document body that also passes the gate"
    texts = {
        4: dup,       # shard 1
        6: dup,       # shard 0 — arrives FIRST, must be the keeper
        5: dup,       # shard 2 — later duplicate, must not displace
        3: other,     # shard 0
        7: "short",   # shard 1 — fails the quality gate
        9: other,     # shard 0, same batch as 3 → within-batch keeper 3
    }
    d = tmp_path / "stream_ingest_fixture"
    d.mkdir()
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": [texts[i] for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["web"] * len(ids),
                "n_chars": [len(texts[i]) for i in ids],
            }
        ),
        str(d / "documents.parquet"),
    )
    rows = {
        r.doc_id: r for r in all_queries()["stream_corpus_ingest"](spark, str(d)).collect()
    }
    assert set(rows) == {6, 3}, rows
    # the two keepers carry distinct content fingerprints
    assert rows[6].fp != rows[3].fp


def test_final_update_readback_bound_and_reduction(spark, monkeypatch):
    """The r9 memory-sink readback contract, mechanically: the
    reducer picks the max-n_events row per user regardless of sink
    order, and REFUSES past STREAM_REPLAY_MAX_STATE_ROWS instead of
    materializing a production-sized update stream on the driver."""
    import pytest as _pytest

    from gmt_dbt_spark.streaming import stateful as st

    rows = [
        (1, 2, 20.0, 200),
        (1, 1, 10.0, 100),  # stale update — must lose to n_events=2
        (2, 1, 5.0, 50),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, n_events bigint, total double, last_us bigint"
    )
    df.createOrReplaceTempView("readback_t")
    got = sorted(st._final_update_per_user(spark, "readback_t", "last_us"))
    assert got == [(1, 2, 20.0, 200), (2, 1, 5.0, 50)]

    monkeypatch.setattr(st, "STREAM_REPLAY_MAX_STATE_ROWS", 2)
    with _pytest.raises(RuntimeError, match="replay-harness bound"):
        st._final_update_per_user(spark, "readback_t", "last_us")
    spark.catalog.dropTempView("readback_t")


def test_upsert_batch_evaluates_each_micro_batch_once(spark, tmp_path):
    """`upsert_batch` (the `stream_upsert_sink` foreachBatch function)
    computes each micro-batch once: a post-aggregate projection that
    counts its evaluations runs once per output row per epoch, although
    the MERGE reads the batch on both sides of its union."""
    from gmt_dbt_spark.streaming.stateful import run_replay, upsert_batch

    src = tmp_path / "src"
    src.mkdir()
    for name in ("a", "b"):
        (src / f"{name}.json").write_text(
            "".join(json.dumps({"k": k, "v": 1.0}) + "\n" for k in (1, 2, 3))
        )
    target = str(tmp_path / "target")
    spark.createDataFrame([(k, 0.0) for k in (1, 2, 3)], "k long, total double") \
        .write.parquet(target)

    evaluations = spark.sparkContext.accumulator(0)

    def tick(x):
        evaluations.add(1)
        return x

    agg = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .groupBy("k")
        .agg(F.sum("v").alias("total"))
        .withColumn("total", F.udf(tick, "double")("total"))
    )
    merge = upsert_batch(target, ["k"])
    epochs = []

    def counted(batch, epoch):
        epochs.append(epoch)
        merge(batch, epoch)

    run_replay(agg, str(tmp_path / "ckpt"), mode="complete", foreach=counted)
    assert len(epochs) == 2
    assert evaluations.value == 3 * len(epochs)
    got = sorted((r.k, r.total) for r in spark.read.parquet(target).collect())
    assert got == [(1, 2.0), (2, 2.0), (3, 2.0)]
