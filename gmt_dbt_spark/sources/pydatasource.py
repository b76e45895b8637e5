"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`).

The reference's ingestion is a hand-rolled discover-files →
register-external-table loop (`main.py:58-91`, `main.py:314-349`);
the Spark 4 Python DataSource API is the pluggable, engine-integrated
form of the same extension point: a user-defined source participates
in planning (schema, partitions) and executes distributed (one task
per InputPartition), instead of driver-side imperative registration.

This module ships a deterministic generator source — the pattern for
wrapping ANY external system (an API pager, a proprietary format, a
message queue snapshot) as a first-class scan. Everything here must
import WITHOUT an active SparkSession: executors re-import the module
to deserialize the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from gmt_dbt_spark.registry import query


class SyntheticEventsDataSource(DataSource):
    """`format("synthetic_events")`: n deterministic rows computed
    from the row index alone (i, user_id = i mod 50, value =
    (i² mod 1000)/10) — reproducible by plain SQL arithmetic, which
    is what makes the source oracle-checkable end-to-end."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "i bigint, user_id bigint, value double"

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("partitions", 4))

    def partitions(self) -> list[InputPartition]:
        # strided split: partition p owns rows p, p+P, p+2P, ... —
        # balanced regardless of n, no planning-time row ranges.
        return [InputPartition(p) for p in range(self.num_partitions)]

    def read(self, partition: InputPartition):
        p = partition.value
        for i in range(p, self.n, self.num_partitions):
            yield (i, i % 50, (i * i % 1000) / 10.0)


@query(
    "scan_python_datasource",
    oracle="""
SELECT user_id,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM (SELECT range AS i, range % 50 AS user_id,
             CAST(range * range % 1000 AS DOUBLE) / 10.0 AS value
      FROM range(0, 5000))
GROUP BY user_id
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the registered custom source (4 partitions → 4
    parallel tasks), aggregate per user. The oracle recomputes the
    generator's arithmetic in SQL over `range()` — proving the custom
    source produces exactly its contract, partition-split included."""
    spark.dataSource.register(SyntheticEventsDataSource)
    df = (
        spark.read.format("synthetic_events")
        .option("n", "5000")
        .option("partitions", "4")
        .load()
    )
    from pyspark.sql import functions as F

    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
    )


class NdjsonDirDataSource(DataSource):
    """`format("ndjson_dir")` with WRITE support (Spark 4 Python
    DataSource writer): each task serializes its partition to one
    NDJSON shard under `path` — the distributed form of the
    reference's NDJSON interchange (`gcp_function.py:126` ships
    NEWLINE_DELIMITED_JSON load jobs; `main.py:249-252` rewrites
    arrays to NDJSON single-threaded). One shard per task = the
    write parallelism scales with the cluster, and a failed task
    re-writes only its own shard (Spark task retry), mirroring the
    per-file retry loop at `main.py:111-137` without hand-rolling
    it."""

    @classmethod
    def name(cls) -> str:
        return "ndjson_dir"

    def writer(self, schema, overwrite: bool):
        return NdjsonDirWriter(self.options, schema, overwrite)


class NdjsonCommitMessage(WriterCommitMessage):
    """Carries each task's staged-tmp → final shard paths to commit()."""

    def __init__(self, tmp_path: str, final_path: str) -> None:
        self.tmp_path = tmp_path
        self.final_path = final_path


class NdjsonDirWriter(DataSourceWriter):
    """DataSourceWriter with a two-phase commit: executors stream each
    task's rows to a HIDDEN staging name (``.part-*.json.tmp`` — never
    matched by the ``*.json`` read-back glob), and only the driver's
    ``commit()`` renames the staged shards into place (atomic on POSIX
    / one metadata op on shared stores). A task that dies mid-write
    leaves only an invisible tmp file, so retries can't surface
    truncated or duplicate shards; ``abort()`` deletes all staged
    tmps. ``overwrite`` mode clears pre-existing ``*.json`` shards at
    commit time — after the new data is fully staged, never before."""

    def __init__(self, options, schema, overwrite: bool = False) -> None:
        self.path = options.get("path")
        self.fields = [f.name for f in schema.fields]
        self.overwrite = overwrite

    def write(self, iterator):
        # Executed on the executor: import inside the method so the
        # pickled writer stays import-light (pydatasource contract).
        import json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        os.makedirs(self.path, exist_ok=True)
        final = os.path.join(self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.json")
        tmp = os.path.join(self.path, "." + os.path.basename(final) + ".tmp")
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(dict(zip(self.fields, row)), default=str) + "\n")
        return NdjsonCommitMessage(tmp, final)

    def commit(self, messages):
        import glob
        import os

        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "*.json")):
                os.remove(old)
        for m in messages:
            if m is not None:
                os.rename(m.tmp_path, m.final_path)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.tmp_path)
                except OSError:
                    pass


@query(
    "sink_python_datasource",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_orderkey % 150 = 0
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the custom Python DataSource WRITER (one NDJSON
    shard per task, executor-side), then scan the shards back with
    the built-in JSON reader. The oracle reads the original parquet:
    the custom writer must round-trip values exactly. Completes the
    extension story: scan_python_datasource proves pluggable READ,
    this proves pluggable WRITE — together they wrap any external
    system as a first-class distributed source/sink."""
    import os

    from gmt_dbt_spark.catalog import table
    from gmt_dbt_spark.session import scratch_dir

    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    spark.dataSource.register(NdjsonDirDataSource)
    with scratch_dir("pyds_sink") as path:
        (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 150 == 0)
            .select(*cols)
            .write.format("ndjson_dir")
            .option("path", path)
            .mode("append")
            .save()
        )
        out = spark.read.json(os.path.join(path, "*.json")).select(*cols)
        return out.localCheckpoint(eager=True)  # detach, executor-side


class BoundedTicksDataSource(DataSource):
    """`readStream.format("bounded_ticks")`: a Spark 4 Python
    STREAMING data source (SimpleDataSourceStreamReader) generating a
    bounded, deterministic tick series — the pattern for wrapping any
    offset-addressable external feed (a queue snapshot, a paginated
    API, a replicated log segment) as a first-class streaming source
    with engine-managed offsets, checkpointing, and replay
    (readBetweenOffsets is the exactly-once recovery path).

    Rows are pure offset arithmetic (i, (i² mod 97)/10) so the final
    table is oracle-checkable by plain SQL over range()."""

    @classmethod
    def name(cls) -> str:
        return "bounded_ticks"

    def schema(self) -> str:
        return "i bigint, v double"

    def simpleStreamReader(self, schema):
        return BoundedTicksStreamReader(self.options)


class BoundedTicksStreamReader(SimpleDataSourceStreamReader):
    """Offsets are {"pos": next-row-index}; the source stops
    advancing at n (bounded replay)."""

    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.batch = int(options.get("batch", 100))

    def initialOffset(self):
        return {"pos": 0}

    @staticmethod
    def _row(i: int):
        return (i, (i * i % 97) / 10.0)

    def read(self, start):
        # must be a LIST-BACKED iterator: the engine's prefetch cache
        # calls next() on it (so not a bare list) and pickles it to
        # ship rows to executors (so not a generator)
        pos = start["pos"]
        end = min(pos + self.batch, self.n)
        return iter([self._row(i) for i in range(pos, end)]), {"pos": end}

    def readBetweenOffsets(self, start, end):
        # exactly-once replay after failure: re-emit a committed range
        return iter([self._row(i) for i in range(start["pos"], end["pos"])])


@query(
    "stream_python_datasource",
    oracle="""
SELECT range % 7 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(range * range % 97 AS DOUBLE) / 10.0
                * 10.0) AS BIGINT) AS sum_v_tenths
FROM range(0, 500)
GROUP BY range % 7
""",
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through the custom Python STREAMING
    source: readStream → aggregate-on-read → memory sink, availableNow
    (Spark's Python micro-batch stream falls back to single-batch
    execution for availableNow — deterministic full drain; the
    multi-batch offset progression + readBetweenOffsets replay are
    exercised in tests/test_streaming.py). The oracle recomputes the
    generator arithmetic over range() — end-to-end proof that a
    user-defined streaming source feeds the engine exactly its
    contract. Values are summed in integer tenths (the generator's
    exact grain) to stay hash-safe."""
    import uuid

    spark.dataSource.register(BoundedTicksDataSource)
    stream = (
        spark.readStream.format("bounded_ticks")
        .option("n", "500")
        .option("batch", "500")
        .load()
    )
    qname = f"ticks_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        f"""
        SELECT i % 7 AS bucket,
               COUNT(*) AS n,
               CAST(SUM(v * 10.0) AS BIGINT) AS sum_v_tenths
        FROM {qname}
        GROUP BY i % 7
        """
    )
    # detach from the memory sink before the table name goes stale
    res = out.localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    return res
