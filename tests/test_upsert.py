"""Upsert property tests (SURVEY.md §5.5): matched/not-matched
semantics of gcp_function.py:82-92, idempotence, dispatch, and the
partition-scoped variant."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gmt_dbt_spark.operators.upsert import (
    dedupe_staging,
    final_load,
    merge_in_place,
    merge_upsert,
    merge_upsert_evolve,
    upsert_partitioned,
)
from gmt_dbt_spark.sources.sinks import sink_overwrite

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


@pytest.fixture
def target(spark):
    return spark.createDataFrame(
        [Row(id=f"k{i}", val=f"old{i}", updated_at="2024-01-01") for i in range(6)]
    )


@pytest.fixture
def staging(spark):
    # k3..k5 update, k6..k8 insert
    return spark.createDataFrame(
        [Row(id=f"k{i}", val=f"new{i}", updated_at="2024-02-01") for i in range(3, 9)]
    )


def test_matched_and_not_matched(spark, target, staging):
    got = {r.id: r for r in merge_upsert(target, staging, ["id"]).collect()}
    assert len(got) == 9
    assert got["k0"].val == "old0"  # untouched
    assert got["k3"].val == "new3"  # updated (replaced)
    assert got["k8"].val == "new8"  # inserted
    assert got["k3"].updated_at == "2024-02-01"  # ALL non-key cols updated


def test_idempotent(spark, target, staging):
    once = merge_upsert(target, staging, ["id"])
    twice = merge_upsert(once, staging, ["id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_missing_key_raises(spark, target, staging):
    with pytest.raises(ValueError):
        merge_upsert(target, staging, [])
    with pytest.raises(ValueError):
        merge_upsert(target, staging, ["nope"])


def test_dedupe_staging_keeps_latest(spark):
    dup = spark.createDataFrame(
        [
            Row(id="a", val="v1", updated_at="2024-01-01"),
            Row(id="a", val="v2", updated_at="2024-03-01"),
            Row(id="b", val="v3", updated_at="2024-01-01"),
        ]
    )
    got = {r.id: r.val for r in dedupe_staging(dup, ["id"], "updated_at").collect()}
    assert got == {"a": "v2", "b": "v3"}


def test_final_load_dispatch(spark, target, staging, tmp_path):
    tpath, spath = str(tmp_path / "target"), str(tmp_path / "staging")
    final_load(spark, target, tpath, spath, ["id"], "Create")
    assert spark.read.parquet(tpath).count() == 6
    final_load(spark, staging, tpath, spath, ["id"], "Update")
    got = {r.id: r.val for r in spark.read.parquet(tpath).collect()}
    assert got["k0"] == "old0" and got["k3"] == "new3" and got["k8"] == "new8"
    assert not os.path.exists(spath)  # staging dropped
    with pytest.raises(ValueError):
        final_load(spark, staging, tpath, spath, ["id"], "Upsert")


def test_merge_in_place_reads_in_session_target_without_inference(spark, tmp_path):
    """A target this session wrote is read with its memoized schema:
    a MERGE into it runs 3 jobs, no schema-inference job among them,
    and so does the next MERGE into the rewritten target."""
    path = str(tmp_path / "target")
    sink_overwrite(spark.range(100).selectExpr("id", "'old' AS val"), path)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for n in (3, 4):
        staging = spark.range(n).selectExpr("id", "'new' AS val")
        j0 = dag.nextJobId()
        merge_in_place(path, staging, ["id"])
        assert dag.nextJobId() - j0 == 3
    got = dict(spark.read.parquet(path).collect())
    assert len(got) == 100 and [got[i] for i in range(5)] == ["new"] * 4 + ["old"]


def test_upsert_partitioned_touches_only_batch_partitions(spark, tmp_path):
    tpath = str(tmp_path / "ptarget")
    base = spark.createDataFrame(
        [Row(id=f"k{i}", dt=f"2024-01-0{1 + i % 3}", val="old") for i in range(9)]
    )
    base.write.partitionBy("dt").parquet(tpath)
    batch = spark.createDataFrame(
        [Row(id="k0", dt="2024-01-01", val="new"), Row(id="x9", dt="2024-01-01", val="new")]
    )
    upsert_partitioned(spark, tpath, batch, ["id"], "dt")
    out = spark.read.parquet(tpath)
    assert out.count() == 10
    assert out.filter((F.col("id") == "k0")).collect()[0].val == "new"
    # untouched partition rows intact
    assert out.filter(F.col("dt") == "2024-01-02").count() == 3


@pytest.mark.parametrize("op", ["delete_keys_partitioned", "upsert_partitioned"])
def test_partitioned_writes_keep_session_overwrite_mode(spark, tmp_path, op):
    """Both partition-scoped writers overwrite dynamically for their own
    write only: the session conf is unchanged afterwards, and a later
    partitioned sink_overwrite still truncates (WRITE_TRUNCATE drops a
    partition the new load does not carry)."""
    from gmt_dbt_spark.operators.upsert import delete_keys_partitioned
    from gmt_dbt_spark.sources.sinks import sink_overwrite

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    work = str(tmp_path / "work")
    rows = spark.createDataFrame([(1, 1), (3, 1), (2, 2)], "id bigint, p bigint")
    rows.write.partitionBy("p").parquet(work)
    if op == "delete_keys_partitioned":
        doomed = spark.createDataFrame([(1,)], "id bigint")
        delete_keys_partitioned(spark, work, doomed, "id", "p")
        assert sorted(r.id for r in spark.read.parquet(work).collect()) == [2, 3]
    else:
        batch = spark.createDataFrame([(4, 2)], "id bigint, p bigint")
        upsert_partitioned(spark, work, batch, ["id"], "p")
        assert sorted(r.id for r in spark.read.parquet(work).collect()) == [1, 2, 3, 4]
    assert spark.conf.get(key) == before

    path = str(tmp_path / "sink")
    sink_overwrite(rows, path, partition_by=["p"])
    sink_overwrite(rows.filter("p = 2"), path, partition_by=["p"])
    assert sorted(r.p for r in spark.read.parquet(path).collect()) == [2]


def test_delete_keys_touches_only_affected_partitions(spark, tmp_path):
    """Erasure must rewrite ONLY partitions containing doomed keys:
    untouched partition directories keep their exact files (same
    names, same mtimes), and the doomed keys are gone."""
    import glob
    import os

    from gmt_dbt_spark.operators.upsert import delete_keys_partitioned

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(90)], "id bigint, part string"
    )
    df.write.partitionBy("part").parquet(path)

    def files_of(p):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(path, f"part={p}", "*.parquet"))
        }

    before_b, before_c = files_of("b"), files_of("c")
    # doomed keys all live in partition 'a' (ids ≡ 0 mod 3)
    doomed = spark.createDataFrame([(0,), (3,), (9,)], "id bigint")
    delete_keys_partitioned(spark, path, doomed, "id", "part")

    after = spark.read.parquet(path)
    assert after.filter(F.col("id").isin(0, 3, 9)).count() == 0
    assert after.count() == 87
    # b and c untouched byte-for-byte (same files, same mtimes)
    assert files_of("b") == before_b
    assert files_of("c") == before_c


@pytest.mark.parametrize("part_type", ["bigint", "string"])
def test_delete_keys_erases_partition_left_empty(spark, tmp_path, part_type):
    """A partition whose every row is doomed must go too: dynamic
    overwrite never touches a partition the kept rows do not cover.
    The string case carries a value Spark escapes in the directory
    name."""
    from gmt_dbt_spark.operators.upsert import delete_keys_partitioned

    path = str(tmp_path / "t")
    p1, p2 = ("1", "2") if part_type == "bigint" else ("a/1", "b")
    rows = spark.createDataFrame(
        [(1, p1), (2, p2)], "id bigint, p string"
    ).select("id", F.col("p").cast(part_type))
    rows.write.partitionBy("p").parquet(path)
    doomed = spark.createDataFrame([(1,)], "id bigint")
    delete_keys_partitioned(spark, path, doomed, "id", "p")
    assert [r.id for r in spark.read.parquet(path).collect()] == [2]
    assert sorted(n for n in os.listdir(path) if n.startswith("p=")) == [f"p={p2}"]


@pytest.mark.parametrize("doomed_ids, left", [([1], [2, 3]), ([1, 2], [3])])
def test_delete_keys_reaches_null_partition(spark, tmp_path, doomed_ids, left):
    """Doomed keys in the NULL partition are erased (``isin`` alone
    never selects NULL), and a NULL partition left empty loses its
    directory."""
    from gmt_dbt_spark.operators.upsert import delete_keys_partitioned

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, None), (2, None), (3, 5)], "id bigint, p bigint"
    ).write.partitionBy("p").parquet(path)
    doomed = spark.createDataFrame([(i,) for i in doomed_ids], "id bigint")
    delete_keys_partitioned(spark, path, doomed, "id", "p")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == left
    dirs = sorted(n for n in os.listdir(path) if n.startswith("p="))
    assert dirs == (["p=5"] if left == [3] else ["p=5", "p=__HIVE_DEFAULT_PARTITION__"])


def test_upsert_partitioned_keeps_null_partition_rows(spark, tmp_path):
    """A batch row in the NULL partition merges with that partition's
    target rows instead of overwriting them."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", 5)], "id bigint, val string, p bigint"
    ).write.partitionBy("p").parquet(path)
    batch = spark.createDataFrame([(1, "A", None)], "id bigint, val string, p bigint")
    upsert_partitioned(spark, path, batch, ["id"], "p")
    got = sorted((r.id, r.val) for r in spark.read.parquet(path).collect())
    assert got == [(1, "A"), (2, "b"), (3, "c")]


def test_evolve_adds_staging_column_null_backfilled(spark, target, staging):
    """A column the producer STARTED sending is added to the target
    with NULLs on every kept row; merged-in rows carry its values."""
    s2 = staging.withColumn("score", F.length("val").cast("bigint"))
    out = merge_upsert_evolve(target, s2, ["id"]).collect()
    by_id = {r.id: r for r in out}
    assert set(by_id) == {f"k{i}" for i in range(9)}
    for i in range(3):  # kept rows: new column NULL-backfilled
        assert by_id[f"k{i}"].score is None
        assert by_id[f"k{i}"].val == f"old{i}"
    for i in range(3, 9):  # staged rows carry the new column
        assert by_id[f"k{i}"].score == len(f"new{i}")


def test_evolve_preserves_target_only_column(spark, target, staging):
    """A column the producer STOPPED sending survives in the schema;
    matched rows are replaced by their staging version, so it reads
    NULL for them (the reference's update-every-column contract)."""
    s2 = staging.drop("updated_at")
    out = merge_upsert_evolve(target, s2, ["id"])
    assert set(out.columns) == {"id", "val", "updated_at"}
    by_id = {r.id: r for r in out.collect()}
    for i in range(3):
        assert by_id[f"k{i}"].updated_at == "2024-01-01"
    for i in range(3, 9):
        assert by_id[f"k{i}"].updated_at is None


def test_evolve_idempotent(spark, target, staging):
    """Evolving-merging the same batch twice ≡ once (the widened
    schemas make the second merge a plain merge)."""
    s2 = staging.withColumn("score", F.lit(7).cast("bigint"))
    once = merge_upsert_evolve(target, s2, ["id"])
    twice = merge_upsert_evolve(once, s2, ["id"])
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_evolve_type_conflict_refused(spark, target, staging):
    """Additive evolution only: a changed TYPE on a shared column is
    an explicit error, not a silent coercion."""
    s2 = staging.withColumn("val", F.length("val"))
    with pytest.raises(ValueError, match="type conflict"):
        merge_upsert_evolve(target, s2, ["id"])


def test_evolve_case_variant_column_is_same_column(spark, target, staging):
    """Spark resolves columns case-insensitively; a case-variant
    rename (val -> Val) must be treated as the SAME column, not as a
    staging-only addition that would NULL out both sides (review
    finding)."""
    s2 = staging.withColumnRenamed("val", "Val")
    out = merge_upsert_evolve(target, s2, ["id"])
    assert len(out.columns) == 3  # no phantom 4th column
    by_id = {r.id: r for r in out.collect()}
    assert by_id["k0"].val == "old0"      # kept rows keep their data
    assert by_id["k4"][1] == "new4"       # staged rows carry theirs


def test_evolve_missing_key_refused(spark, target, staging):
    """A staging batch without the key column must raise, never be
    NULL-backfilled into a NULL-keyed append (review finding)."""
    with pytest.raises(ValueError, match="key columns"):
        merge_upsert_evolve(target, staging.drop("id"), ["id"])


def test_evolve_nullability_variance_not_a_conflict(spark):
    """containsNull/nullable flags are not logical type conflicts:
    parquet round-trips flip them routinely (review finding)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    t = spark.createDataFrame(
        [("a", [1, 2])],
        StructType(
            [
                StructField("id", StringType(), False),
                StructField("xs", ArrayType(LongType(), containsNull=False), True),
            ]
        ),
    )
    s = spark.createDataFrame(
        [("b", [3])],
        StructType(
            [
                StructField("id", StringType(), True),
                StructField("xs", ArrayType(LongType(), containsNull=True), True),
            ]
        ),
    )
    assert merge_upsert_evolve(t, s, ["id"]).count() == 2
