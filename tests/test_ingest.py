"""Pipeline tests (SURVEY.md §5.4): sanitize → ingest → bronze CTAS
round-trip on the Yelp-shape fixtures, schema contract vs registry."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmt_dbt_spark.sources.readers import (
    detect_json_layout,
    find_files,
    scan_csv,
    scan_json,
    schema_from_json_file,
)
from gmt_dbt_spark.sources.sinks import StagingTable, sink_ctas, sink_overwrite

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def test_detect_json_layout():
    assert detect_json_layout(f"{FIXTURES}/yelp_tip.ndjson") == "ndjson"
    assert detect_json_layout(f"{FIXTURES}/yelp_business_array.json") == "array"


def test_find_files():
    files = find_files(FIXTURES, ".csv")
    assert {os.path.basename(f) for f in files} == {
        "lv_precipitation.csv",
        "lv_temperature.csv",
        "seed_lookup.csv",  # dbt seed fixture (plans/snapshots.py)
    }


def test_nested_json_inference(spark):
    df = scan_json(spark, f"{FIXTURES}/yelp_business.ndjson")
    assert isinstance(df.schema["attributes"].dataType, T.StructType)
    assert isinstance(df.schema["hours"].dataType, T.StructType)
    assert df.count() == 1000


def test_declared_schema_matches_registry(spark):
    schema, keys = schema_from_json_file(f"{FIXTURES}/registry.json", "yelp_user")
    df = scan_json(spark, f"{FIXTURES}/yelp_user.ndjson", schema=schema)
    assert df.schema == schema
    assert keys == ["user_id"]


def test_csv_jagged_rows_null_filled(spark):
    df = scan_csv(spark, f"{FIXTURES}/lv_precipitation.csv")
    jagged = df.filter(df["`precipitation normal inch`"].isNull())
    assert jagged.count() == 5  # the 5 planted short rows


def test_corrupt_records_quarantined(spark):
    """PERMISSIVE scan: 47 good rows parse, 13 malformed lines land
    in _corrupt_record (none dropped, job never fails)."""
    from pyspark.sql import types as T
    import pyspark.sql.functions as F
    from gmt_dbt_spark.sources.readers import scan_json

    fx = os.path.join(FIXTURES, "corrupt_records.ndjson")
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = scan_json(spark, fx, schema=schema).cache()
    assert df.filter(F.col("_corrupt_record").isNull()).count() == 47
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 13
    df.unpersist()


def test_bronze_roundtrip(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/yelp_tip.ndjson")
    out = str(tmp_path / "bronze_tip")
    bronze = sink_ctas(spark, src, out)
    assert bronze.count() == src.count()
    assert bronze.schema == src.schema  # lossless round-trip


def test_overwrite_truncates(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/yelp_tip.ndjson")
    out = str(tmp_path / "t")
    sink_overwrite(src, out)
    sink_overwrite(src, out)
    assert spark.read.parquet(out).count() == src.count()  # not doubled


def test_staging_drops(spark, tmp_path):
    src = scan_json(spark, f"{FIXTURES}/upsert_batch_a.ndjson")
    p = str(tmp_path / "stage")
    with StagingTable(spark, src, p) as staged:
        assert staged.count() == 600
        assert os.path.exists(p)
    assert not os.path.exists(p)


def test_detect_json_layout_object_and_ndjson(tmp_path):
    """Multi-line single-object JSON (config-style files) must route
    to the multiLine reader; NDJSON stays line-per-record; a
    one-line array is an array."""
    from gmt_dbt_spark.sources.readers import detect_json_layout

    nd = tmp_path / "a.ndjson"
    nd.write_text('{"a": 1}\n{"a": 2}\n')
    obj = tmp_path / "b.json"
    obj.write_text('{\n  "k": "v",\n  "n": 3\n}\n')
    arr = tmp_path / "c.json"
    arr.write_text('[{"a": 1}, {"a": 2}]')
    assert detect_json_layout(str(nd)) == "ndjson"
    assert detect_json_layout(str(obj)) == "object"
    assert detect_json_layout(str(arr)) == "array"


def test_ingest_directory_end_to_end(spark, tmp_path):
    """The reference's whole main.py lifecycle: discover (json +
    ndjson + csv), sanitize, write parquet staging tables — every
    fixture file lands as a readable table with sanitized columns."""
    import os
    import re

    from gmt_dbt_spark.sources.readers import ingest_directory

    out = str(tmp_path / "wh")
    n = ingest_directory(spark, "/root/repo/fixtures", out)
    assert n >= 12
    tables = sorted(os.listdir(out))
    assert "yelp_business" in tables and "lv_temperature" in tables
    biz = spark.read.parquet(os.path.join(out, "yelp_business"))
    assert biz.count() > 0
    for c in biz.columns:
        assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c), c


def test_cli_ingest_then_run_compose(spark, tmp_path):
    """The two CLI surfaces must compose like the reference lifecycle
    (main.py ingest -> dbt run over the same dataset): a model whose
    source is a table the `ingest` subcommand just wrote must resolve
    — `run` registers stg_* views from the warehouse dir, not only
    from the built-in sf-dir catalog."""
    import json

    from gmt_dbt_spark.__main__ import main

    wh = str(tmp_path / "wh")
    assert main(["ingest", FIXTURES, wh]) == 0

    mdir = tmp_path / "models"
    mdir.mkdir()
    (mdir / "sources.json").write_text(
        json.dumps({"stg.yelp_tip": "stg_yelp_tip"})
    )
    (mdir / "tip_counts.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "SELECT business_id, COUNT(*) AS n FROM "
        "{{ source('stg', 'yelp_tip') }} GROUP BY business_id"
    )
    assert main(["run", str(mdir), wh]) == 0
    out = spark.read.parquet(str(tmp_path / "wh" / "tip_counts"))
    assert out.count() > 0


def test_ingest_directory_matches_sequential(spark, tmp_path, monkeypatch):
    """Concurrent ingest writes the same tables as one-at-a-time
    ingest: same names, schemas and row multisets."""
    from gmt_dbt_spark.sources import readers

    conc = str(tmp_path / "concurrent")
    seq = str(tmp_path / "sequential")
    n = readers.ingest_directory(spark, FIXTURES, conc)
    monkeypatch.setattr(readers, "INGEST_CONCURRENCY", 1)
    assert readers.ingest_directory(spark, FIXTURES, seq) == n
    names = sorted(os.listdir(seq))
    assert len(names) == n and sorted(os.listdir(conc)) == names
    for name in names:
        a = spark.read.parquet(os.path.join(conc, name))
        b = spark.read.parquet(os.path.join(seq, name))
        assert a.schema == b.schema, name
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), name


def test_ingest_directory_rejects_table_name_collision(spark, tmp_path):
    """Two files that sanitize to one table name would overwrite each
    other; the collision is refused, naming both files, before any
    table is written."""
    import pytest

    from gmt_dbt_spark.sources.readers import ingest_directory

    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "x.json").write_text('{"k": 1}\n')
    (src / "b" / "x.csv").write_text("k\n2\n")
    (src / "y.json").write_text('{"k": 3}\n')
    wh = tmp_path / "wh"
    with pytest.raises(ValueError) as err:
        ingest_directory(spark, str(src), str(wh))
    assert str(src / "a" / "x.json") in str(err.value)
    assert str(src / "b" / "x.csv") in str(err.value)
    assert not wh.exists()


def test_ingest_directory_failure_names_its_file(spark, tmp_path):
    """An empty file fails with Spark's own exception plus a note
    naming its path; the first failure in discovery order is raised,
    after the other files have been written."""
    import pytest
    from pyspark.errors import AnalysisException

    from gmt_dbt_spark.sources.readers import ingest_directory

    src = tmp_path / "src"
    src.mkdir()
    (src / "a_blank.ndjson").write_text("")
    (src / "b_blank.ndjson").write_text("")
    (src / "c_good.ndjson").write_text('{"k": 1}\n{"k": 2}\n')
    wh = tmp_path / "wh"
    with pytest.raises(AnalysisException) as err:
        ingest_directory(spark, str(src), str(wh))
    assert "EMPTY_SCHEMA" in str(err.value)
    assert err.value.__notes__ == [f"while ingesting {src / 'a_blank.ndjson'}"]
    assert spark.read.parquet(str(wh / "c_good")).count() == 2


def test_pool_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Jobs run by the ingest and model worker pools belong to the job
    group the caller set, so ``cancelJobGroup`` reaches them."""
    from gmt_dbt_spark.plans.models import Model, ModelProject
    from gmt_dbt_spark.sources.readers import ingest_directory

    src = tmp_path / "src"
    src.mkdir()
    (src / "t1.ndjson").write_text('{"k": 1}\n{"k": 2}\n')
    (src / "t2.csv").write_text("k,v\n1,a\n2,b\n")
    wh = str(tmp_path / "wh")
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()

    def jobs_in_group(group: str, run) -> tuple[int, int]:
        sc.setJobGroup(group, group)
        try:
            j0 = dag.nextJobId()
            run()
            submitted = dag.nextJobId() - j0
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), submitted

    grouped, submitted = jobs_in_group(
        f"ingest_{tmp_path.name}", lambda: ingest_directory(spark, str(src), wh)
    )
    assert submitted > 0 and grouped == submitted

    spark.read.parquet(os.path.join(wh, "t1")).createOrReplaceTempView("grp_src_t1")
    project = ModelProject(
        spark,
        [Model("grp_m", "{{ config(materialized='table') }}\n"
                        "SELECT k FROM {{ source('s', 't1') }}")],
        {("s", "t1"): "grp_src_t1"},
        warehouse_dir=str(tmp_path / "models"),
    )
    grouped, submitted = jobs_in_group(f"models_{tmp_path.name}", project.run)
    assert submitted > 0 and grouped == submitted


def _rb_python_model(dbt, session):
    return dbt.source("rb", "src").selectExpr("id", "array(id) AS ids")


def test_read_back_takes_the_written_schema(spark, tmp_path, monkeypatch):
    """Every read-back of freshly written parquet (sink_ctas,
    StagingTable, the python/incremental/table model materializations
    and stream_upsert_sink's target) is served the schema its writer
    seeded: the schema inference would find, and no job to find it."""
    from gmt_dbt_spark.plans import models
    from gmt_dbt_spark.plans.models import Model, ModelProject
    from gmt_dbt_spark.registry import all_queries
    from gmt_dbt_spark.sources import sinks
    from gmt_dbt_spark.streaming import stateful
    from tests.conftest import SF_DIR

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    read_parquet = sinks.read_parquet
    seen = []

    def spy(spark_, path):
        j0 = dag.nextJobId()
        out = read_parquet(spark_, path)
        seen.append((out.schema, dag.nextJobId() - j0, spark_.read.parquet(path).schema))
        return out

    for mod in (sinks, models, stateful):
        monkeypatch.setattr(mod, "read_parquet", spy)

    src = spark.createDataFrame(
        [(1, "a", 2.5), (2, None, None)], "id bigint, v string, x double"
    ).withColumn("ts", F.current_timestamp())
    sink_ctas(spark, src, str(tmp_path / "ctas"))
    with StagingTable(spark, spark.range(3), str(tmp_path / "stage")):
        pass
    src.createOrReplaceTempView("rb_src")
    ModelProject(
        spark,
        [
            Model("rb_py", python_fn=_rb_python_model),
            Model("rb_incr", "{{ config(materialized='incremental', unique_key='id') }} "
                  "SELECT id, v FROM {{ source('rb', 'src') }}"),
            Model("rb_tbl", "{{ config(materialized='table') }} "
                  "SELECT id, x FROM {{ source('rb', 'src') }}"),
        ],
        {("rb", "src"): "rb_src"},
        str(tmp_path / "wh"),
        threads=1,
    ).run()
    all_queries()["stream_upsert_sink"](spark, SF_DIR)
    assert len(seen) == 6, seen
    for got, jobs, inferred in seen:
        assert got == inferred and jobs == 0, (got, jobs, inferred)
