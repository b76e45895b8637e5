"""Driver-facing ingestion-parity queries — SURVEY.md §2.A.

These run over the committed fixtures (fixtures/, FIXTURES.md shapes
mirroring the reference's Yelp NDJSON + climate CSVs). Inference is
exercised for real, but every output column carries an explicit cast
on BOTH sides so the hash compare is over pinned types, not over the
two engines' inference guesses.

Sink queries write under a `session.scratch_dir` and return the
detached read-back; their oracles recompute from the source fixtures,
so the check also proves the write→read round-trip is lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import scratch_dir
from gmt_dbt_spark.sources.readers import scan_csv, scan_json, schema_from_json_file
from gmt_dbt_spark.sources.sanitize import sanitize_columns
from gmt_dbt_spark.sources.sinks import StagingTable, sink_ctas, sink_overwrite

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURES = os.path.join(REPO, "fixtures")


def _fx(name: str) -> str:
    return os.path.join(FIXTURES, name)


@query(
    "scan_json_infer",
    oracle=f"""
SELECT user_id, business_id, text,
       CAST(date AS VARCHAR) AS date,
       CAST(compliment_count AS BIGINT) AS compliment_count
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_tip.ndjson")}',
               format='newline_delimited',
               columns={{'user_id':'VARCHAR','business_id':'VARCHAR','text':'VARCHAR',
                        'date':'VARCHAR','compliment_count':'BIGINT'}})
""",
)
def scan_json_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON scan with schema autodetect (`main.py:318-320`)."""
    df = scan_json(spark, _fx("yelp_tip.ndjson"))
    return df.select(
        F.col("user_id").cast("string"),
        F.col("business_id").cast("string"),
        F.col("text").cast("string"),
        F.col("date").cast("string"),
        F.col("compliment_count").cast("bigint"),
    )


@query(
    "scan_json_multiline",
    oracle=f"""
SELECT business_id,
       city,
       CAST(stars AS DOUBLE) AS stars,
       CAST(review_count AS BIGINT) AS review_count
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_business_array.json")}',
               format='array',
               columns={{'business_id':'VARCHAR','city':'VARCHAR',
                        'stars':'DOUBLE','review_count':'BIGINT'}})
""",
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file JSON array-of-objects scan — the layout the
    reference detects and rewrites to NDJSON (`main.py:249-252`);
    Spark reads it natively with multiLine (array → rows implicit)."""
    df = scan_json(spark, _fx("yelp_business_array.json"))  # autodetects 'array'
    return df.select(
        F.col("business_id").cast("string"),
        F.col("city").cast("string"),
        F.col("stars").cast("double"),
        F.col("review_count").cast("bigint"),
    )


@query(
    "scan_csv_infer",
    oracle=f"""
SELECT CAST(date AS VARCHAR) AS date,
       CAST("precipitation inch" AS VARCHAR) AS precipitation_inch,
       CAST("precipitation normal inch" AS DOUBLE) AS precipitation_normal_inch
FROM read_csv('{os.path.join(REPO, "fixtures", "lv_precipitation.csv")}',
              header=true, all_varchar=true, null_padding=true)
""",
)
def scan_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV autodetect scan with the reference's edge cases on
    (`main.py:321-326`): header, quoted embedded newline, jagged
    short rows (PERMISSIVE null-fill ≙ allow_jagged_rows), and the
    'T' trace sentinel that forces a string column."""
    df = scan_csv(spark, _fx("lv_precipitation.csv"))
    return df.select(
        F.col("`date`").cast("string").alias("date"),
        F.col("`precipitation inch`").cast("string").alias("precipitation_inch"),
        F.col("`precipitation normal inch`")
        .cast("double")
        .alias("precipitation_normal_inch"),
    )


@query(
    "scan_explicit_schema",
    oracle=f"""
SELECT user_id, name,
       CAST(review_count AS BIGINT) AS review_count,
       yelping_since, elite,
       CAST(average_stars AS DOUBLE) AS average_stars
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_user.ndjson")}',
               format='newline_delimited',
               columns={{'user_id':'VARCHAR','name':'VARCHAR','review_count':'BIGINT',
                        'yelping_since':'VARCHAR','friends':'VARCHAR','useful':'BIGINT',
                        'funny':'BIGINT','cool':'BIGINT','fans':'BIGINT','elite':'VARCHAR',
                        'average_stars':'DOUBLE','compliment_hot':'BIGINT',
                        'compliment_more':'BIGINT','compliment_writer':'BIGINT'}})
""",
)
def scan_explicit_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema scan: registry schema disables autodetect
    (`main.py:333-335`; registry contract `gcp_function.py:47-64`)."""
    schema, keys = schema_from_json_file(_fx("registry.json"), "yelp_user")
    assert keys == ["user_id"]
    df = scan_json(spark, _fx("yelp_user.ndjson"), schema=schema)
    return df.select(
        "user_id", "name", "review_count", "yelping_since", "elite", "average_stars"
    )


@query(
    "sanitize_columns",
    oracle=f"""
SELECT business_id,
       highlights,
       "delivery or takeout" AS delivery_or_takeout,
       "Grubhub enabled" AS Grubhub_enabled,
       "Call To Action enabled" AS Call_To_Action_enabled,
       "Request a Quote Enabled" AS Request_a_Quote_Enabled,
       "Covid Banner" AS Covid_Banner,
       "Temporary Closed Until" AS Temporary_Closed_Until,
       "Virtual Services Offered" AS Virtual_Services_Offered,
       "1st_case_date" AS _1st_case_date,
       ("safety measures")."mask required" AS mask_required,
       ("safety measures")."6ft rule" AS _6ft_rule
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_covid.ndjson")}',
               format='newline_delimited',
               columns={{'business_id':'VARCHAR','highlights':'VARCHAR',
                        'delivery or takeout':'VARCHAR','Grubhub enabled':'VARCHAR',
                        'Call To Action enabled':'VARCHAR','Request a Quote Enabled':'VARCHAR',
                        'Covid Banner':'VARCHAR','Temporary Closed Until':'VARCHAR',
                        'Virtual Services Offered':'VARCHAR','1st_case_date':'VARCHAR',
                        'safety measures':'STRUCT("mask required" VARCHAR, "6ft rule" VARCHAR)'}})
""",
)
def sanitize_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier sanitization over the dirty-name COVID fixture
    (FIXTURES.md §6): `[^a-zA-Z0-9_]`→`_`, leading-digit `_` prefix,
    recursive into the nested struct — `main.py:215-230` semantics as
    a metadata-only projection."""
    raw = scan_json(spark, _fx("yelp_covid.ndjson"))
    clean = sanitize_columns(raw)
    return clean.select(
        "business_id",
        "highlights",
        "delivery_or_takeout",
        "Grubhub_enabled",
        "Call_To_Action_enabled",
        "Request_a_Quote_Enabled",
        "Covid_Banner",
        "Temporary_Closed_Until",
        "Virtual_Services_Offered",
        "_1st_case_date",
        F.col("safety_measures.mask_required").alias("mask_required"),
        F.col("safety_measures._6ft_rule").alias("_6ft_rule"),
    )


@query(
    "scan_corrupt_records",
    oracle=f"""
SELECT user_id, text, CAST(score AS BIGINT) AS score
FROM read_json('{os.path.join(REPO, "fixtures", "corrupt_records.ndjson")}',
               format='newline_delimited', ignore_errors=true,
               columns={{'user_id':'VARCHAR','text':'VARCHAR','score':'BIGINT'}})
WHERE user_id IS NOT NULL
""",
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance — the engine-side analogue of the
    reference's JSON-parse error trapping (`main.py:204-212`, which
    skips whole files on first error; we drop or quarantine bad rows
    row-wise and the job never fails). This query takes the
    DROPMALFORMED path (clean rows only — safe under any downstream
    pruning); the PERMISSIVE `_corrupt_record` quarantine variant is
    exercised in tests/test_ingest.py (it requires a cache before
    corrupt-only column references, per Spark's documented rule)."""
    return (
        spark.read.schema("user_id string, text string, score bigint")
        .option("mode", "DROPMALFORMED")
        .json(_fx("corrupt_records.ndjson"))
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "text", "score")
    )


@query(
    "scan_schema_evolution",
    oracle=f"""
SELECT user_id, business_id,
       CAST(compliment_count AS BIGINT) AS compliment_count,
       CAST(NULL AS VARCHAR) AS channel
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_tip.ndjson")}',
               format='newline_delimited',
               columns={{'user_id':'VARCHAR','business_id':'VARCHAR','text':'VARCHAR',
                        'date':'VARCHAR','compliment_count':'BIGINT'}})
UNION ALL
SELECT user_id, business_id,
       CAST(compliment_count AS BIGINT) AS compliment_count,
       'mobile' AS channel
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_tip.ndjson")}',
               format='newline_delimited',
               columns={{'user_id':'VARCHAR','business_id':'VARCHAR','text':'VARCHAR',
                        'date':'VARCHAR','compliment_count':'BIGINT'}})
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: batch 1 without, and
    batch 2 with a new `channel` column; `mergeSchema` unifies them
    (old rows null-padded) — the capability BigQuery autodetect gives
    the reference implicitly when source files gain fields."""
    base = scan_json(spark, _fx("yelp_tip.ndjson")).select(
        F.col("user_id").cast("string"),
        F.col("business_id").cast("string"),
        F.col("compliment_count").cast("bigint"),
    )
    with scratch_dir("evolving") as path:
        base.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
        base.withColumn("channel", F.lit("mobile")).write.mode("overwrite").parquet(
            os.path.join(path, "batch=2")
        )
        merged = spark.read.option("mergeSchema", True).option(
            "recursiveFileLookup", True
        ).parquet(path)
        out = merged.select("user_id", "business_id", "compliment_count", "channel")
        return out.localCheckpoint(eager=True)


@query(
    "sink_overwrite",
    oracle=f"""
SELECT user_id, business_id,
       CAST(compliment_count AS BIGINT) AS compliment_count
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_tip.ndjson")}',
               format='newline_delimited',
               columns={{'user_id':'VARCHAR','business_id':'VARCHAR','text':'VARCHAR',
                        'date':'VARCHAR','compliment_count':'BIGINT'}})
WHERE compliment_count >= 3
""",
)
def sink_overwrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE_TRUNCATE load (`gcp_function.py:115-131`): write twice
    to the same path in overwrite mode (the second write IS the
    observable — truncate, not append), then scan back."""
    src = scan_json(spark, _fx("yelp_tip.ndjson")).filter(
        F.col("compliment_count") >= 3
    )
    out = src.select(
        F.col("user_id").cast("string"),
        F.col("business_id").cast("string"),
        F.col("compliment_count").cast("bigint"),
    )
    with scratch_dir("sink_overwrite") as path:
        sink_overwrite(out, path)
        sink_overwrite(out, path)  # idempotent truncate-load
        return spark.read.parquet(path).localCheckpoint(eager=True)


@query(
    "sink_ctas",
    oracle=f"""
SELECT business_id, city,
       CAST(stars AS DOUBLE) AS stars,
       CAST(review_count AS BIGINT) AS review_count
FROM read_json('{os.path.join(REPO, "fixtures", "yelp_business.ndjson")}',
               format='newline_delimited',
               columns={{'business_id':'VARCHAR','city':'VARCHAR','stars':'DOUBLE',
                        'review_count':'BIGINT','is_open':'BIGINT'}})
WHERE is_open = 1
""",
)
def sink_ctas_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze CTAS — the *intent* of every reference dbt model
    (`models/yelp/bronze_yelp_academic_dataset_business.sql:5-7`:
    copy staging into the bronze layer; their embedded-DDL bug is
    implemented as intent, SURVEY.md §3.2)."""
    staged = scan_json(spark, _fx("yelp_business.ndjson"))
    bronze = staged.filter(F.col("is_open") == 1).select(
        F.col("business_id").cast("string"),
        F.col("city").cast("string"),
        F.col("stars").cast("double"),
        F.col("review_count").cast("bigint"),
    )
    with scratch_dir("bronze_yelp_business") as path:
        return sink_ctas(spark, bronze, path).localCheckpoint(eager=True)


@query(
    "sink_staging_temp",
    oracle=f"""
SELECT id, val, updated_at
FROM read_json('{os.path.join(REPO, "fixtures", "upsert_batch_a.ndjson")}',
               format='newline_delimited',
               columns={{'id':'VARCHAR','val':'VARCHAR','updated_at':'VARCHAR'}})
""",
)
def sink_staging_temp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`<table>_temp` staging lifecycle (`gcp_function.py:159-164`,
    drop at `:112`): stage the batch, consume it into a result table,
    drop the staging dir, return the consumer's scan — proving the
    drop happened before the result is read."""
    schema, _ = schema_from_json_file(_fx("registry.json"), "upsert_target")
    batch = scan_json(spark, _fx("upsert_batch_a.ndjson"), schema=schema)
    with scratch_dir("staging_temp") as root:
        staging_path = os.path.join(root, "upsert_batch_a_temp")
        result_path = os.path.join(root, "staged_result")
        with StagingTable(spark, batch, staging_path) as staged:
            staged.write.mode("overwrite").parquet(result_path)
        assert not os.path.exists(staging_path), "staging table must be dropped"
        return spark.read.parquet(result_path).localCheckpoint(eager=True)


@query(
    "scan_tablesample",
    oracle="""
SELECT TRUE AS within_bound, TRUE AS deterministic_ok
""",
)
def scan_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (`df.sample(fraction, seed)`) — the
    dev-loop / stats-collection primitive at 100 TB: iterate on a 1%
    slice, then run the real thing. The sampler is executor-side
    (each task flips coins over its own partition — no shuffle, no
    driver), and a fixed seed over a fixed layout is reproducible.

    Sample CONTENT is engine-specific, so the oracle checks the two
    properties that matter, as booleans computed in ONE LAZY plan
    (cross-joined single-row aggregates — no build-time driver
    actions): the sample size lands within ±5 percentage points of
    the 10% target, and two same-seed samples select IDENTICAL rows
    (bag difference empty — the reproducibility contract)."""
    from gmt_dbt_spark.catalog import table

    orders = table(spark, sf_dir, "orders")
    s1 = orders.sample(fraction=0.10, seed=4242)
    s2 = orders.sample(fraction=0.10, seed=4242)
    n_total = orders.agg(F.count(F.lit(1)).alias("n_total"))
    n_sample = s1.agg(F.count(F.lit(1)).alias("n_sample"))
    n_diff = (
        s1.select("o_orderkey")
        .exceptAll(s2.select("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    return (
        n_sample.crossJoin(n_total)
        .crossJoin(n_diff)
        .select(
            (
                F.abs(F.col("n_sample") - 0.10 * F.col("n_total"))
                <= 0.05 * F.col("n_total")
            ).alias("within_bound"),
            (F.col("n_diff") == 0).alias("deterministic_ok"),
        )
    )


@query(
    "scan_metadata_columns",
    oracle="""
SELECT 'orders.parquet' AS file_name, COUNT(*) AS n_rows, TRUE AS size_known
FROM orders
""",
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's hidden `_metadata` struct on file sources (file_path /
    file_name / file_size / file_modification_time) — the engine-level
    sibling of `input_file_name()` with typed fields, usable in
    filters for file-level pruning and lineage stamps on ingest. The
    oracle pins the basename + row attribution (fixtures are
    one-file-per-table); file size is asserted as a boolean (a
    content-independent positive int, not hashable cross-engine)."""
    from gmt_dbt_spark.catalog import table

    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("_metadata.file_name").alias("file_name"),
            (F.col("_metadata.file_size") > 0).alias("size_known"),
        )
        .groupBy("file_name", "size_known")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("file_name", "n_rows", "size_known")
    )


@query(
    "scan_agg_pushdown",
    oracle="""
SELECT COUNT(*) AS n,
       MIN(l_orderkey) AS min_okey,
       MAX(l_orderkey) AS max_okey,
       MIN(l_partkey) AS min_pkey,
       MAX(l_partkey) AS max_pkey
FROM lineitem
""",
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-answered aggregation: COUNT/MIN/MAX with no filter
    push down INTO the parquet scan (PushedAggregation) and are
    served from ROW-GROUP FOOTER STATISTICS — zero data pages read.
    At 100 TB this is the difference between an O(row-groups)
    metadata sweep and a full-table scan for the most common
    monitoring queries.

    Needs the DataSource V2 parquet reader (`useV1SourceList=""`) +
    `parquet.aggregatePushdown`; both are scoped to THIS query —
    set, executed (the collect happens inside the scope), restored —
    because globally switching the session to V2 scans would change
    every other query's plan shape. The plan guard asserts
    PushedAggregation actually fired under the same scope."""
    from gmt_dbt_spark.session import scoped_conf

    with scoped_conf(
        spark,
        **{
            "spark.sql.sources.useV1SourceList": "",
            "spark.sql.parquet.aggregatePushdown": "true",
        },
    ):
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        out = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("min_okey"),
            F.max("l_orderkey").alias("max_okey"),
            F.min("l_partkey").alias("min_pkey"),
            F.max("l_partkey").alias("max_pkey"),
        )
        return out.localCheckpoint(eager=True)  # detach from scratch, executor-side


@query(
    "scan_json_variant",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
WHERE event_id < 2000
GROUP BY event_type
""",
)
def scan_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest as VARIANT (Spark 4): the whole JSON
    document lands in ONE open-typed `variant` column
    (`singleVariantColumn`) instead of a frozen inferred struct —
    the schema-drift-proof landing pattern (new fields appear in the
    data, nothing breaks, extraction is per-query via variant_get).
    VARIANT stores a parsed binary form, so repeated path extraction
    skips re-parsing the text — the columnar answer to JSON-string
    columns. Round-trip: events re-serialized to NDJSON, landed as
    variant, fields extracted with variant_get, rolled up per type,
    hash-matched against DuckDB's json_extract over the original
    table."""
    with scratch_dir("variant_events") as path:
        from gmt_dbt_spark.catalog import table

        ev = (
            table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 2000)
            .select(
                "event_id",
                "event_type",
                F.from_json("props", "k INT").alias("props"),
            )
        )
        ev.write.mode("overwrite").json(path)
        v = spark.read.option("singleVariantColumn", "v").json(path)
        out = (
            v.select(
                F.expr("variant_get(v, '$.event_type', 'string')").alias(
                    "event_type"
                ),
                F.expr("variant_get(v, '$.props.k', 'bigint')").alias("k"),
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
        )
        return out.localCheckpoint(eager=True)  # detach from scratch, executor-side

