"""Incremental MERGE upsert — SURVEY.md §2.C `merge_upsert`, §3.3.

The reference string-builds a BigQuery MERGE (`gcp_function.py:67-94`):
  ON ⋀(T.k = S.k)  — equi-conjunction over `on_condition_columns`
  WHEN MATCHED     → UPDATE every non-key column from S
  WHEN NOT MATCHED → INSERT the full row
and dispatches Create (truncate load) vs Update (stage + merge + drop
staging) in `final_load_data_into_bigquery` (`gcp_function.py:133-166`).

Because the reference's UPDATE branch sets *every* non-key column,
"matched" rows are fully replaced by their staging version — so the
merge is exactly:  (target ANTI-JOIN staging ON keys) ∪ staging.
That is one shuffle of the target (anti join on the keys, and AQE
broadcasts the staging side when it is small — the common incremental
case) and zero wide full-outer coalesce work.

At 100 TB the anti∪union rewrite of the *whole* target is the wrong
physical plan: `upsert_partitioned` below scopes the rewrite to only
the partitions the staging batch touches (dynamic partition
overwrite), so a daily batch rewrites days, not history.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import checkpoint, scratch_dir
from gmt_dbt_spark.sources.readers import scan_json, schema_from_json_file
from gmt_dbt_spark.sources.sinks import StagingTable, sink_overwrite


def merge_upsert(target: DataFrame, staging: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE T USING S: matched → replace row, not matched → insert.

    Requires staging keys to be unique (BigQuery MERGE errors on
    duplicate source matches, `gcp_function.py` inherits that
    contract; call `dedupe_staging` first if unsure).
    """
    if not keys:
        raise ValueError("merge_upsert requires at least one key column")
    missing = [k for k in keys if k not in target.columns or k not in staging.columns]
    if missing:
        raise ValueError(f"key columns missing from inputs: {missing}")
    kept = target.join(staging, on=keys, how="left_anti")
    return kept.unionByName(staging.select(*target.columns))


def merge_in_place(target_path: str, staging: DataFrame, keys: list[str]) -> None:
    """MERGE ``staging`` into the parquet table at ``target_path`` and
    overwrite it there. ``localCheckpoint`` materializes the merge and
    cuts its lineage to ``target_path``, so the write may replace the
    files the merge read."""
    target = staging.sparkSession.read.parquet(target_path)
    merged = merge_upsert(target, staging, keys).localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(target_path)


def dedupe_staging(staging: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the latest row per key (max order_col) so the merge
    contract (unique source keys) holds."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        staging.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def final_load(
    spark: SparkSession,
    data: DataFrame,
    target_path: str,
    staging_path: str,
    keys: list[str],
    loading_type: str,
) -> None:
    """Create-vs-Update dispatch (`gcp_function.py:133-166`):
    'Create' → truncate load; 'Update' → stage, merge, drop staging,
    overwrite target."""
    if loading_type == "Create":
        sink_overwrite(data, target_path)
        return
    if loading_type != "Update":
        raise ValueError(f"unknown loading_type: {loading_type!r}")
    with StagingTable(spark, data, staging_path) as staged:
        merge_in_place(target_path, staged, keys)


def _partition_in(partition_col: str, values: list) -> Column:
    """Rows whose ``partition_col`` is one of ``values``, NULL
    included: ``isin`` never selects NULL, so a NULL among the
    values adds ``isNull()``."""
    col = F.col(partition_col)
    pred = col.isin([v for v in values if v is not None])
    return pred | col.isNull() if None in values else pred


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    staging: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """Partition-scoped upsert for scale (SURVEY.md §7 M3): with
    `partitionOverwriteMode=dynamic`, only partitions present in the
    staging batch are rewritten — merge cost is O(touched partitions),
    not O(target).

    The per-partition merge is still anti∪staging, but the target
    scan is pruned to the staging batch's partition values first.
    """
    parts = [r[0] for r in staging.select(partition_col).distinct().collect()]
    target = spark.read.parquet(target_path).filter(_partition_in(partition_col, parts))
    merged = merge_upsert(target, staging, keys)
    # dynamic as a per-write option: the session conf, and with it
    # every later full-refresh sink_overwrite, stays as it was
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        partition_col
    ).parquet(target_path)


# ---------------------------------------------------------------- driver query

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_FX = os.path.join(REPO, "fixtures")


@query(
    "merge_upsert",
    oracle=f"""
WITH t AS (SELECT * FROM read_json('{_FX}/upsert_target.ndjson',
            format='newline_delimited',
            columns={{'id':'VARCHAR','val':'VARCHAR','updated_at':'VARCHAR'}})),
     s AS (SELECT * FROM read_json('{_FX}/upsert_batch_a.ndjson',
            format='newline_delimited',
            columns={{'id':'VARCHAR','val':'VARCHAR','updated_at':'VARCHAR'}}))
SELECT t.id, t.val, t.updated_at FROM t
WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.id = t.id)
UNION ALL
SELECT s.id, s.val, s.updated_at FROM s
""",
)
def merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE over the FIXTURES.md §9 pair: 600-row target, 600-row
    batch (300 update / 300 insert) on key `id` from the registry —
    the exact matched/not-matched semantics of `gcp_function.py:82-92`."""
    schema, keys = schema_from_json_file(os.path.join(_FX, "registry.json"), "upsert_target")
    target = scan_json(spark, os.path.join(_FX, "upsert_target.ndjson"), schema=schema)
    staging = scan_json(spark, os.path.join(_FX, "upsert_batch_a.ndjson"), schema=schema)
    return merge_upsert(target, staging, keys)


# The directory value Spark writes a NULL partition under.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def delete_keys_partitioned(
    spark: SparkSession,
    target_path: str,
    keys_df: DataFrame,
    key: str,
    partition_col: str,
) -> None:
    """Targeted deletion (takedown/opt-out lists, GDPR erasure) at
    100 TB cost: find only the partitions containing doomed keys,
    anti-join those partitions against the (broadcast) key list, and
    dynamically overwrite just them — O(affected partitions), not
    O(target). The key list is read twice (partition discovery +
    anti-join); it is takedown-sized, so both are broadcasts.

    Dynamic overwrite replaces only the partitions ``kept`` has rows
    for, so a partition whose every row is doomed is removed by
    directory once the overwrite has succeeded. The partitions ``kept``
    still covers ride its checkpoint job as an observed metric."""
    target = spark.read.parquet(target_path)
    part = F.col(partition_col)
    # (typed value, its directory value — how Spark names the partition)
    dir_value = F.coalesce(part.cast("string"), F.lit(_NULL_PARTITION))
    affected = (
        target.join(F.broadcast(keys_df), key, "left_semi")
        .select(part, dir_value)
        .distinct()
        .collect()
    )
    if not affected:
        return
    kept, seen = checkpoint(  # sever lineage before overwrite
        target.filter(_partition_in(partition_col, [r[0] for r in affected])).join(
            F.broadcast(keys_df), key, "left_anti"
        ),
        covered=F.to_json(F.collect_set(dir_value)),
    )
    kept.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        partition_col
    ).parquet(target_path)
    emptied = {r[1] for r in affected} - set(json.loads(seen.covered))
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    for value in emptied:
        shutil.rmtree(os.path.join(target_path, f"{partition_col}={escape(value)}"))


@query(
    "sink_delete_keys",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS total
FROM orders
WHERE o_custkey % 97 <> 0
GROUP BY o_orderstatus
""",
)
def sink_delete_keys_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown round-trip: write orders partitioned by status, erase
    every order of the opt-out customers (custkey ≡ 0 mod 97) via the
    partition-scoped delete, aggregate what remains — must equal the
    declarative NOT-IN recompute. Only partitions holding doomed rows
    were rewritten (every status partition qualifies here; the
    partition-pruning behavior itself is pinned in test_upsert)."""
    with scratch_dir("takedown") as run:
        orders = table(spark, sf_dir, "orders")
        orders.write.partitionBy("o_orderstatus").parquet(run)
        doomed = (
            orders.filter(F.col("o_custkey") % 97 == 0)
            .select("o_custkey")
            .distinct()
        )
        delete_keys_partitioned(spark, run, doomed, "o_custkey", "o_orderstatus")
        out = (
            spark.read.parquet(run)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                .cast("string")
                .cast("double")
                .alias("total"),
            )
        )
        return out.localCheckpoint(eager=True)  # detach from run dir, executor-side


@query(
    "cdc_diff",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 7 <> 0
),
v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 11 <> 0
)
SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
            WHEN v2.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       COUNT(*) AS n_rows
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
   OR v1.o_orderstatus <> v2.o_orderstatus
   OR v1.o_totalprice <> v2.o_totalprice
GROUP BY change_type
""",
)
def cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CHANGE DATA CAPTURE: diff two table versions into
    insert/delete/update row sets via one key-keyed full-outer join
    + value comparison — the audit primitive behind every
    "what changed since yesterday's load" question, and the input a
    downstream incremental consumer replays. One shuffle on the key;
    at 100 TB, partition both snapshots by the same date key and the
    join is partition-local. Versions are synthesized
    deterministically from orders (drop %7 keys "before", drop %11
    keys + perturb %5 prices "after")."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 7 != 0)
    v2 = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    changed = (
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    )
    ctype = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        j.filter(changed)
        .select(ctype.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "merge_upsert_cdc",
    oracle="""
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 7 <> 0
),
cdc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'D'
              WHEN o_orderkey % 7 = 0 THEN 'I'
              ELSE 'U' END AS op,
         o_orderstatus,
         o_totalprice + 2.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COALESCE(c.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(c.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
       COALESCE(c.o_totalprice, t.o_totalprice) AS o_totalprice
FROM target t
FULL OUTER JOIN (SELECT * FROM cdc WHERE op <> 'D') c
  ON t.o_orderkey = c.o_orderkey
WHERE COALESCE(c.o_orderkey, t.o_orderkey) NOT IN
      (SELECT o_orderkey FROM cdc WHERE op = 'D')
""",
)
def merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with the full CDC verb set — WHEN MATCHED UPDATE,
    WHEN NOT MATCHED INSERT, **WHEN MATCHED AND op='D' DELETE** —
    the extension the reference's generated MERGE lacks
    (`gcp_function.py:67-94` is update/insert only) and the apply
    step for a `cdc_diff` change feed. Join-based: deletes are an
    anti-join on the delete-key set (broadcast — delete batches are
    small), upserts the usual full-outer + coalesce. One shuffle of
    the target; at 100 TB scope it with dynamic partition overwrite
    like upsert_partitioned."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = o.filter(F.col("o_orderkey") % 7 != 0)
    cdc = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("D"))
            .when(F.col("o_orderkey") % 7 == 0, F.lit("I"))
            .otherwise(F.lit("U")),
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
    )
    deletes = cdc.filter(F.col("op") == "D").select("o_orderkey")
    upserts = cdc.filter(F.col("op") != "D").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    merged = merge_upsert(target, upserts, ["o_orderkey"])
    return merged.join(F.broadcast(deletes), "o_orderkey", "left_anti")


def merge_upsert_evolve(
    target: DataFrame, staging: DataFrame, keys: list[str]
) -> DataFrame:
    """Schema-EVOLVING MERGE: the `mergeSchema` semantics of
    Delta/Iceberg MERGE (and BigQuery's ALTER-then-MERGE migration
    path), reimplemented from first principles on plain DataFrames
    because neither lakehouse jar ships in this build:

    - columns present only in STAGING are ADDED to the target
      (NULL-backfilled on every kept row) — the additive evolution an
      ingest pipeline hits whenever an upstream producer starts
      emitting a new field;
    - columns present only in the TARGET are PRESERVED, with NULL on
      inserted/updated rows (the reference's generated MERGE updates
      every staging column, so a column the producer stopped sending
      reads NULL going forward — never a dropped column);
    - then the usual replace-matched ∪ insert-unmatched
      (`merge_upsert`).

    Scale shape: widening is METADATA-ONLY on the plan (a NULL
    literal column — no data pass, no shuffle); the merge itself
    stays the one target-side anti-join shuffle, and at 100 TB the
    rewrite scopes to touched partitions exactly like
    upsert_partitioned. Column TYPE conflicts are refused loudly
    (evolution here is additive; silent cross-type coercion is how
    lakehouse tables rot)."""
    if not keys:
        raise ValueError("merge_upsert_evolve requires at least one key column")
    # Column identity is CASE-INSENSITIVE, matching Spark's default
    # resolution (review pass): a case-sensitive Python `in` would
    # classify `Val` as staging-only while withColumn("Val", NULL)
    # case-insensitively REPLACES target's `val` — silently nulling
    # real data on both sides. Key columns must exist in BOTH schemas
    # BEFORE widening: NULL-backfilling a missing key would slip past
    # merge_upsert's guard and append every staging row under a NULL
    # key instead of raising.
    t_by_lower = {c.lower(): c for c in target.columns}
    s_by_lower = {c.lower(): c for c in staging.columns}
    missing_keys = [
        k for k in keys if k.lower() not in t_by_lower or k.lower() not in s_by_lower
    ]
    if missing_keys:
        raise ValueError(
            f"key columns must exist on both sides before evolution: {missing_keys}"
        )
    for lc in set(t_by_lower) & set(s_by_lower):
        # simpleString ignores nullability — parquet's containsNull
        # flags must not refuse identical logical types
        tt = target.schema[t_by_lower[lc]].dataType.simpleString()
        st = staging.schema[s_by_lower[lc]].dataType.simpleString()
        if tt != st:
            raise ValueError(
                f"column {t_by_lower[lc]!r} type conflict: target {tt} vs "
                f"staging {st} — additive evolution only, migrate types "
                "explicitly"
            )
    widened = target
    for c in staging.columns:
        if c.lower() not in t_by_lower:
            widened = widened.withColumn(
                c, F.lit(None).cast(staging.schema[c].dataType)
            )
    filled = staging
    for c in target.columns:
        if c.lower() not in s_by_lower:
            filled = filled.withColumn(
                c, F.lit(None).cast(target.schema[c].dataType)
            )
    return merge_upsert(widened, filled.select(*widened.columns), keys)


@query(
    "merge_upsert_evolve",
    oracle="""
WITH t AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 7 <> 0
),
s AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_rank
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice,
       CAST(NULL AS BIGINT) AS priority_rank
FROM t
WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)
UNION ALL
SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice,
       priority_rank
FROM s
""",
)
def merge_upsert_evolve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift in BOTH directions in one batch: the staging feed
    gained `priority_rank` (added to the target, NULL on kept rows)
    and stopped sending `o_totalprice` (preserved, NULL on
    merged-in rows). Raw column values pass through unchanged on
    both engines (no arithmetic), so the full row set is
    value-hashed directly."""
    o = table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    staging = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("priority_rank"),
    )
    return merge_upsert_evolve(target, staging, ["o_orderkey"])
