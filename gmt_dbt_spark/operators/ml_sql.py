"""ML inference as pure SQL — no UDF, fused into the scan.

[ext] — the ICDE 2025 line in PAPERS.md ("Machine Learning Inference
Pipeline Execution Using Pure SQL Based on Operator Fusion"): model
scoring expressed as relational expressions so Catalyst fuses it into
the reading stage — zero Python, zero UDF serialization, inference
throughput = scan throughput. The two model families that translate
exactly:

- LINEAR margin scoring: w·x as a lambda-algebra dot product. Scores
  are computed in exact integer MICRO-UNITS (weights derived from the
  feature index by integer arithmetic, features floor-quantized) so
  the margin and predicted class are hash-identical across engines —
  the float version of the same plan differs only in the last ulp.
- DECISION TREE inference: nested CASE WHEN over quantized features —
  comparisons and branch ids are exact by construction. Depth-d trees
  are d nested conditionals; forests are sums of per-tree leaf scores.

At 100 TB this is the batch-scoring pattern: the model rides the plan
(broadcast or literal), every executor scores its partition inside
whole-stage codegen, and the optimizer prunes unneeded feature
columns from the parquet read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.operators.vectors import isum, micro
from gmt_dbt_spark.registry import query


@query(
    "ml_sql_inference",
    oracle="""
WITH m AS (
  SELECT e.vec_id, s.i AS i,
         CAST(floor(CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS x
  FROM embeddings e,
       LATERAL (SELECT unnest(range(len(e.embedding))) AS i) s
),
lin AS (
  SELECT vec_id,
         CAST(SUM(x * (((i * 37) % 21) - 10)) AS BIGINT) AS margin_micro
  FROM m GROUP BY vec_id
),
f AS (
  SELECT vec_id,
         MAX(CASE WHEN i = 0 THEN x END) AS f0,
         MAX(CASE WHEN i = 1 THEN x END) AS f1,
         MAX(CASE WHEN i = 2 THEN x END) AS f2
  FROM m GROUP BY vec_id
  HAVING COUNT(*) >= 3
)
SELECT lin.vec_id,
       lin.margin_micro,
       (lin.margin_micro > 0) AS linear_pos,
       CAST(CASE WHEN f.f0 <= 0
                 THEN CASE WHEN f.f1 <= 0 THEN 0 ELSE 1 END
                 ELSE CASE WHEN f.f2 <= 0 THEN 2 ELSE 3 END
            END AS INTEGER) AS tree_leaf
FROM lin JOIN f ON lin.vec_id = f.vec_id
""",
)
def ml_sql_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every embedding with a linear model AND a depth-2
    decision tree in one scan-side projection: the margin is an exact
    integer dot product (weights w_i = ((i·37) mod 21) − 10 derived
    from the feature index, features floor-quantized to micro-units),
    the tree is nested CASE WHEN on three quantized features. The
    oracle recomputes both models independently over range() — any
    quantization or branch-order drift breaks the hash. Zero
    shuffles, zero UDFs; plan-guarded scan-side.

    Model contract: the tree reads features 0-2, so vectors with
    fewer than 3 dimensions are NOT scorable and are filtered on BOTH
    engines (without the filter, Spark's element_at would throw under
    ANSI mode — or emit a row with NULL margin for an empty embedding
    where the oracle's unnest(range(0)) emits none)."""
    e = table(spark, sf_dir, "embeddings").filter(F.size("embedding") >= 3)
    m = e.select("vec_id", micro("embedding").alias("m"))
    margin = isum(
        F.transform("m", lambda x, i: x * (((i * 37) % 21) - 10).cast("bigint"))
    )
    f0 = F.element_at("m", 1)
    f1 = F.element_at("m", 2)
    f2 = F.element_at("m", 3)
    tree_leaf = (
        F.when(f0 <= 0, F.when(f1 <= 0, 0).otherwise(1))
        .otherwise(F.when(f2 <= 0, 2).otherwise(3))
        .cast("int")
    )
    return m.select(
        "vec_id",
        margin.alias("margin_micro"),
        (margin > 0).alias("linear_pos"),
        tree_leaf.alias("tree_leaf"),
    )
