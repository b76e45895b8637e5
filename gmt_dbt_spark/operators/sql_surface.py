"""Composite SQL-surface queries — SURVEY.md §2 [surface] depth.

dbt models are arbitrary SQL (`dbt_project.yml:11` accepts any model
file), so hosting the reference's transform layer means hosting the
full analytic-SQL shapes BigQuery would have executed: CTEs, scalar/
IN/EXISTS subqueries (Catalyst decorrelates — SURVEY.md §4),
conditional-aggregation pivots, and multi-join reporting queries
(TPC-H Q1/Q3 shapes). These run through ``spark.sql`` over registered
views — the literal path a dbt-style model takes in this engine
(`plans/models.py` compiles to the same call).

Arithmetic follows the exprs.py contract: double aggregates go
through exact DECIMAL and the VARCHAR-cast route on both engines so
the driver's value-hash compares bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmt_dbt_spark.catalog import sql_over, table
from gmt_dbt_spark.registry import query

_DSUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS {str_t}) AS DOUBLE)"


@query(
    "sql_cte",
    oracle="""
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  WHERE o_totalprice > 300000
),
cust_counts AS (
  SELECT o_custkey, COUNT(*) AS n_big FROM big_orders GROUP BY o_custkey
)
SELECT n_big, COUNT(*) AS n_custs
FROM cust_counts GROUP BY n_big
""",
)
def sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs (the shape every nontrivial dbt model uses)."""
    return sql_over(
        spark,
        sf_dir,
        ["orders"],
        """
        WITH big_orders AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_totalprice > 300000
        ),
        cust_counts AS (
          SELECT o_custkey, COUNT(*) AS n_big FROM big_orders GROUP BY o_custkey
        )
        SELECT n_big, COUNT(*) AS n_custs
        FROM cust_counts GROUP BY n_big
        """,
    )


@query(
    "sql_subquery_scalar",
    oracle="""
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE p_retailprice >
      (SELECT CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(25,6))) AS VARCHAR)
               AS DOUBLE) / COUNT(p_retailprice)
       FROM part)
GROUP BY p_brand
""",
)
def sql_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate (above-average
    filter) — planned as a one-row broadcast, not a driver collect."""
    return sql_over(
        spark,
        sf_dir,
        ["part"],
        """
        SELECT p_brand, COUNT(*) AS n_parts
        FROM part
        WHERE p_retailprice >
              (SELECT CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(25,6))) AS STRING)
                       AS DOUBLE) / COUNT(p_retailprice)
               FROM part)
        GROUP BY p_brand
        """,
    )


_Q_EXISTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@query("sql_exists_correlated", oracle=_Q_EXISTS)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape) — Catalyst decorrelates to
    a left-semi join on l_orderkey; no per-row subquery execution."""
    return sql_over(spark, sf_dir, ["orders", "lineitem"], _Q_EXISTS)


_Q_IN = """
SELECT s_nationkey, COUNT(*) AS n_suppliers
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49)
GROUP BY s_nationkey
"""


@query("sql_in_subquery", oracle=_Q_IN)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → left-semi join after decorrelation."""
    return sql_over(spark, sf_dir, ["supplier", "lineitem"], _Q_IN)


_Q_PIVOT = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


@query("sql_case_pivot", oracle=_Q_PIVOT)
def sql_case_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot (TPC-H Q12 shape)."""
    return sql_over(spark, sf_dir, ["orders", "lineitem"], _Q_PIVOT)


@query(
    "pivot_wide",
    oracle="""
SELECT n_name,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot via `groupBy().pivot()` with explicit value
    list (no extra distinct-values job; one aggregation pass).

    Broadcast hint only on constant-cardinality nation (25 rows);
    SF-proportional customer is left to AQE (a forced hint would be
    honored past the broadcast cap at 100 TB — r2 VERDICT item 2)."""
    from pyspark.sql import functions as F

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = o.join(c, F.col("o_custkey") == F.col("c_custkey")).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    wide = (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "n_name",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


@query(
    "unpivot_long",
    oracle="""
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) via `DataFrame.unpivot` — the
    inverse reshape, one narrow pass, no shuffle."""
    return table(spark, sf_dir, "part").unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_Q_CORR_SCALAR = """
SELECT p.p_brand, COUNT(*) AS n_below
FROM part p
WHERE p.p_retailprice <
      (SELECT {dsum} / COUNT(p2.p_retailprice)
       FROM part p2 WHERE p2.p_brand = p.p_brand)
GROUP BY p.p_brand
"""


def _q_corr(str_t: str) -> str:
    return _Q_CORR_SCALAR.format(
        dsum=_DSUM.format(x="p2.p_retailprice", str_t=str_t)
    )


@query("sql_correlated_scalar", oracle=_q_corr("VARCHAR"))
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery (TPC-H Q17 shape:
    below-group-average filter) — Catalyst decorrelates it to one
    aggregate-then-join, not a per-row re-aggregation."""
    return sql_over(spark, sf_dir, ["part"], _q_corr("STRING"))


_Q_NESTED = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 1500
)
ORDER BY s_name
"""


@query("sql_nested_subquery", oracle=_Q_NESTED)
def sql_nested_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level nested IN subqueries with a HAVING gate (TPC-H Q20
    shape) — both levels decorrelate to semi-joins around one
    aggregate; nothing executes per-row."""
    return sql_over(spark, sf_dir, ["supplier", "lineitem", "part"], _Q_NESTED)


_Q1_BODY = """
SELECT l_returnflag,
       l_linestatus,
       {dsum_qty} AS sum_qty,
       {dsum_base} AS sum_base_price,
       {dsum_disc} AS sum_disc_price,
       {dsum_charge} AS sum_charge,
       {dsum_qty} / COUNT(l_quantity) AS avg_qty,
       {dsum_base} / COUNT(l_extendedprice) AS avg_price,
       {dsum_d} / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q1(str_t: str) -> str:
    d = {
        "dsum_qty": _DSUM.format(x="l_quantity", str_t=str_t),
        "dsum_base": _DSUM.format(x="l_extendedprice", str_t=str_t),
        "dsum_disc": _DSUM.format(
            x="CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))",
            str_t=str_t,
        ),
        "dsum_charge": _DSUM.format(
            x="CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))"
            " * CAST(1 + l_tax AS DECIMAL(18,6))",
            str_t=str_t,
        ),
        "dsum_d": _DSUM.format(x="l_discount", str_t=str_t),
    }
    return _Q1_BODY.format(**d)


@query("tpch_q1", oracle=_q1("VARCHAR"))
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical wide-aggregate scan;
    map-side partial aggregation reduces 6 M rows/SF to 4 groups
    before the single shuffle."""
    return sql_over(spark, sf_dir, ["lineitem"], _q1("STRING"))


_Q3 = """
SELECT l_orderkey,
       {dsum_rev} AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def _q3(str_t: str) -> str:
    return _Q3.format(
        dsum_rev=_DSUM.format(
            x="CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))",
            str_t=str_t,
        )
    )


@query("tpch_q3", oracle=_q3("VARCHAR"))
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority — selective dim filter broadcast
    into the fact join, group-sum, deterministic top-10."""
    return sql_over(spark, sf_dir, ["customer", "orders", "lineitem"], _q3("STRING"))


_Q_RCTE_SPARK = """
WITH RECURSIVE days(d) AS (
  SELECT DATE'1996-01-01'
  UNION ALL
  SELECT date_add(d, 1) FROM days WHERE d < DATE'1996-03-31'
)
SELECT d, COUNT(o_orderkey) AS n_orders
FROM days
LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
GROUP BY d
"""

_Q_RCTE_DUCK = """
WITH RECURSIVE days(d) AS (
  SELECT DATE '1996-01-01'
  UNION ALL
  SELECT d + 1 FROM days WHERE d < DATE '1996-03-31'
)
SELECT d, COUNT(o_orderkey) AS n_orders
FROM days
LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
GROUP BY d
"""


@query("sql_recursive_cte", oracle=_Q_RCTE_DUCK)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): generate a 91-day calendar spine
    declaratively, LEFT-join the fact table, and zero-fill gap days —
    the canonical dense-time-series reporting pattern, previously
    impossible in Spark SQL without a driver-side range(). Note the
    engine boundary pinned by probing: only UNION ALL recursion is
    supported (monotone series), not UNION-distinct — so cyclic-graph
    closure stays with the iterative operator (operators/graph.py),
    which is also the right 100 TB plan."""
    return sql_over(spark, sf_dir, ["orders"], _Q_RCTE_SPARK)



_Q_REUSE = """
WITH nation_rollup AS (
  SELECT c_nationkey,
         COUNT(*) AS n_cust,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS {str_t}) AS DOUBLE)
           AS total_bal
  FROM customer
  GROUP BY c_nationkey
)
SELECT 'largest' AS band, c_nationkey, n_cust, total_bal FROM nation_rollup
WHERE n_cust >= (SELECT MAX(n_cust) FROM nation_rollup)
UNION ALL
SELECT 'smallest', c_nationkey, n_cust, total_bal FROM nation_rollup
WHERE n_cust <= (SELECT MIN(n_cust) FROM nation_rollup)
"""


@query("sql_reuse_exchange", oracle=_Q_REUSE.format(str_t="VARCHAR"))
def sql_reuse_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate CTE consumed FOUR times (two branch bodies, two
    scalar extreme subqueries): Spark's exchange-reuse dedups the
    aggregation shuffle to one physical execution, wiring the other
    consumers to ReusedExchange nodes (pinned in tests) — the
    plan-level sharing that keeps multi-consumer CTEs from
    re-scanning the fact table once per reference at 100 TB."""
    return sql_over(spark, sf_dir, ["customer"], _Q_REUSE.format(str_t="STRING"))


_Q_GBA = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS {str_t}) AS DOUBLE)
         AS total
FROM orders
GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_Q_GBA.format(str_t="VARCHAR"))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` (infer grouping keys from the non-aggregate
    select items) — the modern-SQL ergonomic both Spark and DuckDB
    ship; one less way for a 40-column rollup model to silently
    drift from its select list."""
    return sql_over(spark, sf_dir, ["orders"], _Q_GBA.format(str_t="STRING"))


_Q_LCA = """
SELECT l_orderkey, l_linenumber,
       CAST(l_extendedprice AS DECIMAL(18,6))
         * CAST(1 - l_discount AS DECIMAL(18,6)) AS net,
       CAST(net * CAST(1 + l_tax AS DECIMAL(18,6)) AS DECIMAL(25,6)) AS gross,
       CAST(CAST(gross AS {str_t}) AS DOUBLE) AS gross_dbl
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-02-01'
"""


@query(
    "sql_lateral_alias",
    oracle="SELECT l_orderkey, l_linenumber, gross_dbl FROM ("
    + _Q_LCA.format(str_t="VARCHAR")
    + ")",
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: `net` referenced by `gross`, `gross`
    by `gross_dbl`, all in ONE select — the expression-pipeline
    style dbt models use heavily (vs nested subselects). The final
    projection keeps only the oracle-stable double."""
    df = sql_over(spark, sf_dir, ["lineitem"], _Q_LCA.format(str_t="STRING"))
    return df.select("l_orderkey", "l_linenumber", "gross_dbl")


_Q_LATERAL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
"""


@query("sql_lateral_join", oracle=_Q_LATERAL)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 4 / SQL:1999): per-nation
    top-2 customers by balance, the "top-N per group via LATERAL"
    idiom SQL-only model authors reach for. Catalyst decorrelates
    the LATERAL limit into a ranked window under the hood — same
    one-shuffle plan as the explicit row_number() form, so the
    ergonomic spelling costs nothing at scale. Ties broken by
    c_name so both engines pick identical rows."""
    return sql_over(spark, sf_dir, ["nation", "customer"], _Q_LATERAL)


@query(
    "sql_udf_sql_body",
    oracle="""
SELECT l_returnflag,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * CAST(1 - l_discount AS DECIMAL(18,6))) AS VARCHAR)
            AS DOUBLE) AS net_revenue,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
""",
)
def sql_udf_sql_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-body scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN`):
    the engine-native extension path for SQL-only authors — the
    function body is INLINED into the plan by Catalyst (no Python
    round-trip, stays inside whole-stage codegen), so unlike a
    row-at-a-time Python UDF it is free at 100 TB. Body does the
    exact-decimal net-price arithmetic; oracle inlines the same
    expression."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(ep DOUBLE, d DOUBLE)
        RETURNS DECIMAL(25,6)
        RETURN CAST(CAST(ep AS DECIMAL(18,6))
                    * CAST(1 - d AS DECIMAL(18,6)) AS DECIMAL(25,6))
        """
    )
    return sql_over(
        spark,
        sf_dir,
        ["lineitem"],
        """
        SELECT l_returnflag,
               CAST(CAST(SUM(net_price(l_extendedprice, l_discount)) AS STRING)
                    AS DOUBLE) AS net_revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag
        """,
    )


@query(
    "sql_pivot_syntax",
    oracle="""
SELECT l_returnflag,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS VARCHAR)
            AS DOUBLE) AS qty_F,
       CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS VARCHAR)
            AS DOUBLE) AS qty_O
FROM lineitem
GROUP BY l_returnflag
""",
)
def sql_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text PIVOT (the relational-reshape syntax, Spark SQL since
    3.x): explicit IN list keeps the output schema static — the
    planner never scans for distinct values, so the pivot is one
    ordinary grouped aggregate (same Expand-free plan as the CASE
    spelling the oracle uses)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(CAST(qty_F AS STRING) AS DOUBLE) AS qty_F,
               CAST(CAST(qty_O AS STRING) AS DOUBLE) AS qty_O
        FROM (SELECT l_returnflag, l_linestatus,
                     CAST(l_quantity AS DECIMAL(25,6)) AS q
              FROM lineitem)
        PIVOT (SUM(q) FOR l_linestatus IN ('F' AS qty_F, 'O' AS qty_O))
        """
    )


@query(
    "sql_unpivot_syntax",
    oracle="""
SELECT o_orderkey, 'totalprice' AS measure,
       CAST(o_totalprice AS DOUBLE) AS val
FROM orders WHERE o_orderkey % 500 = 0
UNION ALL
SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val
FROM orders WHERE o_orderkey % 500 = 0
""",
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text UNPIVOT (wide → long melt): each row fans out to one
    row per measure inside the scan projection (an Expand node — no
    shuffle, no join), the exact reshape a metrics table needs
    before a per-measure rollup."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, measure, val
        FROM (SELECT o_orderkey,
                     CAST(o_totalprice AS DOUBLE) AS totalprice,
                     CAST(o_custkey AS DOUBLE) AS custkey
              FROM orders WHERE o_orderkey % 500 = 0)
        UNPIVOT (val FOR measure IN (totalprice, custkey))
        """
    )


@query(
    "pivot_dynamic",
    oracle="""
SELECT o_orderpriority,
       CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS VARCHAR)
            AS DOUBLE) AS "F",
       CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS VARCHAR)
            AS DOUBLE) AS "O",
       CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P'
                 THEN CAST(o_totalprice AS DECIMAL(25,6)) END) AS VARCHAR)
            AS DOUBLE) AS "P"
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-IN-list pivot: `pivot(col)` with NO value list, so
    Spark first runs a distinct-values discovery job on the pivot
    column, then plans the wide aggregate over whatever it found —
    the schema is data-driven (here it resolves to F/O/P). Empty
    cells stay NULL (no coalesce), matching SUM(CASE…END) exactly.

    Scale: the discovery job is a distinct on ONE column — map-side
    partial, result bounded by pivot-column cardinality (Spark caps
    it at spark.sql.pivotMaxValues, default 10k). The pivot itself is
    one ordinary grouped aggregate; only the discovery pass is extra
    vs the static IN-list spelling, and it reads a single pruned
    column. The post-pivot cast loop below is schema-driven — it
    works for ANY discovered value set, which is the point."""
    from pyspark.sql import functions as F

    from gmt_dbt_spark.exprs import DEC, dec2dbl

    o = table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)))
    )
    val_cols = [c for c in wide.columns if c != "o_orderpriority"]
    return wide.select(
        "o_orderpriority", *[dec2dbl(F.col(f"`{c}`")).alias(c) for c in val_cols]
    )


@query(
    "sql_distribute_cluster",
    oracle="""
SELECT c_nationkey, c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > 0
""",
)
def sql_distribute_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY — the Hive-inherited physical-layout
    clauses: DISTRIBUTE BY hash-partitions output rows without a
    global sort, SORT BY orders within each partition only. Together
    (= CLUSTER BY) they produce the partition-local ordering a
    bucketed writer or per-partition consumer wants at a fraction of
    ORDER BY's cost — no global range exchange, no sampling pass.
    Values are identical to the bare SELECT (layout clauses don't
    change the bag of rows), which is exactly what the oracle checks.

    Scale: ONE hash exchange + partition-local sort vs ORDER BY's
    range exchange (which needs a skew-prone sampling job first). For
    write-side layout this is the shape `sink_partitioned` exploits."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_nationkey, c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > 0
        DISTRIBUTE BY c_nationkey SORT BY c_nationkey, c_acctbal
        """
    )


@query(
    "sql_values_inline",
    oracle="""
WITH tiers(tier, lo, hi) AS (
  VALUES ('low', 0.0, 3000.0), ('mid', 3000.0, 7000.0), ('high', 7000.0, 10000.0)
)
SELECT tier, COUNT(*) AS n_cust
FROM customer JOIN tiers
  ON c_acctbal >= lo AND c_acctbal < hi
GROUP BY tier
""",
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table constructor — the literal lookup/banding
    table (tier thresholds) declared in-query and theta-joined to the
    fact. The VALUES relation is a LocalRelation: Catalyst broadcasts
    it for free (3 rows), so the banding is a scan-side
    BroadcastNestedLoopJoin that never shuffles the fact table —
    the right plan for ANY constant band list at any fact scale."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH tiers AS (
          SELECT * FROM VALUES ('low', 0.0D, 3000.0D),
                               ('mid', 3000.0D, 7000.0D),
                               ('high', 7000.0D, 10000.0D) AS t(tier, lo, hi)
        )
        SELECT tier, COUNT(*) AS n_cust
        FROM customer JOIN tiers
          ON c_acctbal >= lo AND c_acctbal < hi
        GROUP BY tier
        """
    )


@query(
    "sql_offset_paging",
    oracle="""
WITH page AS (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 20 OFFSET 40
)
SELECT c_custkey, c_name, c_acctbal,
       40 + ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
FROM page
""",
)
def sql_offset_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT ... OFFSET pagination (Spark SQL ≥ 3.4): page 3 of the
    balance leaderboard. The ORDER BY is a TOTAL order (c_custkey
    tiebreak), so the page is deterministic — OFFSET without a total
    order is a different answer every run on a distributed engine.

    Scale: Spark plans a global TakeOrderedAndProject of
    offset+limit rows (top-60 here) — partial top-k per partition,
    single reduce; cost grows with page DEPTH, not table size.
    Deep pagination (page 10⁶) should switch to keyset pagination
    (WHERE (c_acctbal, c_custkey) < last_seen ORDER BY ... LIMIT k),
    which this same total order makes correct — documented here
    because OFFSET-walking a 100 TB table is the classic anti-pattern.

    `rn` (r9, the pattern-13 order audit): the page's SELECTION was
    always hash-visible, but the (position ↔ row) assignment WITHIN
    the page was not — a tiebreak-direction bug that kept the same
    20-row set in a different display order was invisible to the
    multiset hash. The global position stamp (40 + within-page
    row_number under the same total order) makes it visible. The
    stamp is computed on the 20-row PAGE, after the
    TakeOrderedAndProject — an unpartitioned window bounded by page
    size, never by table size (the sort_order_audit lesson:
    stamping before the limit would force a global window over the
    whole table)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    page = spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 20 OFFSET 40
        """
    )
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return page.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        (F.lit(40) + F.row_number().over(w)).cast("bigint").alias("rn"),
    )


@query(
    "sql_not_in_nulls",
    oracle="""
SELECT 'not_in' AS variant, COUNT(*) AS n
FROM customer
WHERE c_acctbal NOT IN
      (SELECT CASE WHEN o_totalprice > 200000.0 THEN o_totalprice END
       FROM orders)
UNION ALL
SELECT 'not_exists' AS variant, COUNT(*) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE (o.o_totalprice = c.c_acctbal) IS TRUE
                    AND o.o_totalprice > 200000.0)
""",
)
def sql_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    pinned as a query: the subquery's CASE yields NULLs, so `x NOT IN
    (...)` is never TRUE (any NULL in the list makes the predicate
    UNKNOWN) and the not_in branch counts 0, while the NOT EXISTS
    spelling (NULL-free by construction) returns the intuitive
    answer. Both engines implement SQL-standard semantics — the
    oracle proves the engines agree on BOTH counts.

    Scale lesson in the plan: NOT IN compiles to a NULL-AWARE anti
    join, which Spark can only execute as BroadcastNestedLoopJoin —
    OOM-prone and O(n·m) at scale. NOT EXISTS compiles to an
    ordinary (broadcast/shuffled) anti join. Rewrite NOT IN to NOT
    EXISTS whenever the subquery can produce NULLs."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT 'not_in' AS variant, COUNT(*) AS n
        FROM customer
        WHERE c_acctbal NOT IN
              (SELECT CASE WHEN o_totalprice > 200000.0 THEN o_totalprice END
               FROM orders)
        UNION ALL
        SELECT 'not_exists' AS variant, COUNT(*) AS n
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE (o.o_totalprice = c.c_acctbal) IS TRUE
                            AND o.o_totalprice > 200000.0)
        """
    )


@query(
    "sql_exists_projection",
    oracle="""
SELECT c_custkey,
       EXISTS(SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT') AS has_urgent
FROM customer c
""",
)
def sql_exists_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS in the PROJECTION (not WHERE) — the
    existence FLAG column every enrichment mart wants ("has this
    customer ever placed an urgent order") without dropping the
    non-matching rows a semi-join would. Catalyst plans it as an
    ExistenceJoin — one left-outer-shaped hash join emitting a
    boolean, not a per-row subquery re-scan; the urgent filter is
    pushed into the orders scan, so the build side is the urgent
    slice only. Same single-shuffle cost as the WHERE-clause EXISTS
    (sql_exists_correlated), different — and strictly more general —
    output contract."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT') AS has_urgent
        FROM customer c
        """
    )


@query(
    "sql_positional_refs",
    oracle="""
SELECT o_orderpriority, year(o_orderdate) AS yr, COUNT(*) AS n
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def sql_positional_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional GROUP BY / ORDER BY (`GROUP BY 1, 2`) — the
    analyst-SQL ergonomic every warehouse dialect supports; Spark
    resolves ordinals at analysis time (spark.sql.groupByOrdinal /
    orderByOrdinal, both default true) into the same plan as the
    named spelling — zero runtime cost, pure front-end sugar. The
    hash-ordered compare makes ORDER BY semantically irrelevant
    here; it rides along to pin that ordinal ORDER BY parses."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, year(o_orderdate) AS yr, COUNT(*) AS n
        FROM orders
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


@query(
    "sql_star_except",
    oracle="""
SELECT * EXCLUDE (c_name, c_acctbal) FROM customer
""",
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT * EXCEPT (cols)` — project everything BUT a denylist
    (DuckDB spells it EXCLUDE): the ergonomic that keeps wide-table
    models maintainable (drop the PII/heavy columns without
    enumerating the 200 you keep). Resolved at analysis time into an
    ordinary explicit projection, so column PRUNING still reaches
    the scan — the excluded columns are never read; semantically the
    safe-by-default projection for `sanitize → republish` flows."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql("SELECT * EXCEPT (c_name, c_acctbal) FROM customer")


@query(
    "sql_pipe_syntax",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS total_bal
FROM customer
WHERE c_acctbal > 0
GROUP BY c_mktsegment
HAVING COUNT(*) > 10
""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SQL:2023-adjacent `|>` operators):
    the linear FROM → WHERE → AGGREGATE → WHERE chain that reads in
    execution order instead of inside-out nesting — the same logical
    plan as the classic GROUP BY + HAVING spelling (the oracle), so
    Catalyst optimizes both identically; purely a parser surface, and
    exactly the style BigQuery pipes / modern ELT SQL is converging
    on."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        FROM customer
        |> WHERE c_acctbal > 0
        |> AGGREGATE COUNT(*) AS n,
                     CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING)
                          AS DOUBLE) AS total_bal
           GROUP BY c_mktsegment
        |> WHERE n > 10
        |> SELECT c_mktsegment, n, total_bal
        """
    )


@query(
    "sql_default_columns",
    oracle="""
SELECT * FROM (VALUES
  (1, 'ORDERED', 100),
  (2, 'new',     100),
  (3, 'SHIPPED',   0),
  (4, 'new',       0)
) AS t(id, status, qty)
""",
)
def sql_default_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL DEFAULT column values (Spark 3.4+): omitted columns and
    the explicit DEFAULT keyword both resolve to the declared
    constant at INSERT time — the schema-evolution affordance ELT
    warehouses lean on (add a defaulted column, old writers keep
    working). Defaults are substituted during analysis, so the
    stored files carry materialized values — reads pay nothing."""
    import uuid

    name = f"default_demo_{uuid.uuid4().hex[:8]}"
    try:
        spark.sql(
            f"""CREATE TABLE {name} (
                  id INT,
                  status STRING DEFAULT 'new',
                  qty INT DEFAULT 0
                ) USING parquet"""
        )
        spark.sql(f"INSERT INTO {name} VALUES (1, 'ORDERED', 100)")
        spark.sql(f"INSERT INTO {name} (id, qty) VALUES (2, 100)")
        spark.sql(f"INSERT INTO {name} VALUES (3, 'SHIPPED', DEFAULT)")
        spark.sql(f"INSERT INTO {name} (id) VALUES (4)")
        out = spark.table(name).select("id", "status", "qty")
        return out.localCheckpoint(eager=True)  # detach, executor-side
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@query(
    "sql_insert_by_name",
    oracle="""
SELECT c_custkey AS id, c_mktsegment AS seg
FROM customer WHERE c_custkey < 100
""",
)
def sql_insert_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... BY NAME (Spark 3.5+): the writer's SELECT
    binds to the target by COLUMN NAME, not position — the guard
    against the classic silent-column-swap ELT bug when a source
    query's column order drifts. The probe inserts with deliberately
    reversed column order; BY NAME routes each to the right target
    column."""
    import uuid

    name = f"byname_demo_{uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    try:
        spark.sql(f"CREATE TABLE {name} (id BIGINT, seg STRING) USING parquet")
        spark.sql(
            f"""INSERT INTO {name} BY NAME
                SELECT c_mktsegment AS seg, c_custkey AS id
                FROM customer WHERE c_custkey < 100"""
        )
        out = spark.table(name).select("id", "seg")
        return out.localCheckpoint(eager=True)  # detach, executor-side
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@query(
    "sql_named_arguments",
    oracle="""
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'Q', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked
FROM customer WHERE c_custkey < 200
""",
)
def sql_named_arguments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named function arguments (Spark 3.5+ `param => value`): only
    the parameters that differ from defaults are spelled, in any
    order — here `mask` overrides just upperChar while lowerChar and
    digitChar keep their defaults. The oracle reproduces the masking
    with explicit character-class replaces."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, mask(c_name, upperChar => 'Q') AS masked
        FROM customer WHERE c_custkey < 200
        """
    )


@query(
    "sql_udf_table_valued",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS VARCHAR)
            AS DOUBLE) AS total
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'MACHINERY'
GROUP BY o.o_orderpriority
""",
)
def sql_udf_table_valued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE-VALUED user function (CREATE FUNCTION ... RETURNS
    TABLE ... RETURN SELECT): a parameterized, reusable relational
    view — the dbt-macro / BigQuery-TVF affordance in pure SQL. The
    body INLINES into the caller's plan at analysis time (no
    materialization boundary: pushdown and join planning see through
    it), proven by the per-priority rollup over the function's rows
    hash-matching the direct join oracle."""
    import uuid

    fn = f"seg_orders_{uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    try:
        spark.sql(
            f"""CREATE TEMPORARY FUNCTION {fn}(seg STRING)
                RETURNS TABLE(o_orderpriority STRING, o_totalprice DOUBLE)
                RETURN SELECT o.o_orderpriority, o.o_totalprice
                       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                       WHERE c.c_mktsegment = seg"""
        )
        out = spark.sql(
            f"""SELECT o_orderpriority, COUNT(*) AS n,
                       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING)
                            AS DOUBLE) AS total
                FROM {fn}('MACHINERY')
                GROUP BY o_orderpriority"""
        )
        # materialize before dropping the function the plan references
        return out.localCheckpoint(eager=True)  # detach, executor-side
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn}")
