"""Additional TPC-H reporting shapes — SURVEY.md §2 [surface] depth.

dbt models are arbitrary SQL (`dbt_project.yml:11`), so the engine
must host the full catalogue of classic analytic patterns BigQuery
would have executed for the reference. This module adds the TPC-H
shapes NOT already covered by sql_surface.py (Q1/Q3/Q4/Q12/Q17/Q20
shapes live there): correlated-MIN (Q2), conditional-agg ratio (Q14),
NOT-IN + COUNT(DISTINCT) (Q16), HAVING-IN mega-orders (Q18),
disjunctive multi-predicate join (Q19), and NOT-EXISTS + scalar-avg
anti-pattern (Q22).

The driver testdata is a slimmed TPC-H (no partsupp table, no
phone/address/comment columns — see TESTDATA.md), so each query keeps
the classic query's *plan shape* while substituting available
columns: lineitem is the part↔supplier bridge where partsupp would
be, and the customer "country code" is the last two digits of the
c_name serial. Arithmetic follows the exprs.py contract (exact
DECIMAL sums, VARCHAR-cast to double on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmt_dbt_spark.catalog import sql_over
from gmt_dbt_spark.registry import query

_DSUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS {str_t}) AS DOUBLE)"
_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))"
)


# --- Q2 shape: correlated MIN over a join (min-cost supplier) -------------
# Classic Q2 finds the min-supplycost supplier per part via a correlated
# MIN subquery over partsupp; with lineitem as the bridge the same plan
# shape is: parts of one size, their cheapest observed line price, and
# the supplier(s) that sold at that price. MIN of a double involves no
# arithmetic, so the equality predicate is exact on both engines.
_Q2 = """
SELECT p.p_partkey, p.p_brand, s.s_name, l.l_extendedprice AS min_price
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size = 15
  AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                           FROM lineitem l2
                           WHERE l2.l_partkey = p.p_partkey)
"""


@query("tpch_q2", oracle=_Q2)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): correlated MIN subquery
    over the fact join — Catalyst decorrelates to one per-part
    aggregate joined back, not a per-row rescan; the p_size filter
    pushes into the part scan and prunes before the join."""
    return sql_over(spark, sf_dir, ["part", "lineitem", "supplier"], _Q2)


# --- Q14: conditional-aggregation ratio (promo revenue %) -----------------
_Q14_BODY = """
SELECT 100.00 * {promo} / {total} AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def _q14(str_t: str) -> str:
    return _Q14_BODY.format(
        promo=_DSUM.format(
            x=f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,6)) END",
            str_t=str_t,
        ),
        total=_DSUM.format(x=_REV, str_t=str_t),
    )


@query("tpch_q14", oracle=_q14("VARCHAR"))
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo-revenue ratio: two conditional aggregates in
    one pass over a month of lineitem joined to part (broadcast —
    part is a dimension). Both sums take the exact-DECIMAL route;
    the final ratio is one deterministic double division."""
    return sql_over(spark, sf_dir, ["lineitem", "part"], _q14("STRING"))


# --- Q16 shape: NOT IN subquery + COUNT(DISTINCT) -------------------------
_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@query("tpch_q16", oracle=_Q16)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per (brand, type, size)
    excluding blacklisted suppliers — NOT IN compiles to a null-aware
    anti-join (broadcast: the blacklist is tiny), then a two-phase
    distinct aggregation. partsupp is substituted by the lineitem
    part↔supplier bridge (TESTDATA.md has no partsupp)."""
    return sql_over(spark, sf_dir, ["part", "lineitem", "supplier"], _Q16)


# --- Q18: HAVING-IN mega-orders -------------------------------------------
_Q18_BODY = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {qty} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


def _q18(str_t: str) -> str:
    return _Q18_BODY.format(qty=_DSUM.format(x="l_quantity", str_t=str_t))


@query("tpch_q18", oracle=_q18("VARCHAR"))
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume orders: the IN subquery is itself an
    aggregate with HAVING — planned as agg→filter→semi-join feeding
    the 3-way join, so only qualifying orderkeys reach the wide
    grouping. The semi-join side is small after HAVING → broadcast."""
    return sql_over(spark, sf_dir, ["customer", "orders", "lineitem"], _q18("STRING"))


# --- Q19: disjunctive multi-predicate join --------------------------------
_Q19_BODY = """
SELECT {rev} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


def _q19(str_t: str) -> str:
    return _Q19_BODY.format(rev=_DSUM.format(x=_REV, str_t=str_t))


@query("tpch_q19", oracle=_q19("VARCHAR"))
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunctive predicate: three OR'd conjunction groups
    spanning both join sides. Catalyst extracts the common
    single-side conjuncts (p_brand/p_size → part scan, l_quantity →
    lineitem scan) as pushed-down filters, leaving only the residual
    OR to evaluate post-join."""
    return sql_over(spark, sf_dir, ["lineitem", "part"], _q19("STRING"))


# --- Q22 shape: NOT EXISTS + scalar-avg gate ------------------------------
# c_name is 'Customer#%09d' (TESTDATA.md); the classic phone country
# code becomes the serial's last two digits: substring(c_name, 17, 2).
# Every sf0.01 customer has at least one order, so the classic
# "no orders at all" anti-join is vacuous on this data; the predicate
# becomes "no URGENT order" — same decorrelated anti-join plan,
# non-empty result at every SF.
_Q22_BODY = """
SELECT cntrycode, COUNT(*) AS numcust, {bal} AS totacctbal
FROM (
  SELECT SUBSTRING(c_name, 17, 2) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_acctbal > (SELECT {avg_bal} / COUNT(c_acctbal)
                     FROM customer WHERE c_acctbal > 0.00)
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
) custsale
GROUP BY cntrycode
"""


def _q22(str_t: str) -> str:
    return _Q22_BODY.format(
        bal=_DSUM.format(x="c_acctbal", str_t=str_t),
        avg_bal=_DSUM.format(x="c_acctbal", str_t=str_t),
    )


@query("tpch_q22", oracle=_q22("VARCHAR"))
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity shape: an uncorrelated
    scalar average (one-row broadcast), a NOT EXISTS anti-join
    against orders, and a substring-derived grouping key — the
    customers-without-orders anti-pattern at its classic worst."""
    return sql_over(spark, sf_dir, ["customer", "orders"], _q22("STRING"))


# --- Q7: nation-pair trade volume by year ---------------------------------
_Q7_BODY = """
SELECT supp_nation, cust_nation, l_year, {rev} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS l_year, l_extendedprice, l_discount
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def _q7(str_t: str) -> str:
    return _Q7_BODY.format(rev=_DSUM.format(x=_REV, str_t=str_t))


@query("tpch_q7", oracle=_q7("VARCHAR").replace("YEAR(", "YEAR("))
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: the 6-way join with TWO roles for
    nation (supplier's and customer's) and a symmetric nation-pair
    disjunction. nation broadcasts twice under distinct aliases; the
    pair filter prunes both broadcast sides before the fact join."""
    return sql_over(
        spark,
        sf_dir,
        ["supplier", "lineitem", "orders", "customer", "nation"],
        _q7("STRING"),
    )


# --- Q10: returned-items customer ranking ---------------------------------
_Q10_BODY = """
SELECT c_custkey, c_name, n_name, {rev} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def _q10(str_t: str) -> str:
    return _Q10_BODY.format(rev=_DSUM.format(x=_REV, str_t=str_t))


@query("tpch_q10", oracle=_q10("VARCHAR"))
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-items ranking: quarter + returnflag filters
    into a 4-way join, per-customer revenue, deterministic top-20
    (revenue desc, custkey tiebreak → TakeOrderedAndProject, no
    global sort)."""
    return sql_over(
        spark, sf_dir, ["customer", "orders", "lineitem", "nation"], _q10("STRING")
    )


# --- Q13: customer order-count distribution -------------------------------
# The distinctive shape: a LEFT join whose ON clause carries a
# non-key predicate on the right side (orders filtered in the join,
# customers always kept), COUNT(nullable) so no-order customers count
# 0, then a second aggregation over the first's result.
_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13", oracle=_Q13)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution: filtered LEFT join (predicate
    inside ON — pushed to the orders scan, never dropping customers),
    COUNT of the nullable side, then a histogram re-aggregation. Two
    shuffles: custkey, then c_count (tiny)."""
    return sql_over(spark, sf_dir, ["customer", "orders"], _Q13)


# --- Q15: top supplier via CTE reused twice -------------------------------
_Q15_BODY = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {rev} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def _q15(str_t: str) -> str:
    return _Q15_BODY.format(rev=_DSUM.format(x=_REV, str_t=str_t))


@query("tpch_q15", oracle=_q15("VARCHAR"))
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: one CTE consumed TWICE (join input and
    scalar-MAX subquery). The equality-on-aggregate predicate is safe
    because both engines compute the revenue through the exact
    DECIMAL route — identical doubles, identical argmax set."""
    return sql_over(spark, sf_dir, ["supplier", "lineitem"], _q15("STRING"))


# --- Q21 shape: EXISTS + NOT EXISTS double-correlation --------------------
# Classic Q21 (suppliers who kept the order waiting) needs
# l_receiptdate/l_commitdate which the slim schema lacks; the same
# plan shape on available columns: in finished multi-supplier orders,
# find the supplier who was the ONLY one whose items were returned.
_Q21 = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("tpch_q21", oracle=_Q21)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: a semi-join AND an anti-join both correlated
    on the same fact key, stacked on a 3-way join — the heaviest
    decorrelation pattern in the classic suite. Catalyst plans both
    subqueries as joins on l_orderkey (no per-row re-scan);
    deterministic top-10 via the numwait/s_name total order."""
    return sql_over(spark, sf_dir, ["supplier", "lineitem", "orders"], _Q21)
