"""Modern Spark 4.x surface — VARIANT JSON, Python UDTFs, HLL sketches.

The reference's JSON handling is schema-autodetected external tables
(`main.py:318-320`); Spark 4 adds the VARIANT type (binary
semi-structured values, shredded access without full schema
inference) — the idiomatic modern form of the same capability.
Python UDTFs (Spark 3.5+) are the declarative 1→N row surface beyond
`explode` (SURVEY.md §2.I `udtf_explode`). HLL sketch aggregates
(Apache DataSketches, Spark 3.5+) are the mergeable-state form of
`agg_approx_distinct`: partial sketches combine associatively, so a
100 TB scan aggregates map-side and re-merges at any rollup level —
the pattern exact COUNT(DISTINCT) cannot follow without a full
shuffle of the key set.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import scoped_conf


@query(
    "fn_variant",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
         AS sum_k,
       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion of the events `props` JSON column:
    `parse_json` once into a variant, typed `variant_get` extraction,
    then an exact integer aggregate. At scale the parse happens
    inside codegen on the scan projection — no Python, no regex, no
    per-field re-parse (the variant is decoded once per row)."""
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


# Module-scope UDTF class: executors re-import this module, so the
# class must be defined without an active SparkSession (verify
# SKILL.md gotcha — same rule as the pandas UDFs in udfs.py).
class _SplitWordsUDTF:
    """Emit (word, idx) per whitespace token of the input text."""

    def eval(self, text: str):  # noqa: A002 - UDTF protocol
        for i, w in enumerate((text or "").split(" ")):
            yield w, i


@query(
    "udtf_python",
    oracle="""
SELECT word, COUNT(*) AS n, MIN(idx) AS first_idx
FROM (
  SELECT u.word AS word, u.i - 1 AS idx
  FROM (SELECT text FROM documents WHERE doc_id < 40) d,
  LATERAL (SELECT UNNEST(string_split(d.text, ' ')) AS word,
                  generate_subscripts(string_split(d.text, ' '), 1) AS i) u
)
GROUP BY word
""",
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+ `@udtf`) in a LATERAL join: tokenize
    each document into (word, position) rows, then aggregate per
    word. The UDTF is the user-extensible 1→N surface; for this
    particular expansion the built-in `posexplode(split(...))` is the
    faster JVM path (see text.py) — the point here is hosting
    arbitrary user table functions, oracle-checked."""
    from pyspark.sql.functions import udtf

    split_words = udtf(_SplitWordsUDTF, returnType="word string, idx int")
    spark.udtf.register("split_words_udtf", split_words)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT s.word, COUNT(*) AS n, MIN(s.idx) AS first_idx
        FROM documents d, LATERAL split_words_udtf(d.text) s
        WHERE d.doc_id < 40
        GROUP BY s.word
        """
    )


@query(
    "agg_hll_sketch",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events
""",
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-event-type HLL sketches
    of user_id, re-merged with `hll_union_agg` into an ALL rollup —
    two aggregation levels sharing one scan's partial sketches. This
    is the 100 TB distinct-count pattern: map-side partials are
    fixed-size sketch buffers (2^12 registers here), never the key
    set itself.

    DataSketches estimates are implementation-specific, so the query
    hashes the EXACT counts plus a ``within_bound`` boolean asserting
    each estimate (including the union-merged ALL rollup) lands within
    5% of the exact value — deterministic against the oracle's TRUE
    (r1 untestable-sketch fix).

    Everything derives from ONE distinct (event_type, user_id)
    projection (r3, the agg_approx_distinct lesson): mixing
    COUNT(DISTINCT) with a sketch aggregate carries the sketch
    buffer per phase-1 (type, user) group, and the old ALL-rollup
    exact count re-scanned events entirely; sketches are
    duplicate-insensitive, so building them after the distinct the
    exact counts need anyway changes nothing — one events scan
    total (by construction: the single materialized projection is
    the only thing the three consumers read; the checkpoint
    truncates lineage, so this is not plan-assertable downstream)."""
    ev = table(spark, sf_dir, "events")
    # three consumers (per-type sketches+counts, the union rollup,
    # the overall exact) — materialize the small distinct-pair frame
    # once or each re-runs the scan+distinct
    d = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=True)
    sketches = d.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count("user_id").alias("exact_users"),
    )

    def bound(est, exact):
        # exact = 0 (a group whose only user_id is NULL) makes the
        # relative-error division an ANSI DIVIDE_BY_ZERO crash — the
        # agg_approx_distinct guard, ported (review finding)
        return (
            F.when(exact == 0, est == 0)
            .otherwise(F.abs(est - exact) / exact <= F.lit(0.05))
            .alias("within_bound")
        )

    per_type = sketches.select(
        "event_type",
        "exact_users",
        bound(F.expr("hll_sketch_estimate(sk)"), F.col("exact_users")),
    )
    overall_est = sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_all")
    )
    overall_exact = (
        d.select("user_id")
        .distinct()
        .agg(F.count("user_id").alias("exact_users"))
    )
    overall = overall_exact.crossJoin(overall_est).select(
        F.lit("ALL").alias("event_type"),
        "exact_users",
        bound(F.col("est_all"), F.col("exact_users")),
    )
    return per_type.unionAll(overall)


@query(
    "fn_collation",
    oracle="""
SELECT COUNT(DISTINCT lower(x)) AS n_ci, COUNT(DISTINCT x) AS n_cs
FROM (VALUES ('Apple'), ('APPLE'), ('apple'), ('Banana'), ('BANANA'),
             ('cherry')) t(x)
""",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: `collate(x, 'UTF8_LCASE')` makes
    comparison/grouping/distinct case-insensitive WITHOUT rewriting
    the data (unlike lower(), the original strings survive; the
    collation travels with the type). Distinct counts under the
    case-insensitive collation vs binary collation, oracle'd via the
    lower() equivalence."""
    return spark.sql(
        """
        SELECT COUNT(DISTINCT collate(x, 'UTF8_LCASE')) AS n_ci,
               COUNT(DISTINCT x) AS n_cs
        FROM VALUES ('Apple'), ('APPLE'), ('apple'), ('Banana'), ('BANANA'),
                    ('cherry') t(x)
        """
    )


@query(
    "udaf_grouped_arrow",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_micro
FROM events
GROUP BY user_id
""",
)
def udaf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregate on the Arrow-NATIVE path
    (`applyInArrow`, Spark 4): zero pandas conversion — the group
    arrives as a pyarrow.Table, compute runs in Arrow kernels, the
    result returns as a Table. This is the fastest Python escape
    hatch (no pandas materialization cost on either boundary);
    exactness via integer micro-units (floor — identical semantics in
    both engines), so the oracle matches bit-for-bit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def agg(t: pa.Table) -> pa.Table:
        v = t.column("value")
        micros = pc.cast(pc.floor(pc.multiply(v, 1_000_000.0)), pa.int64())
        return pa.table(
            {
                "user_id": [t.column("user_id")[0].as_py()],
                "n": [t.num_rows],
                "total_micro": [pc.sum(micros).as_py()],
            }
        )

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").applyInArrow(
        agg, schema="user_id bigint, n bigint, total_micro bigint"
    )


@query(
    "sql_session_variable",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         AS sum_qty
FROM lineitem
WHERE l_quantity >= 45.0
GROUP BY l_returnflag
""",
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 `DECLARE` / `SET VAR`): the
    parameterization mechanism for SQL-only model authors — dbt-style
    vars without Jinja string splicing (and without its injection
    risks). The variable is constant-folded into the plan, so the
    filter still reaches the parquet scan as a pushed predicate."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE qty_cut DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR qty_cut = 45.0")
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n_lines,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING)
                    AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_quantity >= qty_cut
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_execute_immediate",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with USING parameters (Spark 4): the
    parameterized-SQL entry point — the safe dynamic-SQL surface the
    reference's string-built MERGE (`gcp_function.py:67-94`) should
    have used; parameters bind as literals, never as spliced text."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, COUNT(*) AS n_orders "
        "FROM orders WHERE o_orderstatus = ? GROUP BY o_orderpriority' "
        "USING 'F'"
    )


@query(
    "fn_xml",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_custkey
FROM orders
WHERE o_orderkey % 100 = 0
""",
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange (Spark 4 `to_xml`/`from_xml`): each order row
    serialized to an XML fragment and parsed back with a declared
    schema — the third text interchange format next to JSON and CSV.
    The oracle is the ORIGINAL columns: any serializer/parser drift
    (escaping, type coercion, field order) fails the hash. Both
    directions run inside codegen — no Python."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "o_custkey")
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x", "o_orderkey BIGINT, o_orderstatus STRING, o_custkey BIGINT"
        ).alias("s")
    )
    return parsed.select("s.o_orderkey", "s.o_orderstatus", "s.o_custkey")


@query(
    "fn_crypto",
    oracle="""
SELECT o_orderkey,
       o_orderpriority AS roundtrip,
       16 * (CAST(floor(length(o_orderpriority) / 16) AS INTEGER) + 1)
         AS cipher_len
FROM orders
WHERE o_orderkey % 200 = 0
""",
)
def fn_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip (`aes_encrypt`/
    `aes_decrypt`, ECB for determinism — GCM's random IV would be
    the production pick but is untestable by value): decrypt∘encrypt
    must be identity, and the ciphertext length must be the exact
    PKCS#7 block count — both checked against an oracle that never
    sees a key. The at-rest column-protection primitive for PII
    fields moving through a shared warehouse."""
    key = F.lit("0123456789abcdef")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 200 == 0)
    enc = o.select(
        "o_orderkey",
        F.aes_encrypt(F.col("o_orderpriority"), key, F.lit("ECB")).alias("ct"),
    )
    return enc.join(
        o.select("o_orderkey", "o_orderpriority"), "o_orderkey"
    ).select(
        "o_orderkey",
        F.aes_decrypt(F.col("ct"), key, F.lit("ECB")).cast("string").alias("roundtrip"),
        F.length("ct").cast("int").alias("cipher_len"),
    )


@query(
    "sql_parameterized",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY o_orderpriority
""",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark ≥ 3.4): named `:param` markers bound
    server-side via `spark.sql(sql, args=...)` — the injection-safe
    templating surface that replaces f-string SQL assembly (the
    reference concatenates user values into BigQuery SQL,
    gcp_function.py:67-113; parameter markers are the Spark-native
    answer). Literals bind as typed expressions BEFORE analysis, so
    pushdown sees real constants: the price/date predicates land in
    the parquet scan exactly as if they were inlined."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderdate >= :since
        GROUP BY o_orderpriority
        """,
        args={
            "min_price": 150000.0,
            # plain python values bind as typed literals; expressions
            # are rejected ([INVALID_SQL_ARG]) unless foldable
            "since": datetime.datetime(1996, 1, 1),
        },
    )


@query(
    "sql_identifier_clause",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_cust
FROM customer
GROUP BY c_mktsegment
""",
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:name) clause (Spark ≥ 3.4): table and column names
    supplied as PARAMETERS instead of string-spliced SQL — the safe
    spelling of the reference's dynamic `{dataset}.{table}` target
    assembly (gcp_function.py:115-131). The identifier is validated
    as a name (quoting, no injection), then the query plans exactly
    as the static text would — same scan, same pushdown."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT IDENTIFIER(:seg_col), COUNT(*) AS n_cust
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:seg_col)
        """,
        args={"seg_col": "c_mktsegment", "tbl": "customer"},
    )


@query(
    "sql_scripting",
    oracle="""
WITH steps AS (SELECT unnest(range(1, 41)) * 50000 AS t),
counts AS (
  SELECT s.t, COUNT(CASE WHEN o.o_totalprice <= s.t THEN 1 END) AS n
  FROM steps s LEFT JOIN orders o ON TRUE GROUP BY s.t
),
tot AS (SELECT COUNT(*) AS total FROM orders)
SELECT CAST(t AS BIGINT) AS threshold,
       CAST(n AS BIGINT) AS n_below,
       CAST(total AS BIGINT) AS n_total
FROM counts, tot
WHERE n * 10 >= total * 9 OR t = 2000000
ORDER BY t LIMIT 1
""",
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4.0, SQL/PSM): BEGIN…END block with
    DECLARE'd variables and a WHILE loop stepping a price threshold
    until it covers ≥ 90% of orders — procedural control flow in
    pure SQL, the stored-procedure-style surface dbt macros can't
    express (loops with data-dependent exit conditions).

    Execution model — the scale point: the SCRIPT runs on the
    driver; every statement inside it is a full distributed query.
    Scripting orchestrates, it never computes — the loop body's
    COUNT is a pushed-filter scan each round, and the round count is
    CAPPED (REPEAT … UNTIL qualifying OR t ≥ 2 M: ≤ 40 steps of
    50 k, independent of table size — an uncapped WHILE would spin
    forever on a distribution whose 90% point exceeds the range).
    REPEAT (test-after) also pins the empty-input case: one step
    always executes, so t=50 k comes back, exactly like the oracle's
    first qualifying spine row. The oracle replays the search
    declaratively (step spine ⋈ orders, first step qualifying or
    capped) — procedural and set-based spellings provably agree on
    qualifying, capped, AND empty inputs."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # the script runs inside the scope; its result comes back local
    with scoped_conf(spark, **{"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE t BIGINT DEFAULT 0;
              DECLARE n BIGINT DEFAULT 0;
              DECLARE total BIGINT DEFAULT 0;
              SET total = (SELECT COUNT(*) FROM orders);
              REPEAT
                SET t = t + 50000;
                SET n = (SELECT COUNT(*) FROM orders WHERE o_totalprice <= t);
              UNTIL n * 10 >= total * 9 OR t >= 2000000
              END REPEAT;
              SELECT t AS threshold, n AS n_below, total AS n_total;
            END
            """
        )


class _ParseFieldsUDTF:
    """Polymorphic UDTF: output schema DERIVED from the constant
    header argument at analysis time (the Spark 3.5+ `analyze()`
    protocol) — one table function serves any column list, the way a
    schema-flexible CSV/KV parser must."""

    @staticmethod
    def analyze(header, row):  # noqa: A002 - UDTF protocol
        from pyspark.sql.types import StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        st = StructType()
        for name in header.value.split(","):
            st = st.add(name.strip(), StringType())
        return AnalyzeResult(schema=st)

    def eval(self, header: str, row: str):  # noqa: A002 - UDTF protocol
        n = len(header.split(","))
        parts = (row or "").split(",")
        parts = (parts + [None] * n)[:n]
        yield tuple(parts)


@query(
    "udtf_polymorphic",
    oracle="""
SELECT string_split(payload, ',')[1] AS custkey,
       string_split(payload, ',')[2] AS segment,
       string_split(payload, ',')[3] AS nation
FROM (
  SELECT c_custkey || ',' || c_mktsegment || ',' || CAST(c_nationkey AS VARCHAR)
           AS payload
  FROM customer WHERE c_custkey < 300
)
""",
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF: the output schema is computed by the
    class's static `analyze()` from the constant header argument —
    `parse_fields('custkey,segment,nation', payload)` yields three
    named string columns, a different header would yield different
    columns from the same function. This is the schema-on-read
    parser surface (CSV/KV/log lines) as a reusable table function;
    short rows null-pad, long rows truncate, exactly like a
    forgiving ingest parser. The Catalyst side resolves the schema
    once at analysis — per-row work is plain splitting."""
    from pyspark.sql.functions import udtf

    parse_fields = udtf(_ParseFieldsUDTF)
    spark.udtf.register("parse_fields_udtf", parse_fields)
    table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 300
    ).select(
        F.concat_ws(
            ",", "c_custkey", "c_mktsegment", F.col("c_nationkey").cast("string")
        ).alias("payload")
    ).createOrReplaceTempView("kv_payloads")
    return spark.sql(
        """
        SELECT s.custkey, s.segment, s.nation
        FROM kv_payloads p,
             LATERAL parse_fields_udtf('custkey,segment,nation', p.payload) s
        """
    )
