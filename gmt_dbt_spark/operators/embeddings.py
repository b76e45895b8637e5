"""Embedding-column utilities: exact per-class centroids and int8
quantization.

[ext] — BASELINE.json north star (similarity search / multimodal
columns). The `embeddings` table models the `array<float>` column a
training pipeline carries next to every document; these ops are the
two standard maintenance passes over it: class centroids (the
IVF coarse codebook / nearest-class-mean classifier input) and
symmetric int8 quantization (4× memory cut before ANN serving).

Scale shape: the centroid is a posexplode → (label, dim)-keyed
aggregate — 64 rows per input row, but the shuffle carries only
(label, dim, partial-sum) after map-side combine, i.e. |labels|×dims
cells per map task regardless of row count. Quantization is pure
scan-side lambda algebra (transform/aggregate inside codegen): zero
shuffles, no UDF, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.operators.vectors import (  # noqa: F401 — EMBED_DIMS re-exported
    EMBED_DIMS,
    argmin,
    assert_embed_dims,
    idot,
    isqdist,
    isum,
    isumsq,
    micro,
    micro_cell,
    nearest,
    sqdist,
    unrolled_idot,
)
from gmt_dbt_spark.registry import query


@query(
    "embed_centroid",
    oracle="""
SELECT label,
       CAST(s.i AS INTEGER) AS dim,
       (CAST(SUM(CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000.0)
                      AS BIGINT)) AS DOUBLE) / 1000000.0) / COUNT(*) AS mean_val,
       COUNT(*) AS n_vecs
FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) s
GROUP BY label, s.i
""",
)
def embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroid: explode components to (label, dim)
    cells, sum each cell in integer micro-units (order-free — float
    sums would be shuffle-order-dependent, and float→decimal casts
    round differently across engines), divide by the class count.
    Output is |labels| × dims rows — bounded by the model, not the
    data."""
    e = table(spark, sf_dir, "embeddings")
    cells = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    cell = micro_cell(F.col("val"))
    return cells.groupBy("label", "dim").agg(
        ((F.sum(cell).cast("double") / 1000000.0) / F.count("*")).alias("mean_val"),
        F.count("*").alias("n_vecs"),
    )


@query(
    "embed_quantize",
    oracle="""
WITH m AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx)) AS BIGINT)) AS qv
  FROM m WHERE mx > 0
)
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q
""",
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale 127/max|x|,
    components floored to integers — floor instead of round because
    round's tie mode differs across engines while floor is exact
    IEEE. Entirely lambda algebra (transform/aggregate) inside
    whole-stage codegen: the 4× memory cut costs zero shuffles and
    never leaves the JVM. Output summarises each quantized vector
    (sum/min/max) — integer-exact on both engines."""
    e = table(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double")
    scaled = e.select("vec_id", "embedding", mx.alias("mx")).filter(F.col("mx") > 0)
    qv = micro("embedding", F.lit(127.0) / F.col("mx"))
    q = scaled.select("vec_id", qv.alias("qv"))
    return q.select(
        "vec_id",
        isum("qv").alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


@query(
    "embed_normalize",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
s AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sumsq
  FROM q
)
SELECT vec_id,
       sqrt(CAST(sumsq AS DOUBLE)) / 1000000.0 AS l2_norm,
       CAST(list_sum(list_transform(qv,
           x -> CAST(floor(CAST(x AS DOUBLE) / sqrt(CAST(sumsq AS DOUBLE))
                           * 1000000.0) AS BIGINT))) AS BIGINT) AS unit_sum_micro
FROM s
WHERE sumsq > 0
""",
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — the prep step before any cosine-space op
    (then cosine = plain dot product). All lambda algebra inside
    codegen: components quantized to exact integer micro-units,
    sum-of-squares in bigint (order-free), norm via IEEE-exact sqrt,
    and the normalized vector summarized as an exactly-reproducible
    integer (floor of each unit component × 1e6, summed in bigint).
    Zero shuffles, zero UDFs, deterministic on both engines."""
    e = table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", micro("embedding").alias("qv"))
    s = q.select("vec_id", "qv", isumsq("qv").alias("sumsq")).filter(F.col("sumsq") > 0)
    norm = F.sqrt(F.col("sumsq").cast("double"))
    unit_sum = isum(F.transform("qv", lambda x: micro_cell(x.cast("double") / norm)))
    return s.select(
        "vec_id",
        (norm / 1000000.0).alias("l2_norm"),
        unit_sum.alias("unit_sum_micro"),
    )


K_CLUSTERS = 4
KMEANS_ITERS = 3


def _assign(df: DataFrame, carr: DataFrame) -> DataFrame:
    """``df`` (vec_id, qv) plus ``cluster``, its nearest centroid in
    the one-row ``__cents`` array broadcast from ``carr``."""
    return (
        df.crossJoin(F.broadcast(carr))
        .withColumn("cluster", nearest("qv", F.col("__cents")))
        .drop("__cents")
    )


def kmeans_assign(df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign each (vec_id, qv) row to the nearest centroid.

    Distances are exact bigint sums of squared micro-unit deltas;
    ties break to the lowest cluster index (array_position returns
    the FIRST minimum) — fully deterministic, no float anywhere.
    Pure scan-side lambda algebra with zero shuffles: the centroids
    ride as ONE broadcast single-row array (r2 — the r1 literal
    K×dims expression tree cost seconds of Catalyst analysis PER
    Lloyd's iteration; a broadcast column is the same plan shape the
    IVF assignment uses, with constant-size analysis)."""
    spark = df.sparkSession
    carr = spark.createDataFrame(
        [([[int(c) for c in cent] for cent in centroids],)],
        "__cents array<array<bigint>>",
    )
    return _assign(df, carr)


def kmeans_recompute(
    assigned: DataFrame, dims: int, prev: list[list[int]]
) -> list[list[int]]:
    """New centroids = per-(cluster, dim) floor-mean of micro units.

    posexplode → (cluster, dim)-keyed aggregate: the shuffle carries
    k × dims cells after map-side combine regardless of row count —
    the mergeable-partials shape that scales to any corpus. Driver
    receives only k × dims ints (the model, not the data).

    A cluster that attracted no rows has no cells: it KEEPS its
    previous centroid (matching the numpy reference's `else cents[i]`)
    instead of vanishing and shifting every higher cluster index."""
    # exact integer FLOOR division (subtract the non-negative pmod
    # remainder first, then bigint `div`): plain `/` is DOUBLE division
    # in Spark — only exact below 2^53 — and `/` + cast truncates
    # toward zero, which disagrees with floor on negative sums.
    cells = (
        assigned.select("cluster", F.posexplode("qv").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("cluster", "dim", F.expr("(s - pmod(s, n)) div n").alias("m"))
        .collect()
    )
    by_cluster: dict[int, list[int]] = {}
    for r in cells:
        by_cluster.setdefault(r["cluster"], [0] * dims)[r["dim"]] = r["m"]
    return [by_cluster.get(c, list(prev[c])) for c in range(len(prev))]



def lloyd_centroids(q: DataFrame) -> list:
    """The shared Lloyd driver loop — ONE implementation for
    `embed_kmeans` and `dedup_semdedup` (r6 review: the oracle side
    already shares `_kmeans_cte_chain` for exactly this reason; the
    Spark side must not keep two hand-maintained copies of the init
    and iteration either). ``q`` is the checkpointed (vec_id, qv)
    micro-unit relation; init = the K_CLUSTERS lowest vec_ids'
    vectors; KMEANS_ITERS assign+recompute rounds. Returns the final
    centroids (k'×dims exact ints).

    r11 (VERDICT r10 item 5, guide §1.2 driver round-trips): the init
    pick is FUSED into iteration 1 — one job returns BOTH the seed
    centroids (the K lowest vec_ids' qv cells, tagged 's') and round
    1's (cluster, dim) partial sums (tagged 'c'), with the round-1
    assignment computed entirely plan-side against a broadcast
    aggregate of those same seeds (sort_array(collect_list) orders
    the centroid array by vec_id — exactly the old driver-side init
    order; the distance/tie-break expressions are kmeans_assign's own,
    and every quantity is exact integer arithmetic, so the assignment
    is bit-identical). Jobs per invocation: 1 + KMEANS_ITERS →
    KMEANS_ITERS. At a production re-clustering cadence the saved
    round-trip is pure driver-coordination time (the Lloyd rounds
    themselves are data-dependent and cannot batch — each assign
    needs the previous round's centroids).

    Fewer rows than K_CLUSTERS (documented per r6 ADVICE): the model
    simply has k' = n_rows centroids — every row seeds its own
    cluster, iterations are no-ops on the seeds-as-rows case, and the
    DuckDB oracle's cent0 CTE selects the same k' lowest vec_ids, so
    both engines degrade identically. An EMPTY relation is a caller
    error (no model is definable), raised explicitly instead of the
    former opaque IndexError on cents[0]."""
    seeds = q.orderBy("vec_id").limit(K_CLUSTERS)
    cent0 = seeds.agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "qv"))).alias("__seeds")
    ).select(F.transform("__seeds", lambda s: s["qv"]).alias("__cents"))
    cells1 = (
        _assign(q, cent0)
        .select("cluster", F.posexplode("qv").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("c").alias("__t"),
            "cluster",
            "dim",
            F.expr("(s - pmod(s, n)) div n").alias("m"),
        )
    )
    w = Window.orderBy("vec_id")  # ≤ K rows after the limit — bounded
    seed_cells = (
        seeds.withColumn("cluster", (F.row_number().over(w) - 1).cast("int"))
        .select(
            F.lit("s").alias("__t"),
            "cluster",
            F.posexplode("qv").alias("dim", "v"),
        )
        .select("__t", "cluster", "dim", F.col("v").alias("m"))
    )
    rows = cells1.unionByName(seed_cells).collect()
    seed_by_cluster: dict[int, dict[int, int]] = {}
    cell_by_cluster: dict[int, dict[int, int]] = {}
    for r in rows:
        tgt = seed_by_cluster if r["__t"] == "s" else cell_by_cluster
        tgt.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
    if not seed_by_cluster:
        raise ValueError(
            "lloyd_centroids: embeddings relation is empty — k-means "
            "is undefined with zero vectors (callers: embed_kmeans, "
            "dedup_semdedup)"
        )
    k = len(seed_by_cluster)
    dims = max(seed_by_cluster[0]) + 1
    prev = [
        [seed_by_cluster[c].get(d, 0) for d in range(dims)] for c in range(k)
    ]
    # round 1's recompute, with the old empty-cluster fallback to the
    # seed centroid (matching kmeans_recompute's `prev[c]` rule)
    cents = [
        [cell_by_cluster[c].get(d, 0) for d in range(dims)]
        if c in cell_by_cluster
        else list(prev[c])
        for c in range(k)
    ]
    # round 1 is fused into the init above, so a budget of 0 rounds
    # (return the raw seeds) is not expressible here
    assert KMEANS_ITERS >= 1, KMEANS_ITERS
    for _ in range(KMEANS_ITERS - 1):
        cents = kmeans_recompute(kmeans_assign(q, cents), dims, cents)
    return cents


def _kmeans_cte_chain() -> str:
    """The shared unrolled-Lloyd CTE chain: cells (micro-unit
    vector cells) → cent0 (K lowest vec_ids) → KMEANS_ITERS rounds →
    `aF` (the final assignment) with the last `cent{K}` still in
    scope. `_kmeans_oracle` and `_semdedup_oracle` both compose it
    (one implementation — the r5 generate-from-constants rule: two
    hand-maintained copies would silently diverge on the next
    constant change)."""
    rounds = []
    prev = "cent0"
    for r in range(1, KMEANS_ITERS + 1):
        rounds.append(f"""
dist{r} AS (
  SELECT q.vec_id, c.cluster, SUM((q.qv - c.v) * (q.qv - c.v)) AS d
  FROM cells q JOIN {prev} c ON q.i = c.i
  GROUP BY q.vec_id, c.cluster
),
a{r} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM dist{r}) t{r} WHERE rn = 1
),
cent{r}n AS (
  SELECT a.cluster, q.i,
         (SUM(q.qv) - ((SUM(q.qv) % COUNT(*)) + COUNT(*)) % COUNT(*))
           // COUNT(*) AS v
  FROM a{r} a JOIN cells q USING (vec_id)
  GROUP BY a.cluster, q.i
),
cent{r} AS (
  SELECT p.cluster, p.i, COALESCE(n.v, p.v) AS v
  FROM {prev} p LEFT JOIN cent{r}n n ON p.cluster = n.cluster AND p.i = n.i
),""")
        prev = f"cent{r}"
    return f"""
WITH cells AS (
  SELECT vec_id, s.i,
         CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) s
),
init_ids AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K_CLUSTERS}) t0
),
cent0 AS (
  SELECT ii.cluster, c.i, c.qv AS v FROM init_ids ii JOIN cells c USING (vec_id)
),{''.join(rounds)}
distF AS (
  SELECT q.vec_id, c.cluster, SUM((q.qv - c.v) * (q.qv - c.v)) AS d
  FROM cells q JOIN {prev} c ON q.i = c.i
  GROUP BY q.vec_id, c.cluster
),
aF AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM distF) tf WHERE rn = 1
)"""


def _kmeans_oracle() -> str:
    """DuckDB twin of the FULL Lloyd's iteration (r3; was rows-only):
    because every step is exact integer micro-unit arithmetic with
    pinned tie-breaks, the oracle can unroll all KMEANS_ITERS rounds
    as CTEs — assignment = ROW_NUMBER over (distance, cluster),
    recompute = pmod-floor-division, empty clusters COALESCE to the
    previous round — exactly like `embed_pca_power`'s oracle. The
    only float ops in the surface (sqrt, /1e6 on an exactly-summed
    integer) are IEEE-correctly-rounded on both engines."""
    return f"""{_kmeans_cte_chain()},
norms AS (
  SELECT cluster, sqrt(CAST(SUM(v * v) AS DOUBLE)) / 1000000.0
           AS centroid_norm
  FROM cent{KMEANS_ITERS} GROUP BY cluster
)
SELECT CAST(a.cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(a.vec_id) AS min_vec_id,
       ANY_VALUE(n.centroid_norm) AS centroid_norm
FROM aF a JOIN norms n USING (cluster)
GROUP BY a.cluster
"""


@query("embed_kmeans", oracle=_kmeans_oracle())
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding column — Lloyd's algorithm as
    3 rounds of (constant-folded assignment → k×dims mergeable
    aggregate). Deterministic end-to-end: init = the K lowest
    vec_ids' vectors, all arithmetic in exact integer micro-units,
    ties pinned — the run is bit-reproducible on any cluster
    topology (float k-means is not: partial-sum order changes
    centroids). Per-iteration driver traffic is k×dims ints; data
    never leaves the executors. ORACLE-HASHED end-to-end since r3:
    DuckDB replays the identical unrolled iteration (see
    `_kmeans_oracle`); cluster sizes additionally pinned against a
    numpy reference in tests."""
    e = table(spark, sf_dir, "embeddings")
    # materialize the micro-unit vectors once: every Lloyd's round
    # (3 assigns + recomputes + the final assignment) re-reads this
    # table — without the checkpoint each pass would re-scan parquet
    # and re-run the quantizing transform
    # lazy checkpoint (r11): the fused lloyd job is the first
    # consumer and computes every partition — eager paid a dedicated
    # materialization job for the same blocks
    q = e.select("vec_id", micro("embedding").alias("qv")).localCheckpoint(eager=False)
    centroids = lloyd_centroids(q)
    final = kmeans_assign(q, centroids)
    import math

    # math.sqrt (not **0.5): IEEE-754 requires sqrt to be correctly
    # rounded, so it matches DuckDB's sqrt bit-for-bit in the oracle;
    # pow(x, 0.5) carries no such guarantee.
    cent_norms = {
        i: math.sqrt(float(sqdist(c))) / 1e6 for i, c in enumerate(centroids)
    }
    norm_map = F.create_map(
        *[x for i, n in cent_norms.items() for x in (F.lit(i), F.lit(n))]
    )
    return final.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
    ).withColumn("centroid_norm", norm_map[F.col("cluster")])


@query(
    "embed_pca_power",
    oracle="""
WITH q AS (
  SELECT vec_id, s.i,
         CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) s
),
d1 AS (SELECT vec_id, SUM(qv) AS dot FROM q GROUP BY vec_id),
w1 AS (
  SELECT q.i, SUM(d1.dot * q.qv) AS w
  FROM q JOIN d1 USING (vec_id) GROUP BY q.i
),
s1 AS (SELECT MAX(ABS(w)) // 1000 + 1 AS s FROM w1),
v1 AS (
  SELECT i, CASE WHEN w < 0 THEN -(ABS(w) // s) ELSE ABS(w) // s END AS v
  FROM w1, s1
),
d2 AS (
  SELECT q.vec_id, SUM(q.qv * v1.v) AS dot
  FROM q JOIN v1 USING (i) GROUP BY q.vec_id
),
w2 AS (
  SELECT q.i, SUM(d2.dot * q.qv) AS w
  FROM q JOIN d2 USING (vec_id) GROUP BY q.i
),
s2 AS (SELECT MAX(ABS(w)) // 1000 + 1 AS s FROM w2)
SELECT CAST(i AS INTEGER) AS dim_idx,
       CAST(CASE WHEN w < 0 THEN -(ABS(w) // s) ELSE ABS(w) // s END
            AS BIGINT) AS comp
FROM w2, s2
""",
)
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via POWER
    ITERATION on the (uncentered) Gram matrix — 2 rounds of
    v ← Xᵀ(Xv), entirely in exact integer micro-units, so the
    iterative linear algebra is bit-reproducible on any cluster
    topology AND fully ORACLE-HASHED (DuckDB unrolls the identical
    iterations as CTEs — the strongest correctness signal an
    iterative float-free algorithm can have; cf. graph_pagerank).

    Numerics: components quantize to floor(x·1e6) bigints (the house
    micro-unit route — float→double is exact, double·1e6 and floor
    are IEEE-specified). Each round computes per-row dots Σₖ qₖvₖ
    (bigint products, decimal(38,0) sums — overflow-free to ~1e18
    rows), then per-dim sums Σ_rows dot·qⱼ, then an integer
    renormalization v ← sign(w)·(|w| div (max|w| div 1000 + 1))
    keeping |v| ≤ ~1000 so magnitudes never grow round-over-round.
    Truncating `div` on the |·| with the sign re-applied sidesteps
    the Spark-div-truncates vs DuckDB-//-floors divergence on
    negatives.

    Scale shape: the (vec_id, dim, qv) cell table is checkpointed
    once and re-read by all four aggregates; per-round driver
    traffic is exactly `dims` integers (the kmeans/centroid
    pattern); the final rescale runs IN-PLAN via a broadcast scalar
    (max|w|), so the returned eigenvector never round-trips the
    driver. Exchanges move (id, dot) and (dim, partial-sum) pairs —
    never vectors."""
    e = table(spark, sf_dir, "embeddings")
    q = (
        e.select("vec_id", F.posexplode("embedding").alias("i", "val"))
        .select(
            "vec_id",
            "i",
            micro_cell(F.col("val")).alias("qv"),
        )
        .localCheckpoint(eager=True)
    )

    def w_of(v: list[int]) -> DataFrame:
        """One power-iteration round: w = Xᵀ(Xv) as a lazy plan."""
        vdf = spark.createDataFrame([(v,)], "varr array<bigint>")
        dots = (
            q.join(F.broadcast(vdf))
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("qv") * F.element_at("varr", F.col("i") + 1)).cast(
                        "decimal(38,0)"
                    )
                )
                .cast("bigint")
                .alias("dot")
            )
        )
        return q.join(dots, "vec_id").groupBy("i").agg(
            F.sum((F.col("dot") * F.col("qv")).cast("decimal(38,0)")).alias("w")
        )

    max_i = q.select(F.max("i")).first()[0]
    if max_i is None:
        raise ValueError(
            "embed_pca_power: embeddings table is empty (or every "
            "embedding array is empty) — no direction to compute"
        )
    dims = max_i + 1
    v = [1] * dims
    # round 1: collect dims integers, rescale with exact python ints
    # (python // on non-negatives == Spark div == DuckDB //)
    w1 = {int(r["i"]): int(r["w"]) for r in w_of(v).collect()}
    s = max(abs(x) for x in w1.values()) // 1000 + 1
    v = [
        (-((-w1[i] if w1[i] < 0 else w1[i]) // s) if w1[i] < 0 else w1[i] // s)
        for i in range(dims)
    ]
    # round 2: rescale IN-PLAN — the eigenvector never leaves the executors
    w2 = w_of(v)
    scale = w2.agg(
        (F.expr("max(abs(w)) div 1000") + F.lit(1)).alias("s")
    )
    return w2.crossJoin(F.broadcast(scale)).select(
        F.col("i").cast("int").alias("dim_idx"),
        F.when(F.col("w") < 0, -F.expr("abs(w) div s"))
        .otherwise(F.expr("abs(w) div s"))
        .cast("bigint")
        .alias("comp"),
    )


@query(
    "embed_cosine_audit",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 100
),
s AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(len(a.qv)),
              i -> a.qv[i+1] * b.qv[i+1])) AS BIGINT) AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, dot, na2, nb2
FROM p
WHERE na2 > 0 AND nb2 > 0 AND dot >= 0
  AND CAST(dot AS HUGEINT) * dot * 16 >= CAST(na2 AS HUGEINT) * nb2
""",
)
def embed_cosine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine-neighbor ground truth, CROSS-ENGINE-HASHED: all
    pairs in the bounded vec_id<100 slice with cos(a,b) ≥ 1/4,
    decided WITHOUT any floating-point comparison — micro-unit
    integer dot products and the squared cross-multiplication
    dot²·16 ≥ ‖a‖²·‖b‖² (valid for dot ≥ 0; squares widened to
    decimal/hugeint — dot² ≈ 3e26 overflows bigint). This is the
    independent truth table the ANN audits rank against
    (sim_recall_audit) and the proof that both engines agree on
    cosine geometry bit-for-bit; a quantization or indexing bug on
    either side changes the pair set.

    Scale: the audit is all-pairs ON A SLICE by design (the same
    bounded-slice trick as dedup_recall_audit); per-vector norms are
    precomputed once before the pair join, so the join carries
    (id, qv, n2) and each pair costs one zip_with dot product."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    s = e.select("vec_id", micro("embedding").alias("qv")).select(
        "vec_id", "qv", isumsq("qv").alias("n2")
    )
    a = s.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("va"),
        F.col("n2").alias("na2"),
    )
    b = s.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("vb"),
        F.col("n2").alias("nb2"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", idot("va", "vb").alias("dot"), "na2", "nb2"
    )
    lhs = F.col("dot").cast("decimal(19,0)") * F.col("dot").cast(
        "decimal(18,0)"
    ) * F.lit(16)
    rhs = F.col("na2").cast("decimal(19,0)") * F.col("nb2").cast("decimal(18,0)")
    return pairs.filter(
        (F.col("na2") > 0) & (F.col("nb2") > 0) & (F.col("dot") >= 0)
        & (lhs >= rhs)
    )


# ---------------------------------------------------------------------------
# Product quantization.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (PQ_M * PQ_SUB == 64)
PQ_CODES = 8  # codewords per subspace


@query(
    "embed_pq",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
cb AS (SELECT vec_id AS c, qv AS cv FROM q WHERE vec_id < {PQ_CODES}),
pairs AS (
  SELECT q.vec_id, cb.c, d.d // {PQ_SUB} AS m,
         (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1])
           * (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1]) AS sq
  FROM q
  CROSS JOIN cb
  CROSS JOIN LATERAL (SELECT unnest(range({PQ_M * PQ_SUB})) AS d) d
),
dist AS (
  SELECT vec_id, c, m, SUM(sq) AS d2
  FROM pairs GROUP BY vec_id, c, m
),
picked AS (
  SELECT vec_id, m, c, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
  FROM dist
)
SELECT vec_id,
       MAX(CASE WHEN m = 0 THEN c END) AS code0,
       MAX(CASE WHEN m = 1 THEN c END) AS code1,
       MAX(CASE WHEN m = 2 THEN c END) AS code2,
       MAX(CASE WHEN m = 3 THEN c END) AS code3,
       CAST(SUM(d2) AS BIGINT) AS qerr
FROM picked
WHERE rn = 1
GROUP BY vec_id
""",
)
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim vector compressed to 4 codes
    of 3 bits (nearest of 8 codewords per 16-dim subspace) + the exact
    quantization error — the memory layout behind every billion-scale
    ANN index (IVF-PQ): 64 floats -> a handful of bytes, with
    asymmetric distances later computed from tiny lookup tables.

    Codebook here is data-deterministic (the first 8 vectors'
    subvectors) so the DuckDB oracle can re-derive it; production
    would k-means each subspace (kmeans_assign above) — identical
    assignment plan either way.

    Scale shape: the codebook is K x dims ints broadcast as ONE
    single-row array (same shape as kmeans_assign); assignment is
    pure scan-side lambda algebra over micro-unit integers — zero
    shuffles, zero floats, argmin ties break to the lowest codeword
    via array_position's first-match semantics (oracle: ORDER BY
    d2, c)."""
    codes, _ = pq_codes(spark, sf_dir)
    return codes


def _micro_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one shared (vec_id, micro-unit vector) projection every PQ
    stage reads — defined once so index build and serving can never
    drift apart."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", micro("embedding").alias("qv")
    )


def pq_codes(spark: SparkSession, sf_dir: str):
    """Shared PQ assignment: returns (codes DataFrame with vec_id,
    code0..code3, qerr; codebook as a python list of K micro-unit
    vectors). The codebook is the model — K x dims ints on the
    driver, like the kmeans/IVF centroid collects."""
    s = _micro_embeddings(spark, sf_dir)
    cb = sorted(
        s.filter(F.col("vec_id") < PQ_CODES).collect(), key=lambda r: r["vec_id"]
    )
    codebook = [[int(v) for v in r["qv"]] for r in cb]
    return _pq_assign(s, codebook), codebook


def _pq_dists(codebook: str, m: int) -> Column:
    """Squared distances from subspace ``m`` of ``qv`` to subspace
    ``m`` of every codeword in the array column ``codebook``."""
    lo = PQ_SUB * m + 1
    sub = F.slice("qv", lo, PQ_SUB)
    return F.transform(F.col(codebook), lambda c: isqdist(sub, F.slice(c, lo, PQ_SUB)))


def _pq_lut(qv: list[int], codebook: list[list[int]]) -> list[int]:
    """The flat M×CODES ADC lookup table of one query vector: entry
    m·PQ_CODES + c is its subspace-m squared distance to codeword c."""
    return [
        sqdist(qv[lo : lo + PQ_SUB], codebook[c][lo : lo + PQ_SUB])
        for lo in range(0, PQ_M * PQ_SUB, PQ_SUB)
        for c in range(PQ_CODES)
    ]


def _pq_assign(s: DataFrame, codebook: list[list[int]]) -> DataFrame:
    spark = s.sparkSession
    carr = spark.createDataFrame([(codebook,)], "__cents array<array<bigint>>")
    out = s.crossJoin(F.broadcast(carr))
    cols = [F.col("vec_id")]
    qerr = None
    for m in range(PQ_M):
        dists = _pq_dists("__cents", m)
        cols.append(argmin(dists).alias(f"code{m}"))
        best = F.array_min(dists)
        qerr = best if qerr is None else (qerr + best)
    return out.select(*cols + [qerr.alias("qerr")])


PQ_QUERIES = (8, 12)  # query vec_ids [8, 12): not codebook members
PQ_TOPK = 5


@query(
    "embed_pq_adc",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
cb AS (SELECT vec_id AS c, qv AS cv FROM q WHERE vec_id < {PQ_CODES}),
pairs AS (
  SELECT q.vec_id, cb.c, d.d // {PQ_SUB} AS m,
         (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1])
           * (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1]) AS sq
  FROM q
  CROSS JOIN cb
  CROSS JOIN LATERAL (SELECT unnest(range({PQ_M * PQ_SUB})) AS d) d
),
dist AS (
  SELECT vec_id, c, m, SUM(sq) AS d2
  FROM pairs GROUP BY vec_id, c, m
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM dist
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS qid, c, m, d2 FROM dist
  WHERE vec_id >= {PQ_QUERIES[0]} AND vec_id < {PQ_QUERIES[1]}
),
adc AS (
  SELECT lut.qid, codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_d2
  FROM codes JOIN lut ON codes.m = lut.m AND codes.c = lut.c
  GROUP BY lut.qid, codes.vec_id
)
SELECT qid, vec_id, adc_d2, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id) AS rk
  FROM adc
) WHERE rk <= {PQ_TOPK}
""",
)
def embed_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving: asymmetric distance computation (ADC) top-k — the
    query path of an IVF-PQ index. Each query precomputes a 4x8
    lookup table of exact distances from its subvectors to every
    codeword (computed DRIVER-side from the collected codebook: model
    math, K x M ints, not data); a corpus vector's approximate
    distance is then FOUR integer array lookups summed — no float,
    no per-dimension work at scan time, which is precisely why PQ
    scales ANN to billions of vectors.

    Scale shape: corpus codes come from the shared zero-shuffle
    pq_codes assignment; the 4-row query LUT frame broadcasts; the
    rk<=5 filter plans as WindowGroupLimit (running top-k per query,
    no full sort of the corpus — same guard family as the IVF
    rerank). Ties break on vec_id for total determinism; everything
    is micro-unit bigint arithmetic, hash-exact vs the relational
    DuckDB re-derivation."""
    s = _micro_embeddings(spark, sf_dir)
    # ONE collect covers both the codebook (vec_id < 8) and the query
    # vectors (8..12) — one driver job over the shared projection.
    head = sorted(
        s.filter(F.col("vec_id") < PQ_QUERIES[1]).collect(),
        key=lambda r: r["vec_id"],
    )
    codebook = [
        [int(v) for v in r["qv"]] for r in head if r["vec_id"] < PQ_CODES
    ]
    qrows = [r for r in head if r["vec_id"] >= PQ_QUERIES[0]]
    codes = _pq_assign(s, codebook)
    luts = [(r["vec_id"], _pq_lut([int(v) for v in r["qv"]], codebook)) for r in qrows]
    qdf = spark.createDataFrame(luts, "qid bigint, lut array<bigint>")
    adc_d2 = None
    for m in range(PQ_M):
        term = F.element_at(
            "lut", (F.lit(m * PQ_CODES) + F.col(f"code{m}") + 1).cast("int")
        )
        adc_d2 = term if adc_d2 is None else (adc_d2 + term)
    scored = codes.crossJoin(F.broadcast(qdf)).select(
        "qid", "vec_id", adc_d2.alias("adc_d2")
    )
    w = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= PQ_TOPK)
    )


IVFPQ_COARSE = 16  # coarse-quantizer lists (same deterministic sample as IVF)
IVFPQ_PROBE = 4  # lists probed per query

_IVFPQ_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
cb AS (SELECT vec_id AS c, qv AS cv FROM q WHERE vec_id < {PQ_CODES}),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cqv
  FROM (SELECT vec_id, qv FROM q WHERE vec_id % 37 = 0
        ORDER BY vec_id LIMIT {IVFPQ_COARSE})
),
cdist AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(range(64),
             d -> (q.qv[CAST(d AS INT)+1] - c.cqv[CAST(d AS INT)+1])
                * (q.qv[CAST(d AS INT)+1] - c.cqv[CAST(d AS INT)+1]))) AS d2
  FROM q CROSS JOIN cent c
),
asgn AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM cdist) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM cdist WHERE vec_id >= {PQ_QUERIES[0]} AND vec_id < {PQ_QUERIES[1]})
  WHERE rn <= {IVFPQ_PROBE}
),
pairs AS (
  SELECT q.vec_id, cb.c, d.d // {PQ_SUB} AS m,
         (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1])
           * (q.qv[CAST(d.d AS INT) + 1] - cb.cv[CAST(d.d AS INT) + 1]) AS sq
  FROM q
  CROSS JOIN cb
  CROSS JOIN LATERAL (SELECT unnest(range(64)) AS d) d
),
dist AS (
  SELECT vec_id, c, m, SUM(sq) AS d2
  FROM pairs GROUP BY vec_id, c, m
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM dist
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS qid, c, m, d2 FROM dist
  WHERE vec_id >= {PQ_QUERIES[0]} AND vec_id < {PQ_QUERIES[1]}
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM probes p JOIN asgn a ON p.cid = a.cid
  WHERE a.vec_id <> p.qid
),
adc AS (
  SELECT lut.qid, codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adc_d2
  FROM codes
  JOIN lut ON codes.m = lut.m AND codes.c = lut.c
  JOIN cand ON cand.qid = lut.qid AND cand.vec_id = codes.vec_id
  GROUP BY lut.qid, codes.vec_id
)
SELECT qid, vec_id, adc_d2, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id) AS rk
  FROM adc
) WHERE rk <= {PQ_TOPK}
"""


@query("sim_topk_ivf_pq", oracle=_IVFPQ_ORACLE)
def sim_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN serving (r4) — the combined production path the two
    halves already shipped separately: the IVF coarse quantizer
    (sim_topk_ivf) prunes each query to IVFPQ_PROBE of IVFPQ_COARSE
    inverted lists, then PQ asymmetric-distance computation
    (embed_pq_adc) ranks the survivors from a 4×8 integer lookup
    table — no float and no per-dimension work at scan time. This is
    the Faiss IVFPQ layout (by_residual=false variant: codes encode
    raw vectors, not residuals — residual encoding only changes the
    codebook math, not the plan shape).

    Scale shape: ONE corpus pass computes both the coarse list id and
    the 4 PQ codes scan-side (centroids + codebook ride as one
    broadcast row); the probe join is an equi-join on the list id
    touching PROBE/COARSE of the corpus; ADC is 4 array lookups per
    candidate; rk ≤ 5 plans as a running top-k per query. At 100 TB
    the corpus never moves — only (vec_id, cid, 4 codes) ≈ 13 B/vec.

    Fully value-hashed (unlike sim_topk_ivf's rank-only surface):
    every distance — coarse assignment, probe selection, LUT, ADC —
    is exact micro-unit bigint arithmetic, so DuckDB replays the
    ENTIRE index build + query path and the (qid, neighbor, adc_d2,
    rank) table hashes exactly. Ties break (d2, cid)/(adc_d2, vec_id)
    everywhere for total determinism."""
    s = _micro_embeddings(spark, sf_dir)
    # one driver job covers codebook (vec_id < 8) + query vectors
    head = sorted(
        s.filter(F.col("vec_id") < PQ_QUERIES[1]).collect(),
        key=lambda r: r["vec_id"],
    )
    codebook = [
        [int(v) for v in r["qv"]] for r in head if r["vec_id"] < PQ_CODES
    ]
    qrows = [r for r in head if r["vec_id"] >= PQ_QUERIES[0]]
    cent_rows = sorted(
        s.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(IVFPQ_COARSE)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [[int(v) for v in r["qv"]] for r in cent_rows]

    # ONE corpus pass: coarse list id + 4 PQ codes, all scan-side.
    carr = spark.createDataFrame(
        [(codebook, cents)],
        "__cb array<array<bigint>>, __cc array<array<bigint>>",
    )
    v = s.crossJoin(F.broadcast(carr))
    cols = [F.col("vec_id"), nearest("qv", F.col("__cc")).alias("cid")]
    cols += [argmin(_pq_dists("__cb", m)).alias(f"code{m}") for m in range(PQ_M)]
    corpus = v.select(*cols)

    # per-query probes + ADC lookup tables: model math on K×M ints,
    # driver-side like every codebook/centroid collect in this module
    rows = []
    for r in qrows:
        qv = [int(x) for x in r["qv"]]
        d2s = sorted((sqdist(qv, c), i) for i, c in enumerate(cents))
        probes = [i for (_, i) in d2s[:IVFPQ_PROBE]]
        rows.append((int(r["vec_id"]), probes, _pq_lut(qv, codebook)))
    qdf = spark.createDataFrame(
        rows, "qid bigint, probes array<int>, lut array<bigint>"
    )
    probe = qdf.select("qid", "lut", F.explode("probes").alias("cid"))
    cand = corpus.join(F.broadcast(probe), "cid").filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            "lut", (F.lit(m * PQ_CODES) + F.col(f"code{m}") + 1).cast("int")
        )
        adc = term if adc is None else (adc + term)
    scored = cand.select("qid", "vec_id", adc.alias("adc_d2"))
    w = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= PQ_TOPK)
    )


SEMDEDUP_TAU_SQ_X4 = 1225  # cos >= 0.35  ⇔  dot²·10⁴ ≥ 1225·‖a‖²·‖b‖²

# Hot-cluster cap (r6 VERDICT item 3, the dedup_simhash house
# pattern): a mode-collapsed embedder (a real production failure —
# every vector lands near one point) assigns most of the corpus to
# ONE cluster and the within-cluster self-join goes quadratic
# SILENTLY. A cluster holding more than SEMDEDUP_CAP_X× its balanced
# share (cnt·k > SEMDEDUP_CAP_X·n) is excluded from pruning and
# COUNTED: `n_hot_clusters` rides every output row and an
# always-present sentinel row, so the recall loss is audited, never
# silent. 2× balanced share never fires on healthy assignments (the
# fixtures measure ≤1.2× at every sf) and always fires on collapse
# (one cluster ≳ half the corpus); it is relative, so it scales with
# the production k ∝ corpus contract unchanged. The ABSOLUTE floor
# (the SIMHASH_BUCKET_CAP constant) keeps the cap off tiny corpora:
# the danger is absolute pair count, and a ≤64-row cluster costs
# ≤2,016 pairs however disproportionate it is — so hot requires BOTH
# disproportion and size.
SEMDEDUP_CAP_X = 2
SEMDEDUP_HOT_MIN = 64

# Within-cluster self-join block factor (r10 optimization pass,
# guide §2.5): with toy k (K_CLUSTERS=4) the cluster-keyed pair join
# has only k distinct keys, so pair generation runs on k tasks no
# matter how many cores exist. One side explodes over blocks
# 0..B-1, the other tags pmod(vec_id, B) — every pair still matches
# exactly once, join keys grow k → k·B, and the per-partition hash
# build shrinks B×. The cost is B× shuffle replication of the
# exploded side's signature rows (~520 B each; documents never move
# here).
SEMDEDUP_BLOCKS = 8


def _semdedup_oracle() -> str:
    """Replay the full Lloyd chain (shared CTEs), then the hot-cluster
    cap, then the within-cluster pairwise cosine prune in exact
    integer cross-multiplication — DECIMAL(38) keeps dot²·10⁴ ≤
    ~4·10³¹ well inside range at 64 micro-unit dims."""
    return f"""{_kmeans_cte_chain()},
csize AS (
  SELECT cluster, COUNT(*) AS cnt FROM aF GROUP BY cluster
),
tot AS (SELECT COUNT(*) AS n FROM aF),
hotc AS (
  SELECT cluster FROM csize CROSS JOIN tot
  WHERE cnt * {K_CLUSTERS} > {SEMDEDUP_CAP_X} * n
    AND cnt > {SEMDEDUP_HOT_MIN}
),
caudit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hot_clusters FROM hotc),
coldA AS (
  SELECT aF.* FROM aF
  ANTI JOIN hotc ON aF.cluster = hotc.cluster
),
n2 AS (
  SELECT vec_id, CAST(SUM(qv * qv) AS DECIMAL(38,0)) AS n2
  FROM cells GROUP BY vec_id
),
dots AS (
  SELECT a1.cluster, a1.vec_id AS id_a, a2.vec_id AS id_b,
         CAST(SUM(ca.qv * cb.qv) AS BIGINT) AS dot
  FROM coldA a1
  JOIN coldA a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
  JOIN cells ca ON ca.vec_id = a1.vec_id
  JOIN cells cb ON cb.vec_id = a2.vec_id AND ca.i = cb.i
  GROUP BY a1.cluster, a1.vec_id, a2.vec_id
),
hits AS (
  SELECT d.cluster, d.id_a, d.id_b, d.dot
  FROM dots d
  JOIN n2 na ON na.vec_id = d.id_a
  JOIN n2 nb ON nb.vec_id = d.id_b
  WHERE na.n2 > 0 AND nb.n2 > 0
    AND d.dot >= 0
    AND CAST(d.dot AS DECIMAL(38,0)) * d.dot * 10000
        >= {SEMDEDUP_TAU_SQ_X4} * na.n2 * nb.n2
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       id_b AS drop_id,
       MIN(id_a) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(arg_min(dot, id_a) AS BIGINT) AS keep_dot,
       n_hot_clusters
FROM hits CROSS JOIN caudit
GROUP BY cluster, id_b, n_hot_clusters
UNION ALL
SELECT CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), n_hot_clusters
FROM caudit
"""


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): semantic
    deduplication by k-means clustering then WITHIN-CLUSTER cosine
    pruning — the curation step that removes semantically-redundant
    (not just near-verbatim) documents before pretraining. A vector
    is DROPPED when some lower-id vector in ITS CLUSTER exceeds the
    cosine threshold (keep-lowest-id, the dedup_exact house
    convention); the surface reports, per dropped vector, its
    cluster, the kept representative (the lowest matching id), how
    many kept candidates matched, and the exact integer dot evidence
    for the reported pair (`min_by` id — fully deterministic).

    Exactness: the SAME micro-unit Lloyd loop as `embed_kmeans`
    (bit-reproducible under any partitioning; kmeans_assign's
    lowest-index tie-break), and the cosine gate is the
    cross-multiplication dot²·10⁴ ≥ 1225·‖a‖²·‖b‖² in DECIMAL(38) —
    no float compare anywhere, so DuckDB replays the ENTIRE pipeline
    (clustering + prune) from the shared CTE chain. τ = 0.35 is the
    fixture-calibrated demo threshold (i.i.d. random embeddings peak
    ≈ 0.44 pairwise cosine — the dedup_embed_cosine rationale);
    production SemDeDup runs ≥ 0.95.

    Scale shape: clustering cost is embed_kmeans (k×dims mergeable
    aggregates, data never leaves the executors). The prune
    self-joins WITHIN clusters only — exactly SemDeDup's point: k
    grows with the corpus so cluster sizes stay bounded and the
    quadratic term is per-cluster, never global (the paper runs
    k=50k on LAION; here k=K_CLUSTERS on the toy fixture). The
    assignment relation is checkpointed once and read by both join
    sides; only (id, 64 bigints) rows shuffle.

    HOT-CLUSTER CAP (r7): a cluster over SEMDEDUP_CAP_X× its balanced
    share AND over SEMDEDUP_HOT_MIN rows (the mode-collapsed-embedder
    failure; the absolute floor keeps tiny-corpus skew out of scope —
    a ≤64-row cluster costs ≤2,016 pairs regardless) is excluded from
    the prune and audited — `n_hot_clusters` rides every row plus an
    always-present sentinel row (NULL ids), so a capped corpus can
    never silently report 'no duplicates'. (One caveat to 'always':
    an EMPTY embeddings relation raises lloyd_centroids' explicit
    ValueError before any surface exists — k-means is undefined with
    zero vectors — while the SQL oracle would emit a lone
    n_hot_clusters=0 sentinel; empty input is a caller error, not a
    parity surface.) The hot set is ≤ k rows, broadcast; the cap
    bounds the self-join's largest key group at SEMDEDUP_CAP_X·n/k
    rows no matter how skewed the embedder."""
    e = table(spark, sf_dir, "embeddings")
    # assert_embed_dims: the pair stage below unrolls the dot over
    # EMBED_DIMS — fail loudly on a foreign width (VERDICT r10 item 8)
    # instead of silently NULLing pairs away.
    # lazy checkpoint (r11): the fused lloyd job is the first
    # consumer and computes every partition — eager paid a dedicated
    # materialization job for the same blocks
    q = assert_embed_dims(
        e.select("vec_id", micro("embedding").alias("qv"))
    ).localCheckpoint(eager=False)
    cents = lloyd_centroids(q)
    final = (
        kmeans_assign(q, cents)
        .select(
            "vec_id",
            "cluster",
            "qv",
            isumsq("qv").alias("n2"),
        )
        .localCheckpoint(eager=False)  # read by both self-join
        # sides; lazy — the sizes aggregate materializes it (r11)
    )
    sizes = final.groupBy("cluster").agg(F.count(F.lit(1)).alias("cnt"))
    total = final.agg(F.count(F.lit(1)).alias("n"))
    hot = (
        sizes.crossJoin(F.broadcast(total))
        .filter(
            (F.col("cnt") * K_CLUSTERS > SEMDEDUP_CAP_X * F.col("n"))
            & (F.col("cnt") > SEMDEDUP_HOT_MIN)
        )
        .select("cluster")
        .localCheckpoint(eager=False)  # ≤ k rows; read twice
        # (audit + anti); lazy — the audit aggregate materializes it
    )
    audit = hot.agg(F.count(F.lit(1)).alias("n_hot_clusters"))
    cold = final.join(F.broadcast(hot), "cluster", "left_anti")
    # r10 optimization pass: blocked self-join (guide §2.5 — explode
    # one side k ways over a synthetic key). Join keys cluster →
    # (cluster, __blk): pair generation parallelism k → k·B and the
    # per-partition build shrinks B× (SHUFFLE_HASH is then safe and
    # beats the sort-merge: no sort, and the merge join was
    # re-buffering the 520-byte signature rows per pair). Every pair
    # still matches exactly ONCE (a explodes all blocks, b tags its
    # own), so the pair set — and the oracle surface — is unchanged.
    blocks = SEMDEDUP_BLOCKS
    a = cold.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("qa"),
        F.col("n2").alias("na2"),
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("__blk"),
    )
    b = cold.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("n2").alias("nb2"),
        F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int").alias("__blk"),
    ).hint("SHUFFLE_HASH")
    # indexed dot, not zip_with+aggregate: higher-order functions are
    # CodegenFallback (interpreted per element); the unrolled
    # Σ qa[i]·qb[i] over the fixed 64-dim embedding contract measured
    # 6.0 → 4.4 s on the pair stage before blocking. The stage's
    # generated code now passes Janino's 64 KB limit, so it runs without
    # whole-stage codegen (see vectors.py). Same bigint arithmetic.
    dot = unrolled_idot("qa", "qb")
    dec = "decimal(38,0)"
    hits = (
        a.join(b, ["cluster", "__blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .filter(
            # zero-norm guard (r6 review): cosine with a zero vector
            # is UNDEFINED, not >= tau — without it the gate's
            # cross-multiplication degenerates to 0 >= 0 and an
            # all-zero embedding (a failed-encoder row in production)
            # would flag its ENTIRE cluster as duplicates. Same guard
            # as embed_cosine_audit's identical gate.
            (F.col("na2") > 0)
            & (F.col("nb2") > 0)
            & (F.col("dot") >= 0)
            & (
                F.col("dot").cast(dec) * F.col("dot") * 10000
                >= F.lit(SEMDEDUP_TAU_SQ_X4).cast(dec)
                * F.col("na2")
                * F.col("nb2")
            )
        )
        .select("cluster", "id_a", "id_b", "dot")
    )
    out = (
        hits.groupBy("cluster", F.col("id_b").alias("drop_id"))
        .agg(
            F.min("id_a").alias("keep_id"),
            F.count(F.lit(1)).alias("n_matches"),
            F.min_by("dot", "id_a").alias("keep_dot"),
        )
        .crossJoin(F.broadcast(audit))
    )
    # sentinel: the audit must be observable even when capping (or an
    # empty prune) removes every pair — same rule as dedup_simhash
    sentinel = audit.select(
        F.lit(None).cast("int").alias("cluster"),
        F.lit(None).cast("bigint").alias("drop_id"),
        F.lit(None).cast("bigint").alias("keep_id"),
        F.lit(None).cast("bigint").alias("n_matches"),
        F.lit(None).cast("bigint").alias("keep_dot"),
        "n_hot_clusters",
    )
    return out.unionByName(sentinel)


MRL_QUERIES = 8
MRL_DIMS = 16  # truncated prefix (of 64) — the Matryoshka serving dim
MRL_K = 10

_MRL_ORACLE = f"""
WITH cells AS (
  SELECT vec_id, s.i,
         CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) s
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(q.qv * c.qv) AS BIGINT) AS dot_full,
         CAST(SUM(CASE WHEN q.i < {MRL_DIMS} THEN q.qv * c.qv ELSE 0 END)
              AS BIGINT) AS dot_trunc
  FROM cells q JOIN cells c ON q.i = c.i
  WHERE q.vec_id < {MRL_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
f AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot_full DESC, neighbor_id) AS r
    FROM dots) z WHERE r <= {MRL_K}
),
t AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot_trunc DESC, neighbor_id) AS r
    FROM dots) z WHERE r <= {MRL_K}
),
fa AS (SELECT query_id, CAST(SUM(neighbor_id) AS BIGINT) AS full_id_sum,
              arg_min(neighbor_id, r) AS top1_full
       FROM f GROUP BY query_id),
ta AS (SELECT query_id, CAST(SUM(neighbor_id) AS BIGINT) AS trunc_id_sum,
              arg_min(neighbor_id, r) AS top1_trunc
       FROM t GROUP BY query_id),
ov AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       FROM f JOIN t USING (query_id, neighbor_id) GROUP BY f.query_id)
SELECT fa.query_id,
       COALESCE(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       fa.full_id_sum, ta.trunc_id_sum,
       (fa.top1_full = ta.top1_trunc) AS top1_match
FROM fa JOIN ta USING (query_id) LEFT JOIN ov USING (query_id)
"""


@query("embed_matryoshka_audit", oracle=_MRL_ORACLE)
def embed_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit — the measurement behind the
    'serve the first D dims' decision every MRL-embedding deployment
    makes: per query, how much of the FULL-dimension top-K survives
    when retrieval ranks by the first MRL_DIMS dims only
    (recall@K = n_overlap/K, emitted as the exact integer overlap),
    plus top-1 agreement and id-sum fingerprints of both sets.

    Both rankings are exact-integer INNER-PRODUCT retrieval over the
    same micro-unit vectors (the truncated dot is the same zip_with
    fold over a prefix slice — deterministic neighbor_id tie-break),
    so DuckDB replays both rankings and the overlap bit-exactly — no
    float cosine, no measured-gap argument needed (the sim_topk
    rank-only pattern is unnecessary when the score itself is an
    integer).

    Scale shape: the Q=8 query side broadcasts; both dots come from
    ONE zip_with pass each over the corpus (the truncated dot reads a
    prefix slice — in production the column would be stored
    dim-major/chunked so the 16-dim scan reads 4× fewer bytes, which
    is the entire point of MRL serving); two per-query window top-Ks
    and a K-row overlap join, all bounded by Q×K."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", micro("embedding").alias("qv"))
    q = v.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            idot("qq", "qv").alias("dot_full"),
            idot(
                F.slice(F.col("qq"), 1, MRL_DIMS),
                F.slice(F.col("qv"), 1, MRL_DIMS),
            ).alias("dot_trunc"),
        )
        .localCheckpoint(eager=True)  # two rankings read it
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("dot_full").desc(), F.col("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("dot_trunc").desc(), F.col("neighbor_id")
    )
    f = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= MRL_K)
        .select("query_id", "neighbor_id", "r")
    )
    t = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= MRL_K)
        .select("query_id", "neighbor_id", "r")
    )
    fa = f.groupBy("query_id").agg(
        F.sum("neighbor_id").cast("bigint").alias("full_id_sum"),
        F.min_by("neighbor_id", "r").alias("top1_full"),
    )
    ta = t.groupBy("query_id").agg(
        F.sum("neighbor_id").cast("bigint").alias("trunc_id_sum"),
        F.min_by("neighbor_id", "r").alias("top1_trunc"),
    )
    ov = (
        f.join(t, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        fa.join(ta, "query_id")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
            "full_id_sum",
            "trunc_id_sum",
            (F.col("top1_full") == F.col("top1_trunc")).alias("top1_match"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-quantization (int8-style) retrieval audit (r7) — the SQ
# sibling of the Matryoshka audit above: MRL asks "how much ranking
# survives fewer DIMS", this asks "how much survives fewer BITS".

SQ_QUERIES = 8
SQ_K = 10
# Micro-unit values are coarsened by floor(qv / 2^13): for |v| <= 1
# that is ~122 quantization levels per sign — the int8 serving
# regime. 2^13 keeps the division EXACT in IEEE double on both
# engines (|qv| <= ~2^20 << 2^53 and the divisor is a power of two),
# so floor(qv / 8192.0) is the true floor — including on NEGATIVE
# cells, where integer `div` would truncate toward zero on Spark but
# floor toward -inf on DuckDB (the dedup_embed_cosine floor-vs-trunc
# lesson; float-divide-then-floor sidesteps the divergence).
SQ_SHIFT = 8192

_SQ_ORACLE = f"""
WITH cells AS (
  SELECT vec_id, s.i,
         CAST(floor(CAST(embedding[s.i + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) s
),
q8 AS (
  SELECT vec_id, i, qv,
         CAST(floor(qv / {SQ_SHIFT}.0) AS BIGINT) AS qc
  FROM cells
),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(q.qv * c.qv) AS BIGINT) AS dot_full,
         CAST(SUM(q.qc * c.qc) AS BIGINT) AS dot_sq
  FROM q8 q JOIN q8 c ON q.i = c.i
  WHERE q.vec_id < {SQ_QUERIES} AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
f AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot_full DESC, neighbor_id) AS r
    FROM dots) z WHERE r <= {SQ_K}
),
t AS (
  SELECT query_id, neighbor_id, r FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot_sq DESC, neighbor_id) AS r
    FROM dots) z WHERE r <= {SQ_K}
),
fa AS (SELECT query_id, CAST(SUM(neighbor_id) AS BIGINT) AS full_id_sum,
              arg_min(neighbor_id, r) AS top1_full
       FROM f GROUP BY query_id),
ta AS (SELECT query_id, CAST(SUM(neighbor_id) AS BIGINT) AS sq_id_sum,
              arg_min(neighbor_id, r) AS top1_sq
       FROM t GROUP BY query_id),
ov AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       FROM f JOIN t USING (query_id, neighbor_id) GROUP BY f.query_id)
SELECT fa.query_id,
       COALESCE(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
       fa.full_id_sum, ta.sq_id_sum,
       (fa.top1_full = ta.top1_sq) AS top1_match
FROM fa JOIN ta USING (query_id) LEFT JOIN ov USING (query_id)
"""


@query("embed_sq_audit", oracle=_SQ_ORACLE)
def embed_sq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization audit — the measurement behind the "serve
    int8" decision every embedding deployment makes (4x smaller
    vectors, SIMD int dots): per query, how much of the
    full-precision top-K survives when retrieval ranks by the
    ~7-bit-coarsened vectors (floor(qv/2^13) — see SQ_SHIFT for why
    the coarsening is engine-exact even on negative cells), plus
    top-1 agreement and id-sum fingerprints of both sets — the
    embed_matryoshka_audit surface, fewer BITS instead of fewer DIMS.

    Both rankings are exact-integer inner products (micro-unit and
    coarsened), so DuckDB replays both rankings and the overlap
    bit-exactly. Unlike MRL truncation, floor-coarsening is MONOTONE
    per cell — single-dim rankings can only merge, never invert; real
    inversions come from error ACCUMULATION across dims, which is
    exactly what the audit measures (pinned by a planted flip corpus
    and a brute-force reference in tests).

    Scale shape: identical to the MRL audit — Q=8 queries broadcast,
    both dots from ONE zip_with pass over the corpus (the coarse dot
    reads the same cells through a transform — in production the
    int8 codes are a separate 4x-smaller column, which is the entire
    point), two per-query window top-Ks and a K-row overlap join,
    all Q*K-bounded."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", micro("embedding").alias("qv"))
    coarse = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.floor(x / F.lit(float(SQ_SHIFT))).cast("bigint")
    )
    q = v.filter(F.col("vec_id") < SQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            idot("qq", "qv").alias("dot_full"),
            idot(coarse(F.col("qq")), coarse(F.col("qv"))).alias("dot_sq"),
        )
        .localCheckpoint(eager=True)  # two rankings + overlap read it
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("dot_full").desc(), F.col("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("dot_sq").desc(), F.col("neighbor_id")
    )
    f = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= SQ_K)
        .select("query_id", "neighbor_id", "r")
    )
    t = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= SQ_K)
        .select("query_id", "neighbor_id", "r")
    )
    fa = f.groupBy("query_id").agg(
        F.sum("neighbor_id").cast("bigint").alias("full_id_sum"),
        F.min_by("neighbor_id", "r").alias("top1_full"),
    )
    ta = t.groupBy("query_id").agg(
        F.sum("neighbor_id").cast("bigint").alias("sq_id_sum"),
        F.min_by("neighbor_id", "r").alias("top1_sq"),
    )
    ov = (
        f.join(t, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        fa.join(ta, "query_id")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
            "full_id_sum",
            "sq_id_sum",
            (F.col("top1_full") == F.col("top1_sq")).alias("top1_match"),
        )
    )
