"""Similarity search over embeddings — SURVEY.md §2.K `sim_topk`.

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
variant (random-hyperplane signatures) as the 100 TB path: candidates
come from an equi-join on signature buckets, so the pairwise work is
O(candidates), not O(n·q). Dot products and distances come from
`operators/vectors.py` and run JVM-side — no Python in the loop.

(Top-k similarity framing follows the EDBT 2020 incremental top-k and
REPOSE ICDE 2021 distributed top-k lines in PAPERS.md.)
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import read_parquet, table
from gmt_dbt_spark.operators.embeddings import kmeans_assign
from gmt_dbt_spark.operators.vectors import (
    assert_embed_dims,
    cosine,
    dot,
    idot,
    isumsq,
    micro,
    norm,
    sqdist,
    unrolled_idot,
)
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import scratch_dir

N_QUERIES = 8  # vec_id < 8 are the query vectors in the demo queries
TOP_K = 5
_DIM = 64
_N_PLANES = 16


def hyperplanes(n_planes: int = _N_PLANES, dim: int = _DIM) -> list[list[float]]:
    """Fixed random hyperplanes (seeded PRNG — deterministic across
    processes; Python's builtin hash() is salted and must not be used)."""
    rng = random.Random(4242)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _sig_expr_sql() -> str:
    """The 16-bit hyperplane sign signature of column ``vec`` as ONE
    Spark SQL string: Σ_p CASE WHEN aggregate(zip_with(vec, plane_p,
    (x,y) -> x·y), 0.0, +) >= 0 THEN 2^p ELSE 0.

    r11 (guide §1.2 applied to the DRIVER — the r10 dedup_simhash
    expr-string recipe): the Column-API spelling of this expression
    cost 0.78 s of py4j round-trips PER PLAN BUILD (measured; the
    expr string parses JVM-side in 0.086 s), and every invocation of
    dedup_embed_cosine / sim_topk_lsh / sim_recall_audit rebuilds the
    plan. The CATALYST expressions are identical to the old Column
    form (same zip_with+aggregate plane dots, same left-fold order —
    verified sig-equal on every fixture vector), so runtime execution
    is unchanged.

    MEASURED-AND-REJECTED here: fully unrolling the dots
    (Σ_i vec[i]·plane_p[i] as 1024 literal terms) — the generated
    Java method exceeds Janino's 64 KB limit, whole-stage codegen
    compilation FAILS, and the entire stage (including the banded
    join it feeds) falls back to interpreted execution:
    dedup_embed_cosine 3.6 → 5.1 s back-to-back. The hof plane dots
    are CodegenFallback themselves but leave the surrounding stage
    codegen'd — the cheaper regime."""
    terms = []
    for p, plane in enumerate(hyperplanes()):
        arr = "array(" + ",".join(f"{x!r}D" for x in plane) + ")"
        d = f"aggregate(zip_with(vec, {arr}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
        terms.append(f"(CASE WHEN {d} >= 0D THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _signature(v: DataFrame) -> DataFrame:
    """16-bit random-hyperplane sign signature per vector (hof dots,
    single-parse expr string — see `_sig_expr_sql`)."""
    return v.select("vec_id", "vec", F.expr(_sig_expr_sql()).alias("sig"))


def _banded(sig: DataFrame) -> DataFrame:
    """Four 4-bit bands per signature (OR-amplification).

    Geometry measured on the fixture corpus (r2): the previous 2×8-bit
    split collided almost never on these 64-dim embeddings (aggregate
    recall@5 ≈ 0.05 — a useless retriever); 4×4-bit raises recall@5 to
    0.45–0.58 while candidates stay ~2% of the brute-force pair count
    at sf0.01. The driver-checked `sim_recall_audit` pins the recall
    floor; widen bands (more, narrower) to trade candidate volume for
    recall on a denser corpus."""
    bits, nbands = 4, 4
    mask = (1 << bits) - 1
    return sig.select(
        "vec_id",
        "vec",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", b * bits).bitwiseAND(F.lit(mask))
                    for b in range(nbands)
                ]
            )
        ).alias("band", "bkey"),
    )


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float[] → double[] once, up front (exact widening).
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )


# WHERE clause shared by the cosine-ranking oracles: zero-norm vectors
# have no cosine (ANSI mode — the driver default — raises
# DIVIDE_BY_ZERO; non-ANSI yields NULL vs DuckDB NaN: divergent either
# way). dot(v,v) > 0 is summation-order-independent (every term >= 0),
# so the gate is engine-exact. Integer-arithmetic ops
# (dedup_embed_cosine, embed_*, sink_ivf_partitioned) keep zero
# vectors: they are division-free and handle them consistently.
_NONZERO_SQL = (
    "list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0"
)


def _ranked_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_vecs` minus zero-norm vectors — the vector universe for the
    cosine-ranking queries (sim_topk / _lsh / _ivf). See _NONZERO_SQL
    for the cross-engine rationale (r3 adversarial-corpus finding)."""
    v = _vecs(spark, sf_dir)
    return v.filter(dot(F.col("vec"), F.col("vec")) > 0)


@query(
    "sim_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
     FROM embeddings WHERE {_NONZERO_SQL}),
     q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
     scored AS (
       SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
              list_cosine_similarity(q.vec, v.vec) AS score
       FROM q CROSS JOIN v
       WHERE q.vec_id <> v.vec_id),
     ranked AS (
       SELECT query_id, neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS rank
       FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: Q query vectors × corpus via a
    broadcast of the (tiny) query side, per-query window top-k.
    Output is (query, neighbor, rank) — ids only, because the score's
    last float ulp is engine-dependent while the ranking is stable.
    """
    v = _ranked_vecs(spark, sf_dir)
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qvec"), F.col("vec")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _sig_sql() -> str:
    """SQL expression computing the 16-bit hyperplane sign signature
    of column ``vec`` — the same fixed-seed literals the Spark plan
    inlines, so DuckDB rebuilds identical signatures (sign safety:
    min |plane·vec| on the fixture is 5.9e-6 at any sf, far above
    summation-order error)."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(vec, {plane!r}) >= 0"
        f" THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(hyperplanes())
    )


def _lsh_topk_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
     FROM embeddings WHERE {_NONZERO_SQL}),
sig AS (SELECT vec_id, {_sig_sql()} AS s FROM v),
banded AS (
  SELECT vec_id, g.band, (s // (1 << (4 * g.band))) % 16 AS bkey
  FROM sig, LATERAL (SELECT unnest(range(4)) AS band) g
),
q AS (SELECT vec_id AS query_id, band, bkey FROM banded WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM banded b JOIN q ON b.band = q.band AND b.bkey = q.bkey
  WHERE b.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(qv.vec, nv.vec) AS score
  FROM cand c
  JOIN v qv ON c.query_id = qv.vec_id
  JOIN v nv ON c.neighbor_id = nv.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {TOP_K}
"""


@query("sim_topk_lsh", oracle=_lsh_topk_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: 16-bit sign signature per
    vector (hyperplanes from a fixed-seed PRNG inlined as plan
    literals — deterministic across processes, no stored model file),
    candidates share one of four 4-bit bands (geometry rationale in
    `_banded`), exact cosine re-rank on candidates only. The scale
    path: signature build is one pass, candidate join is an equi-join
    on (band, key); recall floor pinned by `sim_recall_audit`.

    ORACLE-HASHED since r3 (was rows-only): DuckDB replays the
    signatures from the same hyperplane literals, the band equi-join,
    and the exact rerank, comparing (query, neighbor, rank) — ids and
    ranks only, like `sim_topk`, because the score's last float ulp
    is engine-dependent while the ranking is stable."""
    v = _ranked_vecs(spark, sf_dir)
    banded = _banded(_signature(v))
    q = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        "band",
        "bkey",
    )
    # dedupe candidates on the NARROW id pair (a pair sharing several
    # bands would otherwise replicate) and only then re-attach the
    # embedding vectors — a distinct carrying the vectors themselves
    # shuffles ~dim×8 bytes per candidate instead of 16
    cand_ids = (
        banded.select("vec_id", "band", "bkey")
        .join(q, ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cand = cand_ids.join(F.broadcast(qv), "query_id").join(
        v.select(F.col("vec_id").alias("neighbor_id"), "vec"), "neighbor_id"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("vec")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


K_CENTROIDS = 16
N_PROBE = 4


def ivf_assign(v: DataFrame, centroids: DataFrame, n_lists: int = 1) -> DataFrame:
    """Assign each vector to its ``n_lists`` most-similar centroids
    (n_lists=1 → index assignment; n_lists=N_PROBE → query probing).

    TRULY scan-side (r2): the K centroids collapse into ONE broadcast
    row holding an array<struct<cid, cvec, cn>>, and the per-vector
    top-n is `slice(array_sort(...))` over that array — zero shuffles,
    zero windows. (The r1 form cross-joined K rows per vector and
    ranked them with a row_number window, which SHUFFLED corpus×K rows
    on vec_id — the exact cost this operator exists to avoid at
    100 TB.) Ties order by (similarity desc, cid asc) via an ascending
    struct sort on (−sim, cid) — identical to the old window order.
    Norms are precomputed once per side (higher-order lambdas are
    interpreted; inline norms would re-reduce 64 elements × K per
    row)."""
    carr = centroids.agg(
        F.collect_list(
            F.struct(F.col("cid"), F.col("cvec"), norm(F.col("cvec")).alias("cn"))
        ).alias("__carr")
    )
    scored = v.crossJoin(F.broadcast(carr)).withColumn("__vn", norm(F.col("vec")))
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("__carr"),
                lambda c: F.struct(
                    (-(dot(F.col("vec"), c["cvec"]) / (F.col("__vn") * c["cn"]))).alias(
                        "negsim"
                    ),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        n_lists,
    )
    return scored.select(
        *v.columns, F.explode(F.transform(ranked, lambda x: x["cid"])).alias("cid")
    )


def _ivf_topk_oracle() -> str:
    """DuckDB full replay of `sim_topk_ivf` (r3; was rows-only):
    deterministic sampled centroids, nearest-list assignment and
    N_PROBE probing as ROW_NUMBER over (similarity DESC, cid), exact
    rerank inside the probed lists. Ordering safety: the minimum
    adjacent centroid-similarity gap on the fixture is 6.2e-7 and the
    minimum adjacent pairwise-cosine gap for the query set is 2.8e-8
    — both orders of magnitude above cross-engine float-accumulation
    error, so ranks are stable even though raw scores differ in the
    last ulp (the same argument under `sim_topk`'s oracle)."""
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
     FROM embeddings WHERE {_NONZERO_SQL}),
cent AS (
  SELECT vec_id AS cid, vec AS cvec FROM v
  WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {K_CENTROIDS}
),
asgn AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY list_cosine_similarity(v.vec, c.cvec) DESC, c.cid) AS rn
    FROM v CROSS JOIN cent c) t WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY list_cosine_similarity(v.vec, c.cvec) DESC, c.cid) AS rn
    FROM v CROSS JOIN cent c WHERE v.vec_id < {N_QUERIES}) t
  WHERE rn <= {N_PROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM asgn a JOIN probe p ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(qv.vec, nv.vec) AS score
  FROM cand c
  JOIN v qv ON c.query_id = qv.vec_id
  JOIN v nv ON c.neighbor_id = nv.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {TOP_K}
"""


@query("sim_topk_ivf", oracle=_ivf_topk_oracle())
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF-Flat: K=16 coarse centroids (deterministic
    sample of the corpus — production would refine them with a few
    Lloyd iterations, sampling keeps the demo reproducible), every
    vector assigned to its nearest centroid's inverted list, queries
    probe the N_PROBE=4 nearest lists and re-rank exactly inside them.
    At 100 TB: centroids broadcast, assignment is scan-side, and the
    probe join is an equi-join on the list id touching N_PROBE/K of
    the corpus.

    ORACLE-HASHED since r3 (was rows-only): DuckDB replays centroid
    sampling, assignment, probing, and rerank (`_ivf_topk_oracle`);
    the surface is (query, neighbor, rank) — rank-stable, score-free,
    like `sim_topk`."""
    v = _ranked_vecs(spark, sf_dir)
    centroids = (
        v.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(K_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("vec").alias("cvec"))
    )
    lists = ivf_assign(v, centroids, n_lists=1)  # (vec_id, vec, label, cid)
    q = ivf_assign(
        v.filter(F.col("vec_id") < N_QUERIES), centroids, n_lists=N_PROBE
    ).select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "cid")
    # no distinct needed: each corpus vector lives in EXACTLY ONE
    # inverted list (n_lists=1) and the probe lists are distinct, so a
    # (query, neighbor) pair can appear at most once — the r1 distinct
    # shuffled full embedding vectors for nothing
    cand = (
        lists.join(q, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qvec", F.col("vec_id").alias("neighbor_id"), "vec")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("vec")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _embed_cosine_oracle() -> str:
    """DuckDB full replay of `dedup_embed_cosine` (r3; was rows-only).

    The 16 hyperplanes are fixed-seed PRNG literals, so the SAME
    Python call that inlines them into the Spark plan inlines them
    here — DuckDB rebuilds the sign signatures, the 4×4-bit band
    self-join, and the integer milli-unit cosine verify. Sign safety:
    the smallest |plane·vec| on the fixture corpus is 5.9e-6 at any
    sf, ~10^7 ulps above double accumulation error, so summation
    order cannot flip a signature bit. The verify is EXACT integer
    arithmetic on both engines (all products < 2^53, so even a
    double-valued dot of integer lists is exact)."""
    sig_terms = _sig_sql()
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
  FROM embeddings
),
vq AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM v
),
sig AS (SELECT vec_id, {sig_terms} AS s FROM v),
banded AS (
  SELECT vec_id, g.band, (s // (1 << (4 * g.band))) % 16 AS bkey
  FROM sig, LATERAL (SELECT unnest(range(4)) AS band) g
),
pair_ids AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bkey = r.bkey AND l.vec_id < r.vec_id
),
scored AS (
  SELECT p.id_a, p.id_b,
         CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot_mil,
         a.n2 AS na2_mil, b.n2 AS nb2_mil
  FROM pair_ids p
  JOIN vq a ON p.id_a = a.vec_id
  JOIN vq b ON p.id_b = b.vec_id
)
SELECT id_a, id_b, dot_mil, na2_mil, nb2_mil
FROM scored
WHERE na2_mil > 0 AND nb2_mil > 0
  AND dot_mil >= 0
  AND CAST(dot_mil AS HUGEINT) * dot_mil * 10000
      >= CAST(1225 AS HUGEINT) * na2_mil * nb2_mil
"""


@query("dedup_embed_cosine", oracle=_embed_cosine_oracle())
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection: LSH-bucketed candidate
    pairs (shared 4-bit band) verified against a cosine threshold —
    the embedding-space sibling of dedup_fuzzy. (The synthetic
    embeddings are i.i.d. random — max pairwise cosine ≈ 0.44 — so
    the demo threshold 0.35 surfaces the top of the candidate
    distribution; production near-dup would use ≥ 0.95.)

    ORACLE-HASHED end-to-end since r3 (was rows-only): the verify
    runs in the house integer micro-unit convention — milli-quantized
    vectors, exact bigint dot, and `cos ≥ 0.35` as the cross-
    multiplication dot²·10⁴ ≥ 1225·‖a‖²·‖b‖² in DECIMAL(38)/HUGEINT —
    so the FULL-CORPUS pair set hashes identically on DuckDB, which
    replays signatures, banding, and verify from the same hyperplane
    literals (`_embed_cosine_oracle`). No float comparison anywhere
    in the output surface."""
    v = _vecs(spark, sf_dir)
    # r11 (VERDICT r10 item 1 — the semdedup pair-stage treatment,
    # guide §4.1/§2.3): the per-PAIR dot product was zip_with +
    # aggregate — higher-order functions are CodegenFallback
    # (interpreted per element), ~64 lambda evals × 2 × every
    # candidate pair. The quantized vector is built ONCE per row
    # behind a Generate barrier (explode of a 1-element array — the
    # `_wp_word_pieces` pattern; projection collapse would otherwise
    # re-inline the milli-quantize transform into every qv[i] of the
    # unrolled dot, the exact failure r10's piecemeal attempt
    # measured), and n2 + the pair dot unroll over the pinned
    # EMBED_DIMS contract (`unrolled_idot`, one F.expr string each).
    # The verify stage still runs without whole-stage codegen: its
    # generated code passes Janino's 64 KB limit (see vectors.py).
    # Same bigint arithmetic, same values. assert_embed_dims makes
    # the unrolled dot fail LOUDLY on an off-contract width
    # (VERDICT item 8) instead of NULLing the pair away.
    qv = micro(F.col("vec"), 1000.0)
    vq = assert_embed_dims(
        v.select("vec_id", F.explode(F.array(qv)).alias("qv"))
    ).select("vec_id", "qv", unrolled_idot("qv", "qv").alias("n2"))
    banded = _banded(_signature(v)).select("vec_id", "band", "bkey")
    l, r = banded.alias("l"), banded.alias("r")
    # narrow-id candidate dedup, vectors re-attached after (same
    # rationale as sim_topk_lsh: never shuffle embeddings in a distinct)
    pair_ids = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("id_a"), F.col("r.vec_id").alias("id_b"))
        .distinct()
        # re-spread (r11, the semdedup/graph_triangles trap): AQE
        # coalesces the small distinct exchange to ONE partition, and
        # the whole verify stage downstream — two hash probes + the
        # 64-term dot + three DECIMAL(38) multiplies PER PAIR — would
        # run on a single core. A 16 B/row exchange of the pair ids
        # buys back the session's full parallelism for the verify
        # (measured 2.32 → 1.88 s on the execute leg at sf0.1;
        # scale-adaptive — defaultParallelism, never a constant).
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = pair_ids.join(
        vq.select(
            F.col("vec_id").alias("id_a"),
            F.col("qv").alias("qa"),
            F.col("n2").alias("na2_mil"),
        ),
        "id_a",
    ).join(
        vq.select(
            F.col("vec_id").alias("id_b"),
            F.col("qv").alias("qb"),
            F.col("n2").alias("nb2_mil"),
        ),
        "id_b",
    )
    dec = "decimal(38,0)"
    return (
        pairs.withColumn("dot_mil", unrolled_idot("qa", "qb"))
        .filter(
            # zero-norm guard (r7 — found by the removal-gate planted
            # sweep, the same hole r6 fixed in dedup_semdedup): cosine
            # with a zero vector is UNDEFINED, not >= tau; without the
            # guard the cross-multiplication degenerates to 0 >= 0 and
            # an all-zero embedding (or one quantizing to all-zero)
            # paired with every band-mate — 21 false pairs measured on
            # the 40-vector adversarial corpus (11 for the zero vector
            # + 10 for the sub-resolution one), with a GREEN mirrored
            # oracle.
            (F.col("na2_mil") > 0)
            & (F.col("nb2_mil") > 0)
            & (F.col("dot_mil") >= 0)
            & (
                F.col("dot_mil").cast(dec) * F.col("dot_mil") * 10000
                >= F.lit(1225).cast(dec) * F.col("na2_mil") * F.col("nb2_mil")
            )
        )
        .select("id_a", "id_b", "dot_mil", "na2_mil", "nb2_mil")
    )


@query(
    "sim_recall_audit",
    oracle="""
SELECT 'ivf' AS method, TRUE AS recall_ok
UNION ALL
SELECT 'lsh' AS method, TRUE AS recall_ok
""",
)
def sim_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable ANN quality gate: aggregate recall@5 of BOTH
    approximate retrievers (IVF n_probe=4/16 and 4×4-bit hyperplane
    LSH) against the exact brute-force top-k, computed in one plan.
    The boolean asserts recall ≥ 0.30 — the floor both methods clear
    on the fixture corpus (measured 0.45–0.60) — so a silent
    recall collapse (bad banding, broken centroid assignment, a
    signature regression) fails the correctness gate, not just a
    local pytest. The exact side is the same broadcast-query
    brute-force as `sim_topk`, so the audit costs one corpus pass
    per method; at 100 TB you run it on a sampled query set, same
    plan. The exact result is materialized once (localCheckpoint) —
    it feeds four consumers (hits + total, per method), which would
    otherwise re-run the brute-force pass each time."""
    exact = (
        sim_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )

    def recall_of(approx: DataFrame, method: str) -> DataFrame:
        hits = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n_hit"))
        total = exact.agg(F.count(F.lit(1)).alias("n_exact"))
        return hits.crossJoin(total).select(
            F.lit(method).alias("method"),
            (F.col("n_hit") * 100 >= F.col("n_exact") * 30).alias("recall_ok"),
        )

    return recall_of(sim_topk_ivf(spark, sf_dir), "ivf").unionByName(
        recall_of(sim_topk_lsh(spark, sf_dir), "lsh")
    )


@query(
    "sink_ivf_partitioned",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < 4),
dists AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(range(len(q.qv)),
              i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1])))
              AS BIGINT) AS d
  FROM q CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid AS list_id
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists)
  WHERE rn = 1
),
probe AS (
  SELECT d.cid AS list_id
  FROM dists d WHERE d.vec_id = 400
  ORDER BY d.d, d.cid LIMIT 2
),
cand AS (
  SELECT a.vec_id FROM assign a JOIN probe p ON a.list_id = p.list_id
  WHERE a.vec_id <> 400
),
scored AS (
  SELECT c.vec_id,
         CAST(list_sum(list_transform(range(len(v.qv)),
              i -> v.qv[i+1] * qq.qv[i+1])) AS BIGINT) AS dot
  FROM cand c
  JOIN q v  ON v.vec_id = c.vec_id
  JOIN q qq ON qq.vec_id = 400
)
SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS INTEGER) AS rnk,
       vec_id, dot
FROM scored
ORDER BY dot DESC, vec_id LIMIT 5
""",
)
def sink_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING LAYOUT — the piece that makes IVF pay at 100 TB:
    persist the corpus PARTITIONED BY its IVF list assignment, so a
    query's N_PROBE list lookup becomes PARTITION PRUNING at the
    storage layer (PartitionFilters in the scan — plan-guarded):
    the probe reads N_PROBE/K of the corpus FILES, not just N_PROBE/K
    of the rows after a full scan, which is what the query-time
    `sim_topk_ivf` does. Write once, serve every query with
    directory-pruned scans.

    Everything is integer micro-unit arithmetic on a DETERMINISTIC
    codebook (centroids = the K lowest vec_ids, the embed_kmeans
    init convention; ties → lowest centroid/vec id), which is what
    lets a full ANN index build + partitioned round-trip + probe +
    rerank be HASH-ORACLED end-to-end — DuckDB rebuilds the same
    index declaratively. Query = vec_id 400, K=4 lists, N_PROBE=2,
    top-5 by exact micro-dot."""
    K, N_PROBE, QID, TOPK = 4, 2, 400, 5
    e = table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", micro("embedding").alias("qv"))
    cents = [
        list(r["qv"]) for r in q.filter(F.col("vec_id") < K).orderBy("vec_id").collect()
    ]
    with scratch_dir("ivf_idx") as scratch:
        # index build: assign every vector, persist partitioned by list
        assigned = kmeans_assign(q, cents).select(
            "vec_id", F.col("cluster").alias("list_id"), "qv"
        )
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(scratch)
        # probe: the query vector's N_PROBE nearest lists
        qrow = q.filter(F.col("vec_id") == QID).collect()[0]
        qv = [int(x) for x in qrow["qv"]]
        dists = sorted((sqdist(qv, c), i) for i, c in enumerate(cents))
        probe_lists = [i for _, i in dists[:N_PROBE]]
        # serve: partition-pruned read of ONLY the probed lists
        idx = read_parquet(spark, scratch).filter(
            F.col("list_id").isin(probe_lists) & (F.col("vec_id") != QID)
        )
        qarr = F.array(*[F.lit(x) for x in qv])
        # heap-based global top-k (TakeOrderedAndProject: per-partition
        # heaps + driver merge of k rows) — a rank-window here would
        # drag EVERY candidate into one partition; the rank label is
        # attached afterwards, over just the k survivors
        w = Window.orderBy(F.desc("dot"), F.asc("vec_id"))
        out = (
            idx.select("vec_id", idot("qv", qarr).alias("dot"))
            .orderBy(F.desc("dot"), F.asc("vec_id"))
            .limit(TOPK)
            .withColumn("rnk", F.row_number().over(w))
            .select("rnk", "vec_id", "dot")
        )
        return out.localCheckpoint(eager=True)  # detach from scratch, executor-side


# --- MMR diversity re-ranking (r5) -----------------------------------

MMR_POOL = 10  # relevance candidates per query feeding the re-rank
MMR_K = 5      # diversified results per query
# lambda = 0.7 in tenths: score10 = 7*rel - 3*max_sim (exact integers)
_MMR_REL_W, _MMR_SIM_W = 7, 3

_MICRO_SQL = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
)


def _mmr_oracle() -> str:
    """DuckDB replay of the full greedy MMR chain: candidates by
    integer micro-dot relevance, then MMR_K selection steps, each an
    argmax of 7·rel − 3·max_sim_to_selected over the remaining pool
    (ties → lowest neighbor_id). DuckDB's list_dot_product over
    BIGINT lists is exact here: every partial is an integer-valued
    double below 2^53."""
    head = f"""
WITH v AS (
  SELECT vec_id, {_MICRO_SQL} AS mv FROM embeddings
),
vz AS (SELECT * FROM v WHERE CAST(list_dot_product(mv, mv) AS BIGINT) > 0),
q AS (SELECT vec_id AS query_id, mv AS qmv FROM vz WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT query_id, neighbor_id, mv, rel FROM (
    SELECT q.query_id, vz.vec_id AS neighbor_id, vz.mv,
           CAST(list_dot_product(q.qmv, vz.mv) AS BIGINT) AS rel,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CAST(list_dot_product(q.qmv, vz.mv) AS BIGINT) DESC,
                      vz.vec_id) AS rk
    FROM q CROSS JOIN vz WHERE vz.vec_id <> q.query_id) t
  WHERE rk <= {MMR_POOL}
),
sel1 AS (
  SELECT query_id, neighbor_id, mv, rel, CAST(0 AS BIGINT) AS maxsim,
         1 AS mmr_rank
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rk
        FROM cand) t WHERE rk = 1
)"""
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(f""",
rem{i} AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM sel{i-1} s
                    WHERE s.query_id = c.query_id
                      AND s.neighbor_id = c.neighbor_id)
),
sc{i} AS (
  SELECT r.query_id, r.neighbor_id, r.mv, r.rel,
         (SELECT MAX(CAST(list_dot_product(r.mv, s.mv) AS BIGINT))
          FROM sel{i-1} s WHERE s.query_id = r.query_id) AS maxsim
  FROM rem{i} r
),
sel{i} AS (
  SELECT * FROM sel{i-1}
  UNION ALL
  SELECT query_id, neighbor_id, mv, rel, maxsim, {i} AS mmr_rank
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY {_MMR_REL_W} * rel - {_MMR_SIM_W} * maxsim DESC,
                   neighbor_id) AS rk
        FROM sc{i}) t WHERE rk = 1
)""")
    return (
        head
        + "".join(steps)
        + f"""
SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       rel AS rel_micro, maxsim AS maxsim_micro
FROM sel{MMR_K}
"""
    )


@query("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal-marginal-relevance) diversity re-ranking — the
    standard retrieval post-processor that keeps near-duplicate hits
    from crowding a result list: greedily pick argmax of
    λ·relevance − (1−λ)·max-similarity-to-already-selected.

    ENTIRELY exact-integer (the house convention): vectors quantize
    to micro-units, relevance and pairwise similarity are bigint
    dots, λ=0.7 becomes score10 = 7·rel − 3·max_sim, ties break to
    the lowest neighbor_id — so the WHOLE greedy chain (candidate
    pool, every per-step argmax, the similarity evidence) is
    value-hashed against a DuckDB replay. Surface reports the
    selection order plus the exact evidence each pick was scored on.

    Scale shape: the expensive part is candidate generation (the
    sim_topk broadcast-Q scan + per-query window top-MMR_POOL); the
    greedy loop then runs on a CHECKPOINTED pool of Q×MMR_POOL rows —
    each step is an anti-join + a pool-sized pairwise dot + one
    window, all on frames bounded by the pool, never the corpus.
    MMR_K driver-composed steps, the BPE-chain pattern (per-step
    checkpoint: the growing selected set has two consumers per
    step)."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", micro("embedding").alias("mv")).filter(
        idot("mv", "mv") > 0
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("mv").alias("qmv")
    )
    rel = idot("qmv", "mv").alias("rel")
    wrel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id")
    )
    cand = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "mv", rel)
        .withColumn("rk", F.row_number().over(wrel))
        .filter(F.col("rk") <= MMR_POOL)
        .drop("rk")
        .localCheckpoint(eager=True)
    )
    selected = (
        cand.withColumn("rk", F.row_number().over(wrel))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "mv",
            "rel",
            F.lit(0).cast("bigint").alias("maxsim"),
            F.lit(1).alias("mmr_rank"),
        )
        .localCheckpoint(eager=True)
    )
    for i in range(2, MMR_K + 1):
        rem = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        sims = (
            rem.alias("r")
            .join(
                selected.select(
                    "query_id", F.col("mv").alias("smv")
                ).alias("s"),
                "query_id",
            )
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.max(idot(F.col("r.mv"), F.col("s.smv"))).alias("maxsim")
            )
        )
        wsc = Window.partitionBy("query_id").orderBy(
            F.desc(
                F.lit(_MMR_REL_W) * F.col("rel")
                - F.lit(_MMR_SIM_W) * F.col("maxsim")
            ),
            F.asc("neighbor_id"),
        )
        pick = (
            rem.join(sims, ["query_id", "neighbor_id"])
            .withColumn("rk", F.row_number().over(wsc))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "mv",
                "rel",
                "maxsim",
                F.lit(i).alias("mmr_rank"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id",
        "neighbor_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        F.col("rel").alias("rel_micro"),
        F.col("maxsim").alias("maxsim_micro"),
    )


# ---------------------------------------------------------------------------
# r10: hybrid retrieval — reciprocal-rank fusion of a sparse (term)
# leg and a dense (embedding) leg, the standard production shape
# (Cormack et al. 2009; every hybrid search stack ships it). A hybrid
# query is (term, query vector); RRF needs only the two RANK lists,
# which makes it the rare fusion that is EXACTLY mirrorable: both
# legs rank by integer keys with id tiebreaks, and the fused score is
# floor(SCALE/(K+rank)) sums — no float anywhere in the surface.

RRF_K = 60               # the canonical RRF constant
RRF_SCALE = 1_000_000    # fixed-point numerator (floor-div mirrored)
RRF_TOPK = 50            # per-leg candidate list depth
_RRF_TERMS = ("vector", "hash", "stream")  # query i = (term_i, vec_i)


def _rrf_oracle() -> str:
    from gmt_dbt_spark.functions.text import _DUCK_TOKENS

    qid_case = "CASE t " + " ".join(
        f"WHEN '{t}' THEN {i}" for i, t in enumerate(_RRF_TERMS)
    ) + " END"
    terms_in = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    return f"""
WITH norm AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
tkd AS (SELECT doc_id, tk, len(tk) AS dl FROM norm WHERE len(tk) >= 1),
hit AS (
  SELECT doc_id, dl, t
  FROM (SELECT doc_id, dl, unnest(tk) AS t FROM tkd)
  WHERE t IN ({terms_in})
),
tf AS (
  SELECT {qid_case} AS qid, doc_id, MAX(dl) AS dl,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM hit GROUP BY 1, 2
),
sp AS (
  SELECT qid, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY tf DESC, dl ASC, doc_id) AS BIGINT) AS rs
  FROM tf QUALIFY rs <= {RRF_TOPK}
),
v AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qv
  FROM embeddings
),
vq AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM v
),
qs AS (
  SELECT CAST(vec_id AS INT) AS qid, qv AS qqv
  FROM vq WHERE vec_id < {len(_RRF_TERMS)} AND n2 > 0
),
sc AS (
  SELECT qs.qid, c.vec_id,
         CAST(list_dot_product(qs.qqv, c.qv) AS BIGINT) AS d, c.n2
  FROM vq c CROSS JOIN qs
  WHERE c.vec_id <> qs.qid AND c.n2 > 0
),
keyed AS (
  SELECT qid, vec_id,
         CASE WHEN d >= 0
              THEN CAST((CAST(d AS HUGEINT) * d) // n2 AS BIGINT)
              ELSE -CAST((CAST(d AS HUGEINT) * d) // n2 AS BIGINT)
         END AS key
  FROM sc
),
dn AS (
  SELECT qid, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY key DESC, vec_id) AS BIGINT) AS rd
  FROM keyed QUALIFY rd <= {RRF_TOPK}
),
fused AS (
  SELECT COALESCE(sp.qid, dn.qid) AS query_id,
         COALESCE(sp.doc_id, dn.vec_id) AS doc_id,
         sp.rs AS rank_sparse, dn.rd AS rank_dense,
         (COALESCE({RRF_SCALE} // ({RRF_K} + sp.rs), 0)
          + COALESCE({RRF_SCALE} // ({RRF_K} + dn.rd), 0)) AS rrf_fp
  FROM sp FULL OUTER JOIN dn
    ON sp.qid = dn.qid AND sp.doc_id = dn.vec_id
)
SELECT CAST(query_id AS INT) AS query_id, doc_id,
       rank_sparse, rank_dense, CAST(rrf_fp AS BIGINT) AS rrf_fp,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS fused_rank
FROM fused
"""


@query("sim_rrf_fusion", oracle=_rrf_oracle())
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (r10): three
    hybrid queries, each a (term, query-vector) pair — query i
    searches term _RRF_TERMS[i] on the sparse leg and embedding
    vec_id=i on the dense leg (documents and embeddings share the id
    space) — fused as RRF: rrf_fp = Σ_leg floor(10⁶/(60+rank_leg)),
    absent-leg contribution 0, plus the fused per-query rank.

    Exactness (why RRF and not score fusion): RRF consumes only the
    two rank lists, and both legs rank by INTEGER keys with id
    tiebreaks — sparse by (tf desc, dl asc, doc_id), dense by the
    signed milli-quantized cos² surrogate sign(dot)·(dot² div ‖v‖²)
    (monotone in cosine: the query norm is constant per partition and
    squaring is monotone per sign; DECIMAL(38) div ≡ HUGEINT //, the
    dedup_embed_cosine convention) — so ranks, RRF scores, and the
    fused rank all hash bit-exactly cross-engine. Zero-norm vectors
    carry no cosine and are excluded from both sides of the dense leg
    (the _NONZERO_SQL rationale, here division-free as dot²·n2
    cross-multiplication never divides by the norm... the guard is
    n2 > 0 on the quantized ints).

    Scale shape: sparse leg = the text_bm25 funnel (term filter
    INSIDE the Generate stage, only hit rows shuffle) + a per-query
    windowed top-k (rank ≤ 50 compiles to WindowGroupLimit — the
    running heap, never a full sort); dense leg = the sim_topk shape
    (3-row query broadcast, per-query WindowGroupLimit top-k); the
    fusion joins two ≤ 3·50-row rank lists and its final window is
    partitioned by query. Production swaps the dense leg's
    brute-force scoring for sim_topk_ivf's partition-pruned probe —
    the fusion layer is unchanged."""
    from gmt_dbt_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tkd = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tk")
    ).filter(F.size("tk") >= 1)
    hits = tkd.select(
        "doc_id", F.size("tk").alias("dl"), F.explode("tk").alias("t")
    ).filter(F.col("t").isin(*_RRF_TERMS))
    qid = F.when(F.col("t") == _RRF_TERMS[0], 0)
    for i, t in enumerate(_RRF_TERMS[1:], start=1):
        qid = qid.when(F.col("t") == t, i)
    tf = hits.groupBy(qid.cast("int").alias("qid"), "doc_id").agg(
        F.max("dl").alias("dl"), F.count(F.lit(1)).alias("tf")
    )
    w_sp = Window.partitionBy("qid").orderBy(
        F.col("tf").desc(), F.col("dl").asc(), F.col("doc_id").asc()
    )
    sp = (
        tf.withColumn("rs", F.row_number().over(w_sp).cast("bigint"))
        .filter(F.col("rs") <= RRF_TOPK)
        .select("qid", "doc_id", "rs")
    )

    v = _vecs(spark, sf_dir)
    vq = v.select("vec_id", micro(F.col("vec"), 1000.0).alias("qv")).select(
        "vec_id", "qv", isumsq("qv").alias("n2")
    )
    qs = vq.filter(
        (F.col("vec_id") < len(_RRF_TERMS)) & (F.col("n2") > 0)
    ).select(
        F.col("vec_id").cast("int").alias("qid"), F.col("qv").alias("qqv")
    )
    sc = (
        vq.filter(F.col("n2") > 0)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("d", idot("qqv", "qv"))
        .withColumn(
            "key",
            F.expr(
                "CASE WHEN d >= 0 THEN"
                " CAST((CAST(d AS DECIMAL(38,0)) * d) div n2 AS BIGINT)"
                " ELSE -CAST((CAST(d AS DECIMAL(38,0)) * d) div n2"
                " AS BIGINT) END"
            ),
        )
    )
    w_dn = Window.partitionBy("qid").orderBy(
        F.col("key").desc(), F.col("vec_id").asc()
    )
    dn = (
        sc.withColumn("rd", F.row_number().over(w_dn).cast("bigint"))
        .filter(F.col("rd") <= RRF_TOPK)
        .select(F.col("qid").alias("dqid"), F.col("vec_id").alias("did"), "rd")
    )
    fused = sp.join(
        dn,
        (sp["qid"] == dn["dqid"]) & (sp["doc_id"] == dn["did"]),
        "full_outer",
    ).select(
        F.coalesce(sp["qid"], dn["dqid"]).cast("int").alias("query_id"),
        F.coalesce(sp["doc_id"], dn["did"]).alias("doc_id"),
        F.col("rs").alias("rank_sparse"),
        F.col("rd").alias("rank_dense"),
        (
            F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K} + rs)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE} div ({RRF_K} + rd)"), F.lit(0)
            )
        ).cast("bigint").alias("rrf_fp"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_fp").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w_f).cast("bigint")
    )
