"""Kneser-Ney smoothed bigram LM scoring — the canonical n-gram LM
smoothing (Kneser & Ney 1995; Chen & Goodman 1998 found interpolated
KN the best-performing classical smoother), upgrading the text family
past `text_bigram_logprob`'s simpler smoothing: KN discounts every
seen bigram by a fixed D and redistributes that mass through the
CONTINUATION distribution (how many distinct contexts a word
follows), which is what makes it the standard for LM-based data
quality scoring (CCNet's perplexity filter is a KN 5-gram).

All-rational exactness contract: with discount D = 3/4, interpolated
KN over the seen vocabulary is

  P(w|v) = [ max(4·c(vw)−3, 0)·N11 + 3·N1p(v)·N1c(w) ]
           / [ 4·c(v)·N11 ]

where c(vw) = bigram count, c(v) = Σ_w c(vw), N1p(v) = |{w: c(vw)>0}|
(distinct continuations of v), N1c(w) = |{v: c(vw)>0}| (distinct
contexts of w), N11 = total distinct bigrams. Integer numerator and
denominator — and Σ_w P(w|v) = 1 EXACTLY for every seen context
(verified with Fractions while freezing the spec). A doc's score is
the fixed-point log2 of its bigram-probability product:
Σ ilog2(num) − ilog2(den) in 1/4096 units — the unigram trainer's
ilog2 contract, here evaluated DISTRIBUTED per bigram (see
`_ilog2_col` / `_ILOG2_SQL` for the overflow-safe form: the mantissa
product (num − 2^f)·4096 can reach 2^74, so it runs through
DECIMAL(38,0) `div` on Spark and HUGEINT `//` on DuckDB — the
wordpiece.py exact-floor machinery).

Scoring the training corpus itself means every bigram's context and
word are seen, so num ≥ 3·1·1 > 0 and den > 0 — no OOV floor is
needed (the WordPiece alphabet-closure argument). Validity envelope:
BIGINT num requires 4·c_max·N11 < 2^63 — astronomically past these
corpora; the same pipeline runs with wider decimals beyond, same
contract.

Scale shape: tokens hash to 31-bit ints AT THE SCAN (the
`shingle_hash` family — collisions merge words deterministically and
IDENTICALLY on both engines, the text_ttr doctrine) and bigrams are
built scan-side from the token array (zero extra shuffle), so every
shuffle carries (doc_id, int, int). ALL model relations — bigram
counts, context stats, continuation stats — derive from the ONE
checkpointed Heaps-bounded bigram-count relation; the corpus is
scanned exactly twice (count pass, scoring pass), stats join back
AQE-broadcast, N11 is a 1-row collect. Docs with < 2 tokens surface
with n_bigrams = 0 and NULL score via the left-join spine.

Reference parity: whitefantom00/gmt-dbt has no LM surface; this is
the demanded LLM-pipeline extension (SURVEY §2.L), evidence-matched
to the house standard (pure-Python reference pin on randomized
corpora, hand-computed planted corpus, plan guard, adversarial
enrollment, SCALE row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.functions.text import _DUCK_TOKENS
from gmt_dbt_spark.operators.dedup import tokens_col
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import checkpoint

KN_SCALE = 4096  # fixed-point log2 resolution (the ilog2 contract)
_P31 = 2_147_483_647  # the shingle_hash Mersenne modulus


def _with_ilog2(df: DataFrame, src: str, dst: str) -> DataFrame:
    """df + column ``dst`` = ilog2(df[src]) — the DISTRIBUTED ilog2
    over a positive BIGINT column:
    ilog2(x) = S·(bl−1) + ((x − 2^(bl−1))·S) div 2^(bl−1),
    bl = bit length via length(conv(x, 10, 2)). The mantissa product
    can reach 2^74 for x near 2^63, so it goes through DECIMAL(38,0)
    `div` (exact floor on positives — verified in wordpiece.py)."""
    out = df.withColumn("__kn_x", F.col(src).cast("bigint"))
    out = out.withColumn(
        "__kn_p",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            " length(conv(CAST(__kn_x AS STRING), 10, 2)) - 1)"
        ),
    )
    out = out.withColumn(
        dst,
        F.expr(
            f"CAST({KN_SCALE} AS BIGINT)"
            " * (length(conv(CAST(__kn_x AS STRING), 10, 2)) - 1)"
            f" + CAST((__kn_x - __kn_p) AS DECIMAL(38,0)) * {KN_SCALE}"
            " div CAST(__kn_p AS DECIMAL(38,0))"
        ),
    )
    return out.drop("__kn_x", "__kn_p")


def _kn_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, vh, wh): the scan-side bigram stream — tokens hashed
    to 31-bit ints inside the token array, adjacent pairs built by
    one transform, exploded. Zero shuffles before aggregation.

    The hashed array goes behind a Generate barrier (explode of a
    1-element array — the `_uni_seg_frame` pattern) BEFORE pair
    construction: inlined, Catalyst re-evaluates the whole
    hash-transform for EVERY element_at reference, turning m tokens
    into O(m²) md5 calls per doc (measured ~2.5× on the whole query
    at sf0.001 before the barrier)."""
    toks = tokens_col(F.col("text"))
    hashed = F.transform(
        toks,
        lambda t: F.pmod(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
            F.lit(_P31),
        ),
    )
    hdf = docs.select("doc_id", F.explode(F.array(hashed)).alias("hs"))
    hs = F.col("hs")
    pairs = F.when(
        F.size(hs) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(hs) - 1),
            lambda i: F.struct(
                F.element_at(hs, i).alias("vh"),
                F.element_at(hs, i + 1).alias("wh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<vh:bigint,wh:bigint>>"))
    return hdf.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.vh").alias("vh"), F.col("p.wh").alias("wh")
    )


_KN_H = f"(CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT)) % {_P31}"


def _kn_ilog2_sql(x: str) -> str:
    """DuckDB twin of `_ilog2_col` — HUGEINT mantissa product."""
    f = f"(length(bin({x})) - 1)"
    p = f"(CAST(1 AS BIGINT) << {f})"
    return (
        f"({KN_SCALE} * {f} + CAST((CAST(({x}) - {p} AS HUGEINT)"
        f" * {KN_SCALE}) // {p} AS BIGINT))"
    )


_KN_ORACLE = f"""
WITH tokh AS MATERIALIZED (
  SELECT doc_id, i.i AS pos, {_KN_H} AS h
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS tks FROM documents),
       LATERAL (SELECT unnest(range(len(tks))) AS i) i,
       LATERAL (SELECT tks[CAST(i.i + 1 AS INT)] AS tk) t
),
bgs AS MATERIALIZED (
  SELECT a.doc_id, a.h AS vh, b.h AS wh
  FROM tokh a JOIN tokh b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bg AS MATERIALIZED (
  SELECT vh, wh, CAST(COUNT(*) AS BIGINT) AS c
  FROM bgs GROUP BY 1, 2
),
ctx AS MATERIALIZED (
  SELECT vh, CAST(SUM(c) AS BIGINT) AS cv,
         CAST(COUNT(*) AS BIGINT) AS n1p
  FROM bg GROUP BY 1
),
cont AS MATERIALIZED (
  SELECT wh, CAST(COUNT(*) AS BIGINT) AS n1c FROM bg GROUP BY 1
),
n11 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
scored AS (
  SELECT s.doc_id,
         CAST((4 * bg.c - 3) * n11.n + 3 * ctx.n1p * cont.n1c AS BIGINT)
           AS num,
         CAST(4 * ctx.cv * n11.n AS BIGINT) AS den
  FROM bgs s
  JOIN bg USING (vh, wh)
  JOIN ctx USING (vh)
  JOIN cont USING (wh)
  CROSS JOIN n11
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM({_kn_ilog2_sql('num')} - {_kn_ilog2_sql('den')})
              AS BIGINT) AS score_fp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       a.score_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("text_kn_logprob", oracle=_KN_ORACLE)
def text_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under an interpolated Kneser-Ney bigram
    LM estimated on the corpus itself (module contract above): per
    doc, the bigram count and the exact fixed-point log2 of its
    KN probability product — the classical-smoothing upgrade of
    `text_unigram_logprob`/`text_bigram_logprob`, and the LM class
    CCNet-style quality filters actually use.

    Plan: scan 1 builds the Heaps-bounded bigram-count relation
    (checkpointed — context, continuation, and N11 stats ALL derive
    from it, never from the corpus); scan 2 re-streams bigrams and
    joins the three stats relations (AQE broadcasts them), computes
    num/den per bigram, ilog2s distributed, and aggregates per doc;
    the docs spine left-joins so short docs surface with NULL
    score. Every shuffled row is fixed-width ints."""
    docs = table(spark, sf_dir, "documents")
    bgs = _kn_bigrams(docs)
    # checkpointed for 3 stats consumers + the join; N11 is observed
    # by the same job
    bg, obs = checkpoint(
        bgs.groupBy("vh", "wh").agg(F.count(F.lit(1)).alias("c")),
        n11=F.count(F.lit(1)),
    )
    n11 = obs.n11
    if n11 == 0:
        return docs.select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(None).cast("bigint").alias("score_fp"),
        )
    ctx = bg.groupBy("vh").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1p")
    )
    cont = bg.groupBy("wh").agg(F.count(F.lit(1)).alias("n1c"))
    scored = (
        bgs.join(bg, ["vh", "wh"])
        .join(ctx, "vh")
        .join(cont, "wh")
        .select(
            "doc_id",
            (
                (4 * F.col("c") - 3) * F.lit(n11)
                + 3 * F.col("n1p") * F.col("n1c")
            )
            .cast("bigint")
            .alias("num"),
            (4 * F.col("cv") * F.lit(n11)).cast("bigint").alias("den"),
        )
    )
    scored = _with_ilog2(scored, "num", "lnum")
    scored = _with_ilog2(scored, "den", "lden")
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.col("lnum") - F.col("lden")).cast("bigint").alias("score_fp"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias(
            "n_bigrams"
        ),
        "score_fp",
    )


# ---------------------------------------------------------------------------
# Token-distribution Shannon entropy (r8) — the information-theoretic
# quality/diversity signal (low entropy = repetitive or templated
# text; the Gopher/RefinedWeb rule family's missing member next to
# text_repetition's max-bigram share and text_ttr's type-token
# ratio). H = Σ (c_i/n)·log2(n/c_i), realized as the all-integer
# h_fp = Σ c_i·(ilog2(n) − ilog2(c_i)) reusing the overflow-safe
# distributed ilog2 above. What is EXACT is the cross-engine
# fixed-point REPLAY (the oracle reproduces every integer
# bit-for-bit); entropy_milli itself APPROXIMATES Shannon H —
# ilog2 is piecewise-linear between powers of two, so the value
# equals true H only when every count is a power of two (r9
# ADVICE reword: do not read entropy_milli as exact H).
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tc AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2
),
nn AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM tc GROUP BY 1
),
j AS (
  SELECT tc.doc_id, c, n, n_types,
         {_kn_ilog2_sql('n')} AS ln, {_kn_ilog2_sql('c')} AS lc
  FROM tc JOIN nn USING (doc_id)
),
per AS (
  SELECT doc_id,
         CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(MAX(n_types) AS BIGINT) AS n_types,
         CAST(SUM(c * (ln - lc)) AS BIGINT) AS h_fp
  FROM j GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       COALESCE(p.n_types, CAST(0 AS BIGINT)) AS n_types,
       COALESCE(p.h_fp, CAST(0 AS BIGINT)) AS h_fp,
       CASE WHEN p.n_tokens > 0
            THEN CAST((p.h_fp * 1000) // (p.n_tokens * {KN_SCALE}) AS BIGINT)
       END AS entropy_milli
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN per p USING (doc_id)
"""


@query("text_token_entropy", oracle=_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution Shannon entropy in exact fixed
    point: h_fp = Σ c_i·(ilog2(n) − ilog2(c_i)) (units 1/4096 bit),
    surfaced with the floor-milli per-token entropy — a
    single-repeated-token doc scores 0, a 100%-unique doc scores
    ~log2(n). Complements `text_repetition` (max-bigram share: local
    repetition) and `text_ttr` (type share: vocabulary breadth) with
    the full-distribution measure both collapse. Zero-token docs
    surface with NULL entropy (nothing to measure ≠ maximally
    repetitive — the `text_ppl_filter` 'empty' convention).

    Scale shape: one (doc, token)-grouped aggregate, one doc-keyed
    join+rollup of the count relation (fixed-width ints only — the
    token strings never leave the first aggregate); all arithmetic
    is the overflow-safe integer ilog2, so the value hash is exact
    cross-engine. All positive, so div == floor on both engines."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    tc = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    nn = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    j = tc.join(nn, "doc_id")
    j = _with_ilog2(j, "n", "ln")
    j = _with_ilog2(j, "c", "lc")
    per = j.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.max("n_types").cast("bigint").alias("n_types"),
        F.sum(F.col("c") * (F.col("ln") - F.col("lc")))
        .cast("bigint")
        .alias("h_fp"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0).cast("bigint")).alias("n_types"),
            F.coalesce("h_fp", F.lit(0).cast("bigint")).alias("h_fp"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(h_fp * 1000) div (n_tokens * {KN_SCALE})"),
            )
            .cast("bigint")
            .alias("entropy_milli"),
        )
    )
