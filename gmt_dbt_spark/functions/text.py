"""Text-analysis operators — SURVEY.md §2.K + training-data pipeline.

Tokenization, term frequency, lexicon sentiment, language-ID
(stopword-ratio heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and md5 document fingerprinting.
Everything is built-in `pyspark.sql.functions` (codegen'd, no Python
in the hot path); every op is oracle-checked against equivalent
DuckDB SQL. (Pipeline shape follows the EDBT 2016 Spark sentiment
pipeline in PAPERS.md.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.operators.dedup import normalize_text, tokens_col
from gmt_dbt_spark.registry import query

# Tiny polarity lexicon over the synthetic corpus vocabulary.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2,
    "slow": -2,
    "big": 1,
    "small": -1,
    "good": 2,
    "bad": -2,
    "fresh": 1,
    "stale": -1,
}

# Stopword profiles for the lang-ID heuristic.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
}

_lex_values = ", ".join(f"('{w}', {p})" for w, p in SENTIMENT_LEXICON.items())

# DuckDB twin of tokens_col: split on single space after squeezing
# runs, drop empties.
_DUCK_TOKENS = (
    "list_filter(string_split(trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g'))),"
    " ' '), t -> t <> '')"
)


@query(
    "text_tokenize",
    oracle=f"""
SELECT doc_id, unnest({_DUCK_TOKENS}) AS token
FROM documents
WHERE doc_id < 100
""",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize/normalize: lower → strip non-alnum → split."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))


@query(
    "text_tf",
    oracle=f"""
SELECT token, COUNT(*) AS tf
FROM (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents)
GROUP BY token
""",
)
def text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency: explode + count (partial agg map-side —
    the word-count plan that scales linearly)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )


@query(
    "text_sentiment",
    oracle=f"""
WITH lex(word, polarity) AS (VALUES {_lex_values}),
     tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents)
SELECT tok.doc_id,
       CAST(COALESCE(SUM(lex.polarity), 0) AS BIGINT) AS sentiment_sum,
       COUNT(lex.word) AS n_hits
FROM tok LEFT JOIN lex ON tok.token = lex.word
GROUP BY tok.doc_id
""",
)
def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment: broadcast-join tokens to an in-memory
    polarity lexicon, integer-sum per doc (exact, order-free)."""
    d = table(spark, sf_dir, "documents")
    lex = d.sparkSession.createDataFrame(
        list(SENTIMENT_LEXICON.items()), "word string, polarity int"
    )
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    return (
        tok.join(F.broadcast(lex), tok.token == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum("polarity"), F.lit(0)).cast("bigint").alias("sentiment_sum"),
            F.count("word").alias("n_hits"),
        )
    )


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    """# tokens in the stopword list (JVM-side filter on the array)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


@query(
    "text_langid",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents),
     s AS (SELECT doc_id, lang,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS en_hits,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ein'], x))) AS de_hits,
             len(list_filter(toks, x -> list_contains(['el','la','de','y','un'], x))) AS es_hits
           FROM t)
SELECT doc_id, lang,
       CASE WHEN en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
            WHEN de_hits >= es_hits THEN 'de'
            ELSE 'es' END AS pred_lang,
       CAST(en_hits + de_hits + es_hits AS BIGINT) AS stopword_hits
FROM s
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts,
    argmax with a fixed preference order (en > de > es on ties)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", tokens_col(F.col("text")).alias("toks"))
    hits = toks.select(
        "doc_id",
        "lang",
        _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]).alias("en_hits"),
        _stopword_hits(F.col("toks"), LANG_STOPWORDS["de"]).alias("de_hits"),
        _stopword_hits(F.col("toks"), LANG_STOPWORDS["es"]).alias("es_hits"),
    )
    return hits.select(
        "doc_id",
        "lang",
        F.when(
            (F.col("en_hits") >= F.col("de_hits")) & (F.col("en_hits") >= F.col("es_hits")),
            "en",
        )
        .when(F.col("de_hits") >= F.col("es_hits"), "de")
        .otherwise("es")
        .alias("pred_lang"),
        (F.col("en_hits") + F.col("de_hits") + F.col("es_hits"))
        .cast("bigint")
        .alias("stopword_hits"),
    )


@query(
    "text_quality",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS BIGINT)
         AS n_punct,
       CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x)))
            AS BIGINT) AS n_stopwords,
       (len(toks) >= 5 AND length(text) >= 30) AS passes_min_length
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: char/token counts, punctuation count,
    stopword count, and a min-length gate — the filter columns a
    pretraining pipeline thresholds on."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", "text", tokens_col(F.col("text")).alias("toks"))
    return t.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.length("text") - F.length(F.regexp_replace("text", "[^a-z0-9 ]", "")))
        .cast("bigint")
        .alias("n_punct"),
        _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]).cast("bigint").alias("n_stopwords"),
        ((F.size("toks") >= 5) & (F.length("text") >= 30)).alias("passes_min_length"),
    )


@query(
    "text_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
         AS bpe_ish_tokens
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: naive whitespace split and a BPE-ish
    pre-tokenizer regex (letters-run | digit | punct) — the cheap
    estimator for per-doc token budgets."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')))) AS fp,
       md5(text) AS fp_raw
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the normalized text (dedup
    key robust to punctuation/case) + raw-content md5."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("fp"),
        F.md5("text").alias("fp_raw"),
    )


def unigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_hapax, min_cnt, max_cnt, avg_neg_logprob)
    — the full CCNet-style unigram-LM scoring frame (see
    `text_unigram_logprob`). Exposed for callers that want the raw
    float score; the registry query projects the oracle-safe surface.
    Empty tokens are dropped on both engines (a doc whose text
    normalizes to '' contributes nothing — tokens_col drops empties
    at the source)."""
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.count()  # scalar: one job, no per-row driver work
    # NO broadcast hint on vocab (r3 review): the distinct-token
    # vocabulary grows with the corpus (Heaps' law — unbounded with
    # noisy tokens), so a forced hint is the same 100 TB OOM pattern
    # as hinting customer; AQE broadcasts it while it fits and
    # degrades to a shuffled join when it doesn't.
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
            (-F.avg(F.log(F.col("cnt") / F.lit(float(total)))))
            .alias("avg_neg_logprob"),
        )
        .withColumn("__total", F.lit(float(total)))
    )


@query(
    "text_unigram_logprob",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(regexp_replace(text,
             '[^a-zA-Z0-9 ]', ' ', 'g'))), ' '), t -> t <> '') AS tk
  FROM documents
),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM norm),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(MIN(v.cnt) AS BIGINT) AS min_cnt,
       CAST(MAX(v.cnt) AS BIGINT) AS max_cnt,
       TRUE AS bound_ok
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
HAVING COUNT(*) > 0
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score (the CCNet filtering idea):
    build a unigram LM from the corpus itself (token → count/total),
    score each document by its mean negative log-probability — high
    scores = improbable token mix = filter candidates.

    Scale shape: token counts aggregate to a vocab relation that
    AQE broadcasts into the per-token join while it fits (no forced
    hint — the vocabulary grows with the corpus per Heaps' law, so a
    hint would be the customer-dim OOM pattern at 100 TB); the
    full-corpus shuffles are the explode-groupBy pair. All
    arithmetic JVM-side (`F.log`).

    Oracle surface (r3; was rows-only): libm ln() rounding is not
    specified cross-engine, so the float score itself is not hashed.
    Instead the compared surface is the EXACT integer LM statistics
    the score is a function of — per-doc token count, corpus-hapax
    count, min/max corpus frequency (pins tokenization + vocab-join
    + count semantics bit-exactly against DuckDB) — plus `bound_ok`:
    the score lies in [ln(total/max_cnt), ln(total/min_cnt)], the
    mathematically-guaranteed envelope of a mean of per-token neg
    logprobs, which fails if the score ever stops being that mean
    (same audit-boolean pattern as the r2 sketch oracles). The raw
    score remains available via `unigram_logprob_scores`."""
    docs = table(spark, sf_dir, "documents")
    scored = unigram_logprob_scores(docs)
    eps = 1e-9
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_hapax",
        "min_cnt",
        "max_cnt",
        (
            (
                F.col("avg_neg_logprob")
                >= F.log(F.col("__total") / F.col("max_cnt")) - eps
            )
            & (
                F.col("avg_neg_logprob")
                <= F.log(F.col("__total") / F.col("min_cnt")) + eps
            )
        ).alias("bound_ok"),
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(len(tk) - 1),
                i -> tk[i+1] || ' ' || tk[i+2])) AS bg
  FROM norm WHERE len(tk) >= 2
),
bcnt AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY bg),
ccnt AS (
  SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS cc
  FROM big GROUP BY string_split(bg, ' ')[1]
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN bc.cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(MIN(bc.cb) AS BIGINT) AS min_big_cnt,
       CAST(MAX(bc.cb) AS BIGINT) AS max_big_cnt,
       CAST(MAX(cc.cc) AS BIGINT) AS max_ctx_cnt,
       TRUE AS bound_ok
FROM big b
JOIN bcnt bc USING (bg)
JOIN ccnt cc ON string_split(b.bg, ' ')[1] = cc.w1
GROUP BY b.doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (r4) — the conditional-probability
    step up from `text_unigram_logprob`, approximating the KenLM-
    perplexity filters real curation stacks run: build a corpus
    bigram model P(w₂|w₁) = c(w₁w₂)/c(w₁·), score each document by
    its mean negative conditional log-probability. High scores =
    improbable word TRANSITIONS — catches scrambled/boilerplate-
    stitched text that a unigram model (which only sees the word mix)
    passes.

    Scale shape: one pass builds the bigram stream scan-side
    (`transform(sequence(...))` over the token array — no shuffle);
    the bigram-count and context-count relations aggregate from it
    and AQE broadcasts them into the scoring join while they fit (no
    forced hint — bigram vocabulary grows faster than Heaps' law, so
    a hint would be the customer-dim OOM pattern at 100 TB).

    Oracle surface (the house libm pattern): ln() rounding is engine-
    specific, so the hashed surface is the EXACT integer LM evidence
    — per-doc bigram count, corpus-hapax bigrams, min/max corpus
    bigram frequency, max context frequency — plus `bound_ok`: every
    per-bigram neg-logprob is ln(c(w₁·)/c(w₁w₂)) with
    c(w₁w₂) ≤ c(w₁·) by construction, so the mean lies in
    [0, ln(max_ctx_cnt)], which fails if the score ever stops being
    that mean."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens_col(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    big = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1),"
                " i -> concat_ws(' ', tk[i-1], tk[i]))"
            )
        ).alias("bg"),
    )
    return bigram_lm_evidence(big, "n_bigrams")


def bigram_lm_evidence(big: DataFrame, n_col: str) -> DataFrame:
    """The exact integer evidence of a bigram LM over a ``(doc_id,
    bg)`` stream, ``bg`` = ``"w1 w2"``: per doc the bigram count (as
    ``n_col``), corpus-hapax bigrams, min/max corpus bigram count, max
    context count, and ``bound_ok`` — the mean neg-logprob
    ln(c(w1·)/c(w1w2)) lies in [0, ln(max_ctx_cnt)] since c(w1w2) ≤
    c(w1·). The bigram- and context-count relations aggregate from
    the stream and join back (no broadcast hint: AQE broadcasts them
    while they fit)."""
    bcnt = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    ccnt = (
        big.select(F.split("bg", " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    scored = (
        big.join(bcnt, "bg")
        .join(ccnt, F.split(big["bg"], " ").getItem(0) == ccnt["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.when(F.col("cb") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            F.min("cb").alias("min_big_cnt"),
            F.max("cb").alias("max_big_cnt"),
            F.max("cc").alias("max_ctx_cnt"),
            F.avg(F.log(F.col("cc") / F.col("cb"))).alias("__score"),
        )
    )
    eps = 1e-9
    return scored.select(
        "doc_id",
        n_col,
        "n_hapax",
        "min_big_cnt",
        "max_big_cnt",
        "max_ctx_cnt",
        (
            (F.col("__score") >= -eps)
            & (F.col("__score") <= F.log(F.col("max_ctx_cnt")) + eps)
        ).alias("bound_ok"),
    )


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com call 555-000-'
              || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS text
  FROM documents WHERE doc_id < 20
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}'))
         + len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_pii,
       md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM seeded
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the privacy pass every pretraining pipeline
    runs before anything else): regex redaction of emails/phones,
    entirely in JVM `regexp_replace` (no Python, codegen'd). The
    corpus is seeded with deterministic synthetic PII so the scrub
    has real targets; output = per-doc redaction count + scrubbed
    content hash, both reproduced by the oracle. At 100 TB this is a
    pure map stage — zero shuffle, bytes never leave the executor."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-000-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
        _PII_PHONE,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        (
            F.regexp_count(F.col("text"), F.lit(_PII_EMAIL))
            + F.regexp_count(F.col("text"), F.lit(_PII_PHONE))
        ).alias("n_pii"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@query(
    "text_ngram_tf",
    oracle=f"""
WITH t AS (
  SELECT {_DUCK_TOKENS} AS toks FROM documents WHERE doc_id < 200
),
b AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram HAVING COUNT(*) >= 2
""",
)
def text_ngram_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram term frequency — the n-gram LM / contamination-check
    building block. Shape chosen for scale: explode tokens ONCE
    (each token pays its regex once) and pair neighbours with a
    lead() window keyed by doc — versus inlining `tokens[i]` in an
    array transform, which re-evaluates the whole tokenize
    expression per element (see dedup.shingle_rows). One
    shuffle by doc_id for the window, then the count's own shuffle
    on the bigram key spreads hot bigrams across reducers."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = d.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = tok.select(
        F.concat_ws(" ", "token", F.lead("token").over(w)).alias("bigram"),
        F.lead("token").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return (
        pairs.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )


@query(
    "text_boilerplate",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
),
w AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks) // 4),
                               i -> array_to_string(toks[4*i+1 : 4*i+4], ' '))) AS win_text
  FROM t
)
SELECT win_text, COUNT(DISTINCT doc_id) AS n_docs
FROM w GROUP BY win_text HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the RefinedWeb/C4
    repeated-paragraph filter, adapted to the period-free corpus):
    non-overlapping 4-token windows, counted by how many DISTINCT
    documents contain them — a window shared by ≥2 docs is
    boilerplate. Non-overlapping windows bound the blow-up at 1× the
    token count (vs n× for stride-1 shingles); the heavy lifting is
    two counts keyed by window text, both partial-aggregable. Window
    reassembly sorts collected (pos, token) structs so shuffle
    arrival order can't scramble the text."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "token")
    )
    wins = (
        tok.groupBy("doc_id", F.floor(F.col("pos") / 4).alias("win"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("win_text"),
            F.count("*").alias("n_tok"),
        )
        .filter(F.col("n_tok") == 4)
    )
    return (
        wins.groupBy("win_text")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "text_tfidf",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
  WHERE len({_DUCK_TOKENS}) > 0
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         COUNT(*) OVER (PARTITION BY tf.token) AS df,
         (CAST(tf.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE))
           / CAST(COUNT(*) OVER (PARTITION BY tf.token) AS DOUBLE) AS tfidf_ratio
  FROM tf CROSS JOIN nd
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_ratio DESC, token) AS rk
  FROM scored WHERE doc_id % 50 = 0
)
SELECT doc_id, token, tf, df, tfidf_ratio, rk
FROM ranked WHERE rk <= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term salience, log-free: weight = tf × n_docs ∕ df (a
    monotone transform of classic idf — identical ranking, but exact
    double division instead of libm `log`, whose last-ulp rounding
    is engine-specific and would break the value hash).

    Plan discipline: the tokenizer explode runs ONCE — tf is one
    (doc, token) aggregate; df is a COUNT(*) window over tf's token
    partition (tf has exactly one row per (doc, token), so the
    window count IS the document frequency — no second explode, no
    df-table rejoin); n_docs comes from a token-free scan of the
    documents table. One explode + two shuffles total, vs the naive
    three-explode form."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n_docs = d.filter(F.size(tokens_col(F.col("text"))) > 0).select(
        F.count("*").alias("n_docs")
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("token")
    scored = (
        tf.crossJoin(F.broadcast(n_docs))
        .withColumn("df", F.count("*").over(wt))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (
                (F.col("tf").cast("double") * F.col("n_docs").cast("double"))
                / F.col("df").cast("double")
            ).alias("tfidf_ratio"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ratio"), F.asc("token"))
    return (
        scored.filter(F.col("doc_id") % 50 == 0)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf_ratio", "rk")
    )


@query(
    "text_gopher_rules",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0)
                  AS BIGINT) AS sum_word_len,
             CAST(len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter(toks,
                  w -> list_contains(['the','a','of','and','to'], w)))
               AS BIGINT) AS n_stopwords
      FROM t)
SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords,
       (n_words BETWEEN 5 AND 100000) AS word_count_ok,
       (sum_word_len BETWEEN 2 * n_words AND 10 * n_words) AS mean_word_len_ok,
       (5 * n_alpha_words >= 4 * n_words) AS alpha_ratio_ok,
       (n_stopwords >= 1) AS stopword_ok,
       ((n_words BETWEEN 5 AND 100000)
        AND (sum_word_len BETWEEN 2 * n_words AND 10 * n_words)
        AND (5 * n_alpha_words >= 4 * n_words)
        AND n_stopwords >= 1) AS keep
FROM m
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, public
    paper): word-count window, mean-word-length window, alphabetic
    -word ratio, and stopword presence, composed into one `keep`
    verdict — the standard pretraining-corpus filter pass.

    All comparisons are INTEGER cross-multiplications (``sum_len
    BETWEEN 2n AND 10n`` instead of ``2 <= sum_len/n <= 10``) so the
    verdict hashes bit-exactly across engines — no float division
    anywhere. Scan-side lambda algebra only: at 100 TB this runs as a
    single codegen'd projection, zero shuffles, and the `keep` column
    feeds a filter that prunes before any downstream shuffle.

    Tokens are EMPTY-FILTERED to match the oracle's `t <> ''` filter:
    Spark's split on an all-punctuation doc yields [''] (n_words=1)
    while DuckDB's filtered list is empty (n_words=0) — the filtered
    form agrees at 0, and the empty-list length sum is 0 on both
    sides (DuckDB's NULL list_sum is COALESCEd)."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        tokens_col(F.col("text")).alias("toks"),
    )
    m = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform("toks", lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("sum_word_len"),
        F.size(F.filter("toks", lambda w: w.rlike("^[a-z]+$")))
        .cast("bigint")
        .alias("n_alpha_words"),
        F.size(F.filter("toks", lambda w: w.isin("the", "a", "of", "and", "to")))
        .cast("bigint")
        .alias("n_stopwords"),
    )
    word_count_ok = F.col("n_words").between(5, 100000)
    mean_len_ok = F.col("sum_word_len").between(
        2 * F.col("n_words"), 10 * F.col("n_words")
    )
    alpha_ok = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    stop_ok = F.col("n_stopwords") >= 1
    return m.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_alpha_words",
        "n_stopwords",
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_word_len_ok"),
        alpha_ok.alias("alpha_ratio_ok"),
        stop_ok.alias("stopword_ok"),
        (word_count_ok & mean_len_ok & alpha_ok & stop_ok).alias("keep"),
    )


@query(
    "text_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id, t[s.i + 1] || ' ' || t[s.i + 2] AS bigram
  FROM toks, LATERAL (SELECT unnest(range(len(t) - 1)) AS i) s
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(MAX(c) AS BIGINT) AS top_count,
       (MAX(c) * 10 <= SUM(c) * 3) AS rep_ok
FROM cnt
GROUP BY doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher/MassiveText
    "repetition" rule family): the most frequent word bigram must not
    exceed 30% of all bigrams in the doc — boilerplate and
    generation-loop text fails this long before exact dedup sees it.

    Bigrams come from `zip_with` over two shifted slices of the token
    array (one codegen'd expression, no self-join, no UDF); the only
    shuffle is the (doc_id, bigram)-keyed count, whose cardinality is
    bounded by total tokens. The 30% threshold is an integer
    cross-multiplication (`top*10 <= total*3`) — hash-exact."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    bigram = F.zip_with(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    cnt = (
        t.select("doc_id", F.explode(bigram).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_count"),
        (F.max("c") * 10 <= F.sum("c") * 3).alias("rep_ok"),
    )


@query(
    "text_char_stats",
    oracle="""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_total,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g'))    AS n_digit,
         length(regexp_replace(text, '[^ ]', '', 'g'))      AS n_space,
         length(regexp_replace(text, '[^aeiouAEIOU]', '', 'g')) AS n_vowel
  FROM documents
)
SELECT doc_id, n_total, n_alpha, n_digit, n_space, n_vowel,
       CASE WHEN n_total > 0 THEN (n_alpha * 100) // n_total ELSE NULL END
         AS alpha_pct,
       CASE WHEN n_total > 0 THEN (n_vowel * 100) // n_total ELSE NULL END
         AS vowel_pct
FROM s
""",
)
def text_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class quality statistics — the entropy-free half of
    a quality scorer: alphabetic/digit/space/vowel densities as exact
    integer percentages. Random bytes, base64 blobs, and
    number-tables all separate from prose on alpha_pct/vowel_pct
    alone, with zero float ops (log-entropy scoring drifts across
    libm implementations; integer cross-ratios hash exactly).

    Everything is scan-side codegen regex — zero shuffles, zero
    joins; at 100 TB this runs at parquet-scan speed and its columns
    prune to (doc_id, text). Integer division is `div`//`//` on both
    engines (floor on non-negatives), CASE-guarded for empty docs."""
    d = table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.length("text").alias("n_total"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.length(F.regexp_replace("text", "[^ ]", "")).alias("n_space"),
        F.length(F.regexp_replace("text", "[^aeiouAEIOU]", "")).alias("n_vowel"),
    )
    pct = lambda n: F.when(  # noqa: E731
        F.col("n_total") > 0, F.expr(f"({n} * 100) div n_total")
    ).otherwise(F.lit(None).cast("long"))
    return counts.select(
        "doc_id",
        "n_total",
        "n_alpha",
        "n_digit",
        "n_space",
        "n_vowel",
        pct("n_alpha").alias("alpha_pct"),
        pct("n_vowel").alias("vowel_pct"),
    )


_BM25_TERMS = ("vector", "hash", "stream")


@query(
    "text_bm25",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
tkd AS (
  SELECT doc_id, tk, len(tk) AS dl FROM norm WHERE len(tk) >= 1
),
corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_len
  FROM tkd
),
hits AS (
  SELECT doc_id, dl, t
  FROM (SELECT doc_id, dl, unnest(tk) AS t FROM tkd)
  WHERE t IN ('vector', 'hash', 'stream')
),
dfs AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN t = 'vector' THEN doc_id END) AS BIGINT)
      AS df_vector,
    CAST(COUNT(DISTINCT CASE WHEN t = 'hash' THEN doc_id END) AS BIGINT)
      AS df_hash,
    CAST(COUNT(DISTINCT CASE WHEN t = 'stream' THEN doc_id END) AS BIGINT)
      AS df_stream
  FROM hits
),
per_doc AS (
  SELECT doc_id,
         CAST(MAX(dl) AS BIGINT) AS dl,
         CAST(SUM(CASE WHEN t = 'vector' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_vector,
         CAST(SUM(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_hash,
         CAST(SUM(CASE WHEN t = 'stream' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_stream
  FROM hits GROUP BY doc_id
)
SELECT doc_id, dl, tf_vector, tf_hash, tf_stream,
       CAST((tf_vector > 0)::INT + (tf_hash > 0)::INT
            + (tf_stream > 0)::INT AS INTEGER) AS n_terms,
       df_vector, df_hash, df_stream, n_docs, total_len,
       TRUE AS bound_ok
FROM per_doc CROSS JOIN corpus CROSS JOIN dfs
""",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 retrieval scoring (k₁ = 1.2, b = 0.75) over the
    query terms {vector, hash, stream} — the ranked-retrieval step up
    from `text_search_topk`'s tf-only counting, and the scorer a
    posting-list serving layout (`sink_posting_lists`) would back.

    score(d) = Σ_t ln(1 + (N−df+½)/(df+½)) · tf(k₁+1) /
                    (tf + k₁(1−b+b·dl/avgdl))

    Scale shape (r10 optimization pass): ONE tokenize pass. Each doc
    reduces scan-side to the 4-int frame (doc_id, dl, tf per term) —
    tf via `size(filter(tk, t = term))`, a JVM higher-order function,
    so the token array never explodes and no (doc, token) row ever
    shuffles. That ~40 B/doc narrow frame is localCheckpoint'd and
    serves all three consumers (corpus stats, per-term document
    frequencies, output), replacing the r4 shape's SECOND full
    corpus scan + re-tokenization (guide §2.3/§2.4: the length stats
    only need dl, which the hit pass already computed — re-deriving
    it from text paid the regex tokenizer twice per doc; at 100 TB
    materializing 40 B/doc is orders of magnitude cheaper than a
    second 10 KB/doc scan). The corpus stats and dfs stay one-row
    aggregates attached by broadcast — the bounded-crossJoin pattern
    as the dedup audit stats. No data-scale join anywhere.

    Oracle surface (the house libm pattern): the idf log is engine-
    specific, so the hashed surface is the COMPLETE exact-integer
    input of the score — (tf per term, dl) per doc and
    (df per term, N, total_len) corpus constants pinned on every row
    — plus `bound_ok`: each term's tf-saturation weight w_t is an
    exact rational (44·tf·L) / (20·tf·L + 6·L + 18·dl·N) (k₁, b
    cleared of denominators), and x/(1+x) < ln(1+x) < x bounds every
    idf, so the score must lie in (Σ w_t·x_t/(1+x_t), Σ w_t·x_t) —
    the check fails if the score ever stops being BM25 of the hashed
    evidence. (The float score is computed in-plan for the check;
    rank consumers read it by dropping the final projection.)"""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tkd = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("tk")
    ).filter(F.size("tk") >= 1)
    # ONE tokenize pass: per-doc length + per-term tf computed
    # scan-side on the token array (higher-order `filter`, no
    # Generate, no (doc, token) shuffle), checkpointed as the
    # ~40 B/doc narrow frame every downstream consumer reads.
    def _tf(term):
        # NB: the term must be captured by closure, NOT as a lambda
        # default arg — pyspark binds EVERY named lambda parameter to
        # a higher-order-function variable (a 2-arg filter lambda
        # receives (element, index)), which would turn the term into
        # the array index.
        return F.size(F.filter("tk", lambda t: t == F.lit(term)))

    narrow = tkd.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("dl"),
        *[_tf(term).cast("bigint").alias(f"tf_{term}") for term in _BM25_TERMS],
    ).localCheckpoint(eager=True)
    corpus = narrow.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    # per_doc = docs containing a query term; a cheap filter over the
    # checkpointed narrow frame (recomputing it per consumer costs
    # nothing — the tokenizer already ran, once, at checkpoint time)
    hit_pred = None
    for term in _BM25_TERMS:
        p = F.col(f"tf_{term}") > 0
        hit_pred = p if hit_pred is None else (hit_pred | p)
    per_doc = narrow.filter(hit_pred)
    # df_t == number of per_doc rows with tf_t > 0 (each doc appears
    # once), off the checkpointed frame — no extra corpus pass
    dfs = per_doc.agg(
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("bigint")).alias(f"df_{term}")
            for term in _BM25_TERMS
        ]
    )
    out = per_doc.crossJoin(F.broadcast(corpus)).crossJoin(F.broadcast(dfs))

    def w(term):  # exact-rational tf-saturation weight, as double
        tf, l, n = F.col(f"tf_{term}"), F.col("total_len"), F.col("n_docs")
        num = 44 * tf * l
        den = 20 * tf * l + 6 * l + 18 * F.col("dl") * n
        return num / den

    def x(term):  # exact-rational idf argument (2N−2df+1)/(2df+1)
        df = F.col(f"df_{term}")
        return (2 * F.col("n_docs") - 2 * df + 1) / (2 * df + 1)

    score = sum(
        F.when(F.col(f"tf_{t}") > 0, w(t) * F.log(F.lit(1.0) + x(t))).otherwise(
            F.lit(0.0)
        )
        for t in _BM25_TERMS
    )
    lower = sum(
        F.when(
            F.col(f"tf_{t}") > 0, w(t) * x(t) / (F.lit(1.0) + x(t))
        ).otherwise(F.lit(0.0))
        for t in _BM25_TERMS
    )
    upper = sum(
        F.when(F.col(f"tf_{t}") > 0, w(t) * x(t)).otherwise(F.lit(0.0))
        for t in _BM25_TERMS
    )
    eps = 1e-9
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        (
            sum((F.col(f"tf_{t}") > 0).cast("int") for t in _BM25_TERMS)
        ).alias("n_terms"),
        *[f"df_{t}" for t in _BM25_TERMS],
        "n_docs",
        "total_len",
        (
            (score >= lower * (1 - eps) - eps)
            & (score <= upper * (1 + eps) + eps)
        ).alias("bound_ok"),
    )


@query(
    "text_search_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents WHERE text IS NOT NULL
),
hits AS (
  SELECT doc_id,
         COUNT(*) AS score,
         COUNT(DISTINCT t) AS n_terms
  FROM toks WHERE t IN ('vector', 'hash', 'stream')
  GROUP BY doc_id
)
SELECT doc_id, n_terms, score
FROM hits
WHERE n_terms >= 2
ORDER BY n_terms DESC, score DESC, doc_id
LIMIT 10
""",
)
def text_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean term retrieval + top-k ranking — the SEARCH() /
    inverted-index primitive, relationally: documents matching >= 2
    of the query terms {vector, hash, stream}, ranked by (distinct
    terms matched, total occurrences), top 10. Scoring is pure
    integer counting (deliberately tf-only — BM25's log-idf term is
    libm and engine-specific; the idf FILTERING effect comes from the
    multi-term AND-ish gate instead).

    Scale shape: the token explode filters to query terms IMMEDIATELY
    (the IN prunes inside the Generate stage, so only hit rows — a
    tiny fraction of the token stream — reach the per-doc aggregate);
    the final global top-10 is TakeOrderedAndProject (per-partition
    heads merged on the driver, no global sort). At index-serving
    scale the same query runs against a posting-list table
    (token-partitioned sink) — identical aggregate shape."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("t"),
    ).filter(F.col("t").isin("vector", "hash", "stream"))
    hits = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.countDistinct("t").alias("n_terms"),
    )
    return (
        hits.filter(F.col("n_terms") >= 2)
        .select("doc_id", "n_terms", "score")
        .orderBy(F.desc("n_terms"), F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


_NB_ORACLE = f"""
WITH lab AS (
  SELECT doc_id, lang = 'en' AS is_en, text FROM documents
),
tok AS (
  SELECT doc_id, is_en, unnest({_DUCK_TOKENS}) AS token FROM lab
),
vocab AS (
  SELECT token,
         CAST(count_if(is_en) AS BIGINT) AS c_pos,
         CAST(count_if(NOT is_en) AS BIGINT) AS c_neg
  FROM tok GROUP BY token
),
stats AS (
  SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
scored AS (
  -- HUGEINT products (internal only, never an output column): plain
  -- BIGINT*BIGINT overflows DuckDB past ~3e9 corpus tokens, exactly
  -- the scale the Spark side's DECIMAL(18)^2 survives (r5 review)
  SELECT t.doc_id, t.is_en, vb.c_pos, vb.c_neg,
         CASE WHEN CAST(vb.c_pos + 1 AS HUGEINT) * (s.n_neg + s.v)
                 > CAST(vb.c_neg + 1 AS HUGEINT) * (s.n_pos + s.v) THEN 1
              WHEN CAST(vb.c_pos + 1 AS HUGEINT) * (s.n_neg + s.v)
                 < CAST(vb.c_neg + 1 AS HUGEINT) * (s.n_pos + s.v) THEN -1
              ELSE 0 END AS vote
  FROM tok t JOIN vocab vb USING (token) CROSS JOIN stats s
)
SELECT doc_id, is_en AS label_pos,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(count_if(vote = 1) AS BIGINT) AS votes_pos,
       CAST(count_if(vote = -1) AS BIGINT) AS votes_neg,
       CAST(SUM(c_pos) AS BIGINT) AS evidence_pos,
       CAST(SUM(c_neg) AS BIGINT) AS evidence_neg,
       count_if(vote = 1) > count_if(vote = -1) AS pred_pos,
       (count_if(vote = 1) > count_if(vote = -1)) = is_en AS correct
FROM scored
GROUP BY doc_id, is_en
"""


@query("text_nb_classifier", oracle=_NB_ORACLE)
def text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality/language classifier — the fastText/CCNet
    filter shape (weak labels → token model → score every doc) as a
    two-stage Spark plan, with both training AND inference value-
    hashed end-to-end.

    Train: weak label = (lang = 'en'); per-token class counts via one
    explode+groupBy (the model IS a relation: token → c_pos, c_neg),
    corpus totals as a one-row aggregate over the vocabulary. The
    trained vocab is localCheckpoint'd: it is consumed twice (totals
    + the scoring join) and Heaps-law-sublinear in the corpus, the
    same bound as unigram_logprob's vocabulary.

    Infer: per-token Bernoulli-NB vote with add-one smoothing. The
    per-token decision  P(tok|pos)/P(tok|neg) > 1  ⟺
    (c_pos+1)·(n_neg+V) > (c_neg+1)·(n_pos+V) — an EXACT integer
    cross-multiplication, no logarithm anywhere (the same
    libm-avoidance as text_bm25's idf envelope; log-weighted NB and
    vote-count NB agree on every per-token SIGN, the votes surface
    simply counts them). Products ride DECIMAL(18)×DECIMAL(18) —
    exact to 1e37, safe past 10^13 corpus tokens where BIGINT×BIGINT
    would overflow. Prediction = majority vote.

    `correct` is the CALIBRATION AUDIT — the step production skips
    at its peril: it measures whether the weak label is LEARNABLE
    from tokens before you filter 100 TB with the trained model. On
    this synthetic fixture it honestly reports ≈ the majority-class
    rate: every lang draws from the SAME 31-token vocabulary
    (verified with a per-lang distinct-token count), so lang carries
    zero lexical signal and a faithful learner MUST sit near chance —
    a fastText-style filter trained on these labels would be noise,
    and this surface says so BEFORE the filtering run.
    tests/test_llm_ops.py::test_nb_classifier_learns_planted_signal
    pins the other half: on a corpus with real lexical signal the
    same plan reaches accuracy 1.0.

    Scale shape: documents is scanned exactly twice (once inside the
    vocab checkpoint, once for scoring — the text_bm25 funnel shape,
    plan-guarded); the scoring join shuffles on the token key with
    AQE free to broadcast the vocab while it fits (no forced hint —
    Heaps' law grows it with the corpus, the r2 customer-dim
    lesson); everything else is codegen built-ins, zero Python.
    Docs whose text normalizes to zero tokens carry no vote rows and
    drop out on both engines (inner-join semantics, stated)."""
    docs = table(spark, sf_dir, "documents")
    lab = docs.select(
        "doc_id", (F.col("lang") == "en").alias("is_en"), "text"
    )
    tok_train = lab.select(
        "is_en", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    vocab = (
        tok_train.groupBy("token")
        .agg(
            F.count_if(F.col("is_en")).alias("c_pos"),
            F.count_if(~F.col("is_en")).alias("c_neg"),
        )
        .localCheckpoint(eager=True)
    )
    stats = vocab.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    tok_score = lab.select(
        "doc_id", "is_en", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    dec = "decimal(18,0)"
    lhs = (F.col("c_pos") + 1).cast(dec) * (F.col("n_neg") + F.col("v")).cast(dec)
    rhs = (F.col("c_neg") + 1).cast(dec) * (F.col("n_pos") + F.col("v")).cast(dec)
    vote = F.when(lhs > rhs, 1).when(lhs < rhs, -1).otherwise(0)
    scored = (
        tok_score.join(vocab, "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "is_en", "c_pos", "c_neg", vote.alias("vote"))
    )
    agg = scored.groupBy("doc_id", "is_en").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.count_if(F.col("vote") == 1).alias("votes_pos"),
        F.count_if(F.col("vote") == -1).alias("votes_neg"),
        F.sum("c_pos").alias("evidence_pos"),
        F.sum("c_neg").alias("evidence_neg"),
    )
    return agg.select(
        "doc_id",
        F.col("is_en").alias("label_pos"),
        "n_tok",
        "votes_pos",
        "votes_neg",
        "evidence_pos",
        "evidence_neg",
        (F.col("votes_pos") > F.col("votes_neg")).alias("pred_pos"),
        ((F.col("votes_pos") > F.col("votes_neg")) == F.col("is_en")).alias(
            "correct"
        ),
    )


_READABILITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len({_DUCK_TOKENS}) AS n_words,
         len(regexp_extract_all(
             trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g'))),
             '[aeiou]+')) AS n_vowel_groups
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT *,
         (n_sentences > 3000000 OR n_words > 3000000
          OR n_vowel_groups > 3000000) AS oversized
  FROM t
)
SELECT doc_id,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_vowel_groups AS BIGINT) AS n_vowel_groups,
       CASE WHEN oversized THEN NULL
            ELSE CAST(206835 * n_sentences * n_words
                      - 1015 * n_words * n_words
                      - 84600 * n_vowel_groups * n_sentences AS BIGINT)
       END AS flesch_milli_num,
       CASE
         WHEN oversized THEN 'oversized'
         WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
              - 84600 * n_vowel_groups * n_sentences
              >= 90000 * n_sentences * n_words THEN 'very_easy'
         WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
              - 84600 * n_vowel_groups * n_sentences
              >= 60000 * n_sentences * n_words THEN 'plain'
         WHEN 206835 * n_sentences * n_words - 1015 * n_words * n_words
              - 84600 * n_vowel_groups * n_sentences
              >= 30000 * n_sentences * n_words THEN 'difficult'
         ELSE 'very_difficult'
       END AS band
FROM g WHERE n_words >= 1
"""


@query("text_readability", oracle=_READABILITY_ORACLE)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the classic readability quality
    feature (curation pipelines band on it before the expensive
    model-based filters). Inputs are the standard heuristics, all
    codegen regex counts on the scan: sentences = runs of [.!?] in
    the RAW text (min 1 — an unpunctuated doc is one sentence),
    words = the house tokenizer, syllables ≈ vowel groups in the
    normalized text.

    Flesch = 206.835 − 1.015·(W/S) − 84.6·(V/W) involves two float
    divisions — instead the surface is EXACT: multiplying through by
    the positive S·W gives flesch_milli_num = 206835·S·W − 1015·W² −
    84600·V·S (the score numerator in milli-units; the decimal
    constants ×1000 are exact integers), and each band threshold T
    becomes the integer comparison num ≥ 1000·T·S·W. No division, no
    libm, bit-identical on any engine. Zero-token docs drop on both
    engines (the family rule).

    Overflow guard (r5 ADVICE): the S·W cross terms leave int64 for
    pathological inputs (Spark non-ANSI silently wraps, DuckDB
    raises — a cross-engine divergence). Docs with S, W, or vowel
    groups above 3·10⁶ are banded 'oversized' with a NULL numerator,
    IDENTICALLY on both engines, and the arithmetic is guarded behind
    that branch. The cap keeps every term provably in range: worst is
    206835·(3·10⁶)² ≈ 1.9·10¹⁸ and the three-term sum < 2.7·10¹⁸ <
    2⁶³−1 ≈ 9.2·10¹⁸. A 3M-word 'document' is a crawl artifact, not
    prose — surfacing it as its own band beats silently misbanding it.

    Scale shape: pure scan-side projection — three regex counts and
    integer arithmetic inside whole-stage codegen, zero shuffles,
    zero joins."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = normalize_text(F.col("text"))
    s = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("bigint")
    w = F.size(tokens_col(F.col("text"))).cast("bigint")
    v = F.size(
        F.regexp_extract_all(norm, F.lit(r"[aeiou]+"), F.lit(0))
    ).cast("bigint")
    cap = F.lit(3_000_000)
    oversized = (s > cap) | (w > cap) | (v > cap)
    num_raw = (
        F.lit(206835) * s * w - F.lit(1015) * w * w - F.lit(84600) * v * s
    )
    num = F.when(oversized, F.lit(None).cast("bigint")).otherwise(num_raw)
    band = (
        F.when(oversized, "oversized")
        .when(num_raw >= F.lit(90000) * s * w, "very_easy")
        .when(num_raw >= F.lit(60000) * s * w, "plain")
        .when(num_raw >= F.lit(30000) * s * w, "difficult")
        .otherwise("very_difficult")
    )
    return (
        docs.select(
            "doc_id",
            s.alias("n_sentences"),
            w.alias("n_words"),
            v.alias("n_vowel_groups"),
            num.alias("flesch_milli_num"),
            band.alias("band"),
        )
        .filter(F.col("n_words") >= 1)
    )


_TTR_ORACLE = f"""
WITH t0 AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
tok AS (
  SELECT doc_id,
         (CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) % 2147483647 AS h
  FROM (SELECT doc_id, unnest(tk) AS t FROM t0)
),
c AS (SELECT doc_id, h, COUNT(*) AS c FROM tok GROUP BY doc_id, h),
s AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       CASE WHEN n_types * 10 >= n_tokens * 8 THEN 'diverse'
            WHEN n_types * 10 >= n_tokens * 5 THEN 'normal'
            WHEN n_types * 10 >= n_tokens * 3 THEN 'repetitive'
            ELSE 'degenerate' END AS band
FROM s
"""


@query("text_ttr", oracle=_TTR_ORACLE)
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity (type-token ratio + hapax count) — the
    MassiveText 'fraction of unique words' rule, the repetition
    signal `text_gopher_rules` (windows/ratios) and `text_repetition`
    (top-bigram share) both miss: a doc cycling a 10-word vocabulary
    passes both but craters here. Bands are integer
    cross-multiplications on TTR = types/tokens (≥0.8 diverse,
    ≥0.5 normal, ≥0.3 repetitive, else degenerate) — no division.

    Scale shape: tokens leave the scan as 31-bit md5-derived hashes
    (`shingle_hash` — the engine-neutral family the whole dedup stack
    replays), so both shuffles — the (doc_id, h) type-count and the
    per-doc rollup — carry fixed-width integers, never strings.
    Hash collisions merge two types WITHIN one doc (~n²/2³¹ per doc,
    zero at any sane doc length); both engines hash identically, so
    parity is exact regardless. Zero-token docs drop on both engines
    (no rows survive the explode — the family rule)."""
    from gmt_dbt_spark.operators.dedup import shingle_hash

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("t"))
    c = (
        tok.select("doc_id", shingle_hash("t").alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = c.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count_if(F.col("c") == 1).alias("n_hapax"),
    )
    band = (
        F.when(F.col("n_types") * 10 >= F.col("n_tokens") * 8, "diverse")
        .when(F.col("n_types") * 10 >= F.col("n_tokens") * 5, "normal")
        .when(F.col("n_types") * 10 >= F.col("n_tokens") * 3, "repetitive")
        .otherwise("degenerate")
    )
    return s.select(
        "doc_id", "n_tokens", "n_types", "n_hapax", band.alias("band")
    )


RARE_MAX_FREQ = 2  # corpus frequency ≤ this ⇒ a "rare" token

_RARE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS t
  FROM documents WHERE text IS NOT NULL
),
freq AS (SELECT t, COUNT(*) AS cf FROM tok GROUP BY t),
j AS (SELECT tok.doc_id, freq.cf FROM tok JOIN freq USING (t)),
s AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (WHERE cf <= {RARE_MAX_FREQ}) AS BIGINT)
           AS n_rare
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_rare,
       CASE WHEN n_rare * 2 > n_tokens THEN 'noisy'
            WHEN n_rare * 10 > n_tokens THEN 'unusual'
            ELSE 'common' END AS band
FROM s
"""


@query("text_rare_token_ratio", oracle=_RARE_ORACLE)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density — the CCNet-family noise signal the other
    quality gates miss: OCR garbage, hash-like identifiers, and
    mojibake are built from tokens the corpus has (almost) never seen,
    so a doc whose token mass is dominated by corpus-rare tokens
    (frequency ≤ RARE_MAX_FREQ) is flagged long before a trained
    model scores it. Bands by integer cross-multiplication on the
    rare fraction (> 1/2 noisy, > 1/10 unusual) — no division.

    Plan shape: TWO passes over the token stream — corpus frequencies
    (Heaps-bounded vocab aggregate) and the per-doc rollup of the
    stream joined back to that vocab; AQE owns the join strategy
    (broadcast while the vocab fits — the text_nb_classifier rule).
    Counting per-OCCURRENCE (not per-type) is deliberate: a 1000-token
    doc of one rare token repeated is pure noise and must band as
    such. The corpus-frequency model makes this a RELATIVE gate: the
    same doc can be 'noisy' in a clean corpus and 'common' in a crawl
    of its own domain — exactly the CCNet behavior."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cf"))
    s = (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("cf") <= RARE_MAX_FREQ).alias("n_rare"),
        )
    )
    band = (
        F.when(F.col("n_rare") * 2 > F.col("n_tokens"), "noisy")
        .when(F.col("n_rare") * 10 > F.col("n_tokens"), "unusual")
        .otherwise("common")
    )
    return s.select("doc_id", "n_tokens", "n_rare", band.alias("band"))


# Blocklist gate (the C4 recipe's other text filter: Raffel et al.
# 2020 §2.2 dropped any page containing a word from the "List of
# Dirty, Naughty, Obscene or Otherwise Bad Words"). The list below is
# a frozen 3-word STAND-IN (the fixture vocabulary is synthetic and
# the real list is a drop-in constant swap — the MECHANISM is the
# op): 'dup' occurs in the fixture (in-corpus positives), the other
# two are exercised by planted tests.
BADWORDS = ("dup", "awful", "horrible")


def sql_str_list(words) -> str:
    """DuckDB list literal from Python strings, quote-safe (the
    production blocklists contain apostrophe entries — the documented
    drop-in swap must not produce malformed oracle SQL)."""
    quoted = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return "[" + quoted + "]"


_BADWORDS_SQL = sql_str_list(BADWORDS)


def _badwords_cols(tk: Column) -> dict:
    """The blocklist-gate columns as pure functions of the
    MATERIALIZED token-array column — the single implementation
    shared by `text_badwords_filter` and `pipeline_c4_reproduce`."""
    bad = F.array(*[F.lit(w) for w in BADWORDS])
    n_bad = F.size(F.filter(tk, lambda x: F.array_contains(bad, x)))
    return {
        "n_tokens": F.size(tk).cast("bigint"),
        "n_bad": n_bad.cast("bigint"),
        "keep": (n_bad == 0) & (F.size(tk) > 0),
    }


@query(
    "text_badwords_filter",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         {_DUCK_TOKENS} AS tk
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, x -> list_contains({_BADWORDS_SQL}, x)))
            AS BIGINT) AS n_bad,
       (len(list_filter(tk, x -> list_contains({_BADWORDS_SQL}, x))) = 0
        AND len(tk) > 0) AS keep
FROM t
""",
)
def text_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist word filter (the C4 "bad words" gate): per doc, the
    token count, the number of blocklisted tokens, and keep = no
    blocklisted token AND at least one token (C4 drops empty pages
    too). Exact-match on normalized tokens — the production variant
    swaps the 3-word stand-in for the full list and, for multi-word
    entries, runs the same membership test over the `shingle_rows`
    n-gram stream (same plan, more keys).

    Scale shape: ONE scan-side projection — the membership test is a
    JVM higher-order filter over the token array against an array
    literal, ZERO exchanges (plan-guarded; the `text_pii_redact`
    class). The literal scan is O(tokens × |list|) PER ROW and no
    optimizer will rewrite it (r9 ADVICE correction: AQE re-plans
    exchanges — it cannot turn an `array_contains` literal into a
    join), so it is right only for small lists. The production
    swap for 10^4-word lists is the EXPLICIT exploded-stream
    broadcast-join variant `badwords_filter_broadcast` below —
    O(tokens) per row via the broadcast hash lookup, at the cost of
    one doc_id re-aggregation exchange; pinned output-equal to this
    op by tests/test_llm_ops.py::
    test_badwords_broadcast_variant_matches_literal. NULL texts are
    excluded on both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # token array behind a Generate barrier: n_bad and keep both read
    # it, and inlined each reference would re-run the regex split
    tok = d.select(
        "doc_id", F.explode(F.array(tokens_col(F.col("text")))).alias("__tk")
    )
    cols = _badwords_cols(F.col("__tk"))
    return tok.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["n_bad"].alias("n_bad"),
        cols["keep"].alias("keep"),
    )


def badwords_filter_broadcast(
    docs: DataFrame, badwords: list[str]
) -> DataFrame:
    """The LARGE-blocklist variant of `text_badwords_filter` (r9
    ADVICE): explode the token stream, mark blocklisted tokens via a
    broadcast hash join against the blocklist RELATION, re-aggregate
    per doc. Same output schema and semantics as the registered op
    (pinned equal on the fixture by test_llm_ops).

    Tradeoff, stated: the literal `array_contains` scan is zero-
    exchange but O(tokens × |list|) per row — fine at |list| ≈ 10,
    quadratic-ish at 10^4. This variant is O(tokens) per row (hash
    probe into the broadcast set) plus ONE exchange (the doc_id
    re-aggregation, partial-agg'd map-side). At a 10^4-word list on
    100 TB the exchange is noise and the per-token factor dominates
    — use this form. `explode_outer` keeps zero-token docs (their
    one NULL-token row counts as 0 tokens → keep=false, matching
    the registered gate)."""
    spark = docs.sparkSession
    bl = spark.createDataFrame([(w,) for w in badwords], "bad_tok STRING")
    arr = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(F.array(tokens_col(F.col("text")))).alias("__tk"),
    )
    tok = arr.select("doc_id", F.explode_outer("__tk").alias("tok"))
    hit = tok.join(
        F.broadcast(bl), tok["tok"] == bl["bad_tok"], "left"
    )
    return hit.groupBy("doc_id").agg(
        F.count("tok").cast("bigint").alias("n_tokens"),
        F.count("bad_tok").cast("bigint").alias("n_bad"),
        (
            (F.count("bad_tok") == 0) & (F.count("tok") > 0)
        ).alias("keep"),
    )


@query(
    "text_badwords_filter_bcast",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         {_DUCK_TOKENS} AS tk
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, x -> list_contains({_BADWORDS_SQL}, x)))
            AS BIGINT) AS n_bad,
       (len(list_filter(tk, x -> list_contains({_BADWORDS_SQL}, x))) = 0
        AND len(tk) > 0) AS keep
FROM t
""",
)
def text_badwords_filter_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered PRODUCTION-shaped blocklist gate (r9, advisor
    follow-through): `badwords_filter_broadcast` — exploded token
    stream, broadcast hash join against the blocklist RELATION,
    doc_id re-aggregation — run as a first-class driver-proven query.
    SAME oracle as `text_badwords_filter` (identical semantics by
    spec; list_contains IS the membership the join computes), so the
    two registered plans are pinned output-equal through the driver
    hash itself, on top of the direct test pin.

    Why two registered shapes: the literal array scan is zero-
    exchange but O(tokens × |list|) per row — right at |list| ≈ 10;
    this join form is O(tokens) per row plus one exchange — right at
    the 10^4-word production list (the AQE claim this replaced could
    never deliver: no optimizer rewrites a literal membership test
    into a join). Plan-guarded: BroadcastHashJoin present, exactly
    one non-broadcast exchange (the partial-agg'd doc_id rollup)."""
    docs = table(spark, sf_dir, "documents")
    return badwords_filter_broadcast(docs, list(BADWORDS))
