"""Tokenizer DECODE round-trips — the losslessness pin the three
trainer families (BPE / unigram / WordPiece) still lacked (r7 VERDICT
"Next round" #4): encode every document, DECODE the piece stream back
to text, and value-hash the reassembled corpus, so a green hash proves
pieces -> text is exact end-to-end — the rewrite-and-rehash doctrine
(`dedup_substring_rewrite`, `text_dedup_lines`) applied to the
tokenizer stack.

Decode is computed FROM THE PIECES, never copied from the source word:
  - BPE: the merge table is persisted to parquet, RELOADED, and the
    decode relation re-derived by re-applying the reloaded merges to
    the raw character alphabet — the full artifact -> runtime path
    (what `sink_tokenizer_artifacts` fingerprints, this one EXECUTES).
  - unigram: pieces from the trainer's checkpointed final Viterbi
    segmentation; decode = concatenation.
  - WordPiece: the vocab (alphabet + merge products) is persisted,
    RELOADED, and the BERT greedy longest-match-first runtime re-run
    from the reloaded vocab, accumulating the matched substrings; a
    word that hits an unmatchable position decodes to [UNK] — the one
    DELIBERATELY lossy path, surfaced by ok=false (pinned by
    restricted-vocab planted tests; unreachable on the registered
    alphabet-closed surface).

Per-document surface: (doc_id, n_words, n_pieces, rebuilt_md5, ok)
where rebuilt_md5 hashes the decoded words joined by ' ' in corpus
order and ok compares the rebuilt stream to the original token stream.
Docs that normalize to zero tokens rebuild to '' with ok=true.

Scale shape (all three): the decode relation is per DISTINCT WORD
(Heaps-bounded — one greedy/lookup per vocab entry, never per
occurrence); the corpus joins it once on the word key; the per-doc
reassembly carries (pos, decoded-word) pairs bounded by doc length —
the `dedup_substring_rewrite` rebuild shape. Document bodies cross the
wire once, as their own decoded words.

Reference basis: round-trip identity is the standard tokenizer
invariant (SentencePiece's `decode(encode(x)) == x` guarantee;
HuggingFace tokenizers' roundtrip tests); the reference repo has no
tokenizer surface (BASELINE.json north-star [ext] family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.functions.text import _DUCK_TOKENS
from gmt_dbt_spark.functions.tokenizer import (
    N_MERGES,
    _bpe_with_clause,
    _char_syms,
    _merge_syms,
    _train_chain_batched,
    _uni_train,
    _uni_with_clause,
)
from gmt_dbt_spark.functions.wordpiece import (
    WP_MERGES,
    WP_PROBE_MAX,
    WP_UNK,
    _wp_probe_branches,
    _wp_train_chain,
    _wp_vocab_sql,
    _wp_with_clause,
)
from gmt_dbt_spark.operators.dedup import tokens_col
from gmt_dbt_spark.registry import query
from gmt_dbt_spark.session import scratch_dir
from gmt_dbt_spark.sources.sinks import sink_ctas


# --- shared rebuild surface (Spark) ----------------------------------


def _rebuild_surface(docs: DataFrame, dec: DataFrame) -> DataFrame:
    """Join the corpus token stream to a (word, n_pieces, decoded)
    relation and reassemble each document from its DECODED words:
    (doc_id, n_words, n_pieces, rebuilt_md5, ok).

    One shuffle on the word key (the decode join), one on doc_id (the
    reassembly); the collected per-doc list is (pos, word) pairs
    bounded by doc length — the `dedup_substring_rewrite` rebuild
    shape, sanctioned because the bound is structural."""

    def joined(col: str) -> Column:
        return F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col(col).alias("w")))
                ),
                lambda s: s.getField("w"),
            ),
        )

    tok = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "word")
    )
    per = (
        tok.join(dec, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            joined("decoded").alias("rebuilt"),
            joined("word").alias("orig"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
            F.coalesce("n_pieces", F.lit(0).cast("bigint")).alias("n_pieces"),
            F.coalesce(F.md5("rebuilt"), F.md5(F.lit(""))).alias(
                "rebuilt_md5"
            ),
            F.coalesce(
                F.col("rebuilt") == F.col("orig"), F.lit(True)
            ).alias("ok"),
        )
    )


def _empty_surface(docs: DataFrame) -> DataFrame:
    """The zero-token-corpus degenerate: every doc rebuilds to ''."""
    return docs.select(
        "doc_id",
        F.lit(0).cast("bigint").alias("n_words"),
        F.lit(0).cast("bigint").alias("n_pieces"),
        F.md5(F.lit("")).alias("rebuilt_md5"),
        F.lit(True).alias("ok"),
    )


# --- shared rebuild tail (DuckDB) ------------------------------------


def _rt_tail(dec_cte: str) -> str:
    """Oracle tail: token stream with positions, per-doc reassembly
    from the decode CTE `dec_cte` (word, n_pieces, decoded), left-join
    back to documents so zero-token docs rebuild to ''."""
    return f""",
tokc AS (
  SELECT d.doc_id, CAST(u.i AS INTEGER) AS pos,
         d.toks[CAST(u.i + 1 AS INT)] AS word
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents) d,
       LATERAL (SELECT unnest(range(len(d.toks))) AS i) u
),
per AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(dc.n_pieces) AS BIGINT) AS n_pieces,
         md5(string_agg(dc.decoded, ' ' ORDER BY t.pos)) AS rebuilt_md5,
         (string_agg(dc.decoded, ' ' ORDER BY t.pos) =
          string_agg(t.word, ' ' ORDER BY t.pos)) AS ok
  FROM tokc t JOIN {dec_cte} dc USING (word)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_words, CAST(0 AS BIGINT)) AS n_words,
       COALESCE(p.n_pieces, CAST(0 AS BIGINT)) AS n_pieces,
       COALESCE(p.rebuilt_md5, md5('')) AS rebuilt_md5,
       COALESCE(p.ok, TRUE) AS ok
FROM documents d LEFT JOIN per p USING (doc_id)
"""


# --- BPE --------------------------------------------------------------


_BPE_RT_ORACLE = (
    _bpe_with_clause(N_MERGES)
    + f""",
dec AS (
  SELECT word, CAST(len(syms) AS BIGINT) AS n_pieces,
         array_to_string(syms, '') AS decoded
  FROM it{N_MERGES}
)"""
    + _rt_tail("dec")
)


@query("text_bpe_roundtrip", oracle=_BPE_RT_ORACLE)
def text_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode -> decode round-trip THROUGH THE PERSISTED ARTIFACT:
    train the merge table, sink it to parquet, RELOAD it, re-derive
    the word -> pieces relation by re-applying the reloaded merges to
    the raw character alphabet (exactly what a tokenizer runtime
    booting from the artifact does), decode by concatenating each
    word's pieces, reassemble every document, and hash the rebuilt
    corpus. BPE decode is structurally lossless (merges only
    concatenate) — ok=true corpus-wide IS the theorem, checked by
    value rather than assumed; a corrupted artifact (lost merge,
    reordered steps, truncated piece) breaks some word's piece count
    or the rebuilt hash.

    Scale: the artifact is k rows (write + reload + collect are
    model-sized); re-derivation is k vocab-sized folds over the
    Heaps-bounded word relation; the corpus is scanned once for the
    word counts and once for the rebuild join."""
    docs = table(spark, sf_dir, "documents")
    merge_rows, vocab = _train_chain_batched(docs)
    with scratch_dir("bpe_rt") as out:
        merges = spark.createDataFrame(merge_rows, "step int, a string, b string, n bigint")
        # (step, a, b) of each reloaded merge
        reloaded = sorted(r[:3] for r in sink_ctas(spark, merges, out).collect())
    # artifact -> runtime: re-apply the RELOADED merges in step order
    # to the character-split word relation (vocab keeps only the word
    # spine; its trained syms are deliberately NOT reused)
    it = vocab.select(
        "word", _char_syms(F.col("word")).alias("syms")
    ).localCheckpoint(eager=True)
    for _step, a, b in reloaded:
        it = it.select(
            "word", _merge_syms(F.col("syms"), F.lit(a), F.lit(b)).alias("syms")
        ).localCheckpoint(eager=True)
    dec = it.select(
        "word",
        F.size("syms").cast("bigint").alias("n_pieces"),
        F.concat_ws("", F.col("syms")).alias("decoded"),
    )
    return _rebuild_surface(docs, dec)


# --- unigram ----------------------------------------------------------


_UNI_RT_ORACLE = (
    _uni_with_clause()
    + """,
dec AS (
  SELECT word, CAST(len(ps) AS BIGINT) AS n_pieces,
         array_to_string(ps, '') AS decoded
  FROM e2
)"""
    + _rt_tail("dec")
)


@query("text_unigram_roundtrip", oracle=_UNI_RT_ORACLE)
def text_unigram_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM encode -> decode round-trip: decode each word by
    concatenating its trained Viterbi segmentation's pieces, then
    reassemble and hash every document. The Viterbi lattice only ever
    splits the word into consecutive substrings, so decode is
    lossless — ok=true corpus-wide is the checked theorem; any
    segmentation bug that drops/duplicates a piece (a DP off-by-one,
    a backtrack slip) breaks the rebuilt hash even while piece COUNTS
    stay plausible. Reuses the trainer's checkpointed final
    segmentation (no re-segmentation) + one token-stream join."""
    docs = table(spark, sf_dir, "documents")
    _, s1, seg = _uni_train(docs)
    if not s1:
        return _empty_surface(docs)
    dec = seg.select(
        "word",
        F.size("ps").cast("bigint").alias("n_pieces"),
        F.concat_ws("", F.col("ps")).alias("decoded"),
    )
    return _rebuild_surface(docs, dec)


# --- WordPiece --------------------------------------------------------


def _wp_greedy_dec(word: Column, vmap: Column) -> Column:
    """`_wp_greedy` (wordpiece.py) extended to ACCUMULATE the decoded
    string: state (j = next unmatched position, np = pieces so far,
    dec = concatenation of matched substrings, bad). Same fold class,
    same probe order WP_PROBE_MAX..1 with the remaining-suffix guard."""
    n = F.length(word)

    def step(acc: Column, _: Column) -> Column:
        j = acc.getField("j")
        ml = None
        for l in range(WP_PROBE_MAX, 0, -1):
            cond = (j + F.lit(l) - 1 <= n) & F.try_element_at(
                vmap, F.substr(word, j, F.lit(l))
            ).isNotNull()
            ml = F.when(cond, F.lit(l)) if ml is None else ml.when(cond, F.lit(l))
        matched = F.struct(
            (j + ml).alias("j"),
            (acc.getField("np") + 1).alias("np"),
            F.concat(acc.getField("dec"), F.substr(word, j, ml)).alias("dec"),
            F.lit(False).alias("bad"),
        )
        failed = F.struct(
            j.alias("j"),
            acc.getField("np").alias("np"),
            acc.getField("dec").alias("dec"),
            F.lit(True).alias("bad"),
        )
        return F.when(acc.getField("bad") | (j > n), acc).otherwise(
            F.when(ml.isNull(), failed).otherwise(matched)
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        F.struct(
            F.lit(1).alias("j"),
            F.lit(0).alias("np"),
            F.lit("").alias("dec"),
            F.lit(False).alias("bad"),
        ),
        step,
    )


def _wp_word_dec(it: DataFrame, vocab: set) -> DataFrame:
    """(word, n_pieces, decoded): greedy-decode every distinct word
    against the vocabulary; a bad word IS one [UNK] piece whose decode
    is the literal [UNK] marker (the deliberately lossy path). Fold
    behind a Generate barrier (the `_wp_word_pieces` pattern)."""
    items = []
    for p in sorted(vocab):
        items.append(F.lit(p))
        items.append(F.lit(1))
    g = it.select(
        "word",
        F.explode(
            F.array(_wp_greedy_dec(F.col("word"), F.create_map(*items)))
        ).alias("__g"),
    )
    return g.select(
        "word",
        F.when(F.col("__g.bad"), F.lit(1))
        .otherwise(F.col("__g.np"))
        .cast("bigint")
        .alias("n_pieces"),
        F.when(F.col("__g.bad"), F.lit(WP_UNK))
        .otherwise(F.col("__g.dec"))
        .alias("decoded"),
    )


def _wp_rt_oracle(k: int) -> str:
    """Training replay + the shared vocab CTEs (`_wp_vocab_sql`),
    then a decode-accumulating twin of the `gr` greedy recursion
    (`grd` carries the concatenated matched substrings) built from
    the SAME probe-branch generator the encode oracle uses
    (`_wp_probe_branches` — one probe definition, the two recursions
    structurally unable to probe differently), then the shared
    rebuild tail."""
    branches = _wp_probe_branches()
    return (
        _wp_with_clause(k, recursive=True)
        + _wp_vocab_sql(k)
        + f""",
grd AS (
  SELECT word, CAST(1 AS INTEGER) AS j, CAST(0 AS INTEGER) AS np,
         CAST('' AS VARCHAR) AS dec, FALSE AS bad
  FROM wc
  UNION ALL
  SELECT word, j + COALESCE(ml, 0), np + 1,
         dec || COALESCE(substr(word, CAST(j AS INT), CAST(ml AS INT)), ''),
         ml IS NULL
  FROM (
    SELECT word, j, np, dec,
      CASE {branches} END AS ml
    FROM grd CROSS JOIN wvm
    WHERE NOT bad AND j <= length(word)
  ) z
),
wpd AS (
  SELECT word,
         CAST(CASE WHEN bad THEN 1 ELSE np END AS BIGINT) AS n_pieces,
         CASE WHEN bad THEN '{WP_UNK}' ELSE dec END AS decoded
  FROM grd WHERE bad OR j > length(word)
)"""
        + _rt_tail("wpd")
    )


@query("text_wordpiece_roundtrip", oracle=_wp_rt_oracle(WP_MERGES))
def text_wordpiece_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece encode -> decode round-trip THROUGH THE PERSISTED
    VOCAB: train, persist the vocabulary (alphabet + merge products —
    the ONLY artifact BERT's runtime needs) to parquet, RELOAD it,
    re-run the greedy longest-match-first runtime from the reloaded
    vocab accumulating each word's matched substrings, decode by
    concatenation, reassemble and hash every document. A complete
    greedy parse decodes to its word by construction; an [UNK]'d word
    decodes to the literal [UNK] marker — WordPiece's one DELIBERATE
    loss, surfaced as ok=false (unreachable here: the trained vocab
    is alphabet-closed; the lossy path is pinned by restricted-vocab
    planted tests). Greedy runs once per DISTINCT word; the corpus
    joins the decode relation once."""
    docs = table(spark, sf_dir, "documents")
    merge_rows, alphabet, it = _wp_train_chain(docs)
    vocab = set(alphabet) | {a + b for _, a, b, _, _ in merge_rows}
    if not vocab:
        return _empty_surface(docs)
    with scratch_dir("wp_rt") as out:
        pieces = spark.createDataFrame([(p,) for p in sorted(vocab)], "piece string")
        reloaded = {r["piece"] for r in sink_ctas(spark, pieces, out).collect()}
    dec = _wp_word_dec(it, reloaded)
    return _rebuild_surface(docs, dec)
