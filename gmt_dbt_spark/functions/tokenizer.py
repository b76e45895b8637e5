"""BPE tokenizer TRAINING — the missing piece between a raw corpus
and a token-count budget: learn the merge table itself, distributed.

This is the standard production shape (HuggingFace `tokenizers`,
SentencePiece BPE): training never iterates the corpus — it iterates
the WORD-COUNT relation (Heaps-law-sublinear in the corpus), which a
single scan produces. Each merge step is then two vocab-sized
dataframe operations: count weighted adjacent symbol pairs, pick the
argmax pair, apply the merge to every word's symbol sequence. The
corpus is touched exactly once regardless of how many merges are
learned — the property that makes BPE training feasible at 100 TB.

The merge application is a left-to-right greedy fold over the symbol
array (`F.aggregate` — a JVM higher-order function, no Python). The
fold IS exact BPE greedy: after merging (a,b)→ab, the new token can
never re-match the same pair within the step, because ab is strictly
longer than both a and b (tokens are non-empty), so no just-merged
flag is needed. DuckDB 1.0 replays the identical fold via
`list_reduce` (with a list-of-lists lift, since list_reduce seeds the
accumulator from the first element), so the ENTIRE training run — k
argmax pairs with their counts — is value-hashed cross-engine.

Since r6 the SHIPPED trainer batches provably-non-interacting merges
into rounds (`_train_chain_batched` — exactness theorem in situ),
cutting the per-merge job count by the mean batch size; the
sequential `_train_chain` remains as the reference implementation the
bit-identity test compares against, and the DuckDB oracle still
replays one merge at a time — so every green hash is also a proof
that batching changed nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.functions.text import _DUCK_TOKENS
from gmt_dbt_spark.operators.dedup import tokens_col
from gmt_dbt_spark.registry import query

N_MERGES = 8


def _char_syms(word: Column) -> Column:
    """word → array of its characters (the BPE base alphabet)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )


def _pair_counts(it: DataFrame) -> DataFrame:
    """(a, b, n): adjacent symbol pairs weighted by word count.
    Words reduced to a single symbol contribute nothing (the
    size-guard keeps `sequence` ascending — Spark's sequence(1, 0)
    is DESCENDING [1, 0], not empty)."""
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"),
                F.element_at("syms", i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        it.select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("n"))
    )


def _merge_syms(syms: Column, a: Column, b: Column) -> Column:
    """Apply one BPE merge (a,b)→ab to a symbol array: greedy
    left-to-right fold, all JVM-side."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(a, b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_with_clause(k: int) -> str:
    """The shared training CTE chain (it{i} = vocab after i merges,
    p{i} = the i-th learned pair — argmax count, ties broken
    lexicographically, deterministic on both engines). Both oracles
    compose it with their own final SELECT.

    p{i}/it{i} are MATERIALIZED (r7 — the wordpiece.py finding
    applied back): DuckDB inlines plain CTEs per reference, and this
    chain references it{i-1} twice per level (pair counts, merge
    apply), so unmaterialized it expands to 2^k ≈ 256 parquet scans —
    it RAN, but at ~23× the cost (measured 1.6 s → 0.07 s per oracle
    at sf0.01, results bit-identical). The lambda classes inside are
    unchanged, so VERIFICATION pattern 11's MATERIALIZED-segfault
    caveat (nested captures) does not apply — verified by the full
    BPE-family selfcheck after the switch."""
    parts = [
        f"""wc AS (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents) GROUP BY 1
),
it0 AS (
  SELECT word, cnt,
         list_transform(range(length(word)),
             i -> substr(word, CAST(i + 1 AS INT), 1)) AS syms
  FROM wc
)"""
    ]
    for i in range(1, k + 1):
        parts.append(f"""pc{i} AS (
  SELECT u.pair[1] AS a, u.pair[2] AS b, CAST(SUM(cnt) AS BIGINT) AS n
  FROM it{i-1}, LATERAL (
    SELECT unnest(list_transform(range(len(syms) - 1),
        i -> [syms[CAST(i + 1 AS INT)], syms[CAST(i + 2 AS INT)]])) AS pair) u
  GROUP BY 1, 2
),
p{i} AS MATERIALIZED (SELECT a, b, n FROM pc{i} ORDER BY n DESC, a, b LIMIT 1),
it{i} AS MATERIALIZED (
  SELECT word, cnt,
         list_reduce([CAST([] AS VARCHAR[])] || list_transform(syms, s -> [s]),
            (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p{i}.a
                                  AND x[1] = p{i}.b
                        THEN acc[1:len(acc)-1] || [p{i}.a || p{i}.b]
                        ELSE acc || x END) AS syms
  FROM it{i-1} LEFT JOIN p{i} ON TRUE
)""")
    return "WITH " + ",\n".join(parts)


def _bpe_oracle(k: int) -> str:
    """DuckDB replay of the full k-merge training run: the merge
    table (step, a, b, n)."""
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS step, a, b, n FROM p{i}" for i in range(1, k + 1)
    )
    return _bpe_with_clause(k) + "\n" + union


def _train_chain(docs: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """Run the k-merge training loop. Returns (merge_steps, vocab):
    the k argmax 1-row frames and the final ENCODED vocabulary
    (word, cnt, syms after all merges) — the artifact `text_bpe_encode`
    joins against the corpus.

    Pair exhaustion (every word down to one symbol): the argmax frame
    goes EMPTY. The merge application is therefore a LEFT join on the
    ≤1-row pair frame, not a cross join — an empty step leaves the
    vocabulary intact (NULL pair → fold's merge branch never fires)
    instead of annihilating it, and the merge table simply truncates."""
    wc = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    it = wc.select(
        "word", "cnt", _char_syms(F.col("word")).alias("syms")
    ).localCheckpoint(eager=True)
    merge_steps: list[DataFrame] = []
    for step in range(1, N_MERGES + 1):
        p = (
            _pair_counts(it)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(F.lit(step).alias("step"), "a", "b", "n")
            .localCheckpoint(eager=True)
        )
        merge_steps.append(p)
        pair = F.broadcast(
            p.select(F.col("a").alias("__a"), F.col("b").alias("__b"))
        )
        it = (
            it.join(pair, F.lit(True), "left")
            .select(
                "word",
                "cnt",
                _merge_syms(F.col("syms"), F.col("__a"), F.col("__b")).alias(
                    "syms"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return merge_steps, it


@query("text_bpe_train", oracle=_bpe_oracle(N_MERGES))
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer over `documents`: learn N_MERGES merges,
    return the merge table (step, a, b, n) — the trained artifact a
    tokenizer runtime consumes.

    Scale shape (batched rounds since r6 — see `_train_chain_batched`
    and the exactness theorem above it): ONE corpus scan builds the
    word-count relation (checkpointed); each ROUND is then a
    vocab-sized pair-count aggregate, a 32-row top-K collect, and one
    JVM fold applying the round's provably-non-interacting merges —
    so the per-merge job count drops by the mean batch size m̄
    (measured 2.0-2.7 on the fixtures, ~2× wall-clock; grows with
    vocabulary breadth on Zipf-shaped corpora). Per-round
    localCheckpoint because the vocab frame has two consumers —
    unchecked lineage grows exponentially in round count. Checkpoint
    bytes per round ≈ the vocabulary, never the corpus.

    Whole-run value-hashed AGAINST THE SEQUENTIAL REPLAY: the oracle
    runs DuckDB's one-merge-at-a-time `list_reduce` chain, so the
    hash check is itself the proof that batching changed nothing —
    and `tests/test_llm_ops.py::test_bpe_batched_trainer_bit_identical`
    pins batched ≡ sequential ≡ pure-Python reference on 13 corpora
    (chained merges, exhaustion, self-pairs, randomized). If the
    vocabulary exhausts its pairs before N_MERGES, the merge table
    truncates — identically on both engines."""
    docs = table(spark, sf_dir, "documents")
    merge_rows, _ = _train_chain_batched(docs)
    return spark.createDataFrame(
        merge_rows, "step int, a string, b string, n bigint"
    )


def _bpe_encode_oracle(k: int) -> str:
    """Replay training to it{k} (the encoded vocab), then join it to
    the corpus token stream and aggregate per-doc budgets."""
    return f"""{_bpe_with_clause(k)},
tokc AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS word FROM documents
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(e.syms)) AS BIGINT) AS n_bpe_tokens,
       CAST(MAX(len(e.syms)) AS INTEGER) AS max_word_pieces
FROM tokc t JOIN it{k} e USING (word)
GROUP BY t.doc_id
"""


@query("text_bpe_encode", oracle=_bpe_encode_oracle(N_MERGES))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE tokenizer to the corpus: per-doc token
    budget under the learned merges — (n_words, n_bpe_tokens,
    max_word_pieces). THE production encode trick: encoding never
    re-runs merges over the corpus — the training loop's final vocab
    relation already maps every distinct word to its merged symbol
    sequence, so encode is ONE equi-join of the corpus token stream
    against that Heaps-bounded map (AQE broadcasts it while it fits)
    plus a per-doc aggregate. This is why BPE at 100 TB costs two
    corpus scans total: one to learn (word counts), one to apply
    (this join).

    Value-hashed end-to-end THROUGH the training run: the oracle
    replays all N_MERGES merges AND the encode join, so a drift
    anywhere in the trained vocab shows up in some doc's token
    budget. Trained via the batched-round chain (r6) — bit-identical
    vocab, ~m̄× fewer training jobs."""
    docs = table(spark, sf_dir, "documents")
    _, vocab = _train_chain_batched(docs)
    enc = vocab.select(
        "word",
        F.size("syms").alias("n_sub"),
    )
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return tok.join(enc, "word").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sub").alias("n_bpe_tokens"),
        F.max("n_sub").cast("int").alias("max_word_pieces"),
    )


def _bpe_fertility_oracle(k: int) -> str:
    """Replay training to it{k}, join the lang-tagged token stream,
    aggregate the fertility evidence per language."""
    return f"""{_bpe_with_clause(k)},
tokc AS (
  SELECT lang, unnest({_DUCK_TOKENS}) AS word FROM documents
)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(e.syms)) AS BIGINT) AS n_bpe_tokens,
       CAST(COUNT(*) FILTER (WHERE len(e.syms) > 1) AS BIGINT)
         AS n_split_words,
       CAST(MAX(len(e.syms)) AS INTEGER) AS max_word_pieces
FROM tokc t JOIN it{k} e USING (word)
GROUP BY t.lang
"""


@query("text_bpe_fertility", oracle=_bpe_fertility_oracle(N_MERGES))
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — the standard
    tokenizer-fairness eval (tokens-per-word by language): a BPE
    vocabulary trained on a skewed mix over-fragments the minority
    languages, inflating their effective sequence length and training
    cost. Reports, per lang, the exact integer evidence the eval
    consumer ratios: word occurrences, total BPE pieces (fertility =
    n_bpe_tokens/n_words), words split into >1 piece (continuation
    rate), and the worst fragmentation. No division on the surface —
    the ratios stay exact in the consumer's hands.

    Plan shape: identical cost to `text_bpe_encode` — the trained
    vocab relation (ONE corpus scan + Heaps-bounded merge loop) is
    equi-joined against the lang-tagged token stream, then a
    k-language rollup; the per-lang aggregate is strictly cheaper
    than encode's per-doc one. Value-hashed through the whole
    training run, so a vocab drift shows up as a fertility shift in
    some language. Trained via the batched-round chain (r6)."""
    docs = table(spark, sf_dir, "documents")
    _, vocab = _train_chain_batched(docs)
    enc = vocab.select("word", F.size("syms").alias("n_sub"))
    tok = docs.select(
        "lang", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return tok.join(enc, "word").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
        F.count_if(F.col("n_sub") > 1).alias("n_split_words"),
        F.max("n_sub").cast("int").alias("max_word_pieces"),
    )


# --- Batched merge rounds (r5 VERDICT item 6 experiment) -----------------
#
# The sequential trainer schedules ~2 vocab-sized Spark jobs PER MERGE;
# a real 50k-merge vocabulary is therefore ~100k jobs — the one stated
# scale tradeoff in text_bpe_train. Batching applies the top-m
# NON-INTERACTING pairs per round, cutting the job count ~m×, while
# emitting a merge table PROVABLY bit-identical to sequential greedy.
#
# Exactness theorem (why the batch rule below is safe): after merging
# the argmax pair (a,b), the only pair counts that CHANGE are pairs
# sharing a symbol with (a,b) — parents (x,a)/(b,y) lose occurrences,
# and the created pairs (x,ab)/(ab,y) are bounded by their parent's old
# count (every occurrence of x·ab was an occurrence of x·a). Therefore
# a ranked prefix q1 > q2 > ... > qm that is (i) pairwise
# symbol-disjoint and (ii) strictly above EVERY pair sharing a symbol
# with the batch (and above the top-K floor, bounding pairs we never
# saw) replays exactly: each qi's count is untouched by the earlier
# merges (disjoint), no outsider can rise to qi's count (created ≤
# parent ≤ blocker < qi, STRICT — a tie could win the lexicographic
# tie-break), so sequential greedy would pick q1..qm in this order
# with these counts. The batch is a PREFIX of the ranking by
# construction: any higher-ranked rejected pair would share a symbol,
# hence bound the batch strictly below itself — contradiction.
#
# SELF-PAIR CAVEAT (r6 review finding, counterexample-verified): the
# parent bound above assumes a created pair's parent is OUTSIDE the
# batch (it shares a symbol with the creating member, so pairwise
# disjointness excludes it from the batch — UNLESS the parent is the
# creating member ITSELF, which happens exactly for self-pairs: merging
# (p,p) over a run p·p·p creates (pp,p)/(p,pp) whose parent (p,p) IS
# the batch member, bounding the created count by the member's own
# count rather than the blocker). Corpus ['c','a','acacacaa','acc',
# 'babbb','bacacac','caaaa']: batching [(a,a),(ac,ac),(b,b)] emitted
# (b,b) at step 4 where sequential greedy learns (acac,ac) — created
# by (ac,ac)'s own merge with count 2, tie-break-beating (b,b).
# Therefore a self-pair TERMINATES its batch: members before it are
# unaffected (their turns precede its merge), and everything after it
# — including pairs we never examined — is bounded by the next ranked
# count, which joins the blocker.
#
# CREATED-SYMBOL-COLLISION CAVEAT (r6 ADVICE, guarded r7): the
# "created ≤ parent ≤ blocker" bound also assumes the created symbol
# STRING p.a+p.b is genuinely new. If it equals a symbol that already
# exists in the relation (possible only via a DIFFERENT split of an
# earlier merge's concat — the initial alphabet is single characters,
# so every multi-char symbol is some prior merge's a+b, a set the
# trainer holds driver-side), created occurrences of (x, s) ADD to a
# pre-existing pair's count: pre-existing + created can reach
# 2·blocker and overtake a later member. Fuzzing (collision-biased
# corpora, r7) never produced a divergence — greedy dynamics appear
# to keep such pairs below the trim line — but the theorem as stated
# does not PROVE that, so the batch rule is conservative instead: a
# member whose concat is already occupied (a prior round's learned
# symbol, or an earlier member's symbol or concat) TERMINATES its
# batch exactly like a self-pair. The member itself is still exact
# (its count is untouched and every riser from EARLIER members is
# bounded by the blocker; its own created occurrences only threaten
# merges after it, and there are none this round). Termination only
# shrinks batches, so bit-identity to sequential greedy now holds
# WITHOUT the unproven never-collides invariant.

BATCH_TOPK = 32


def _select_batch(
    ranked: list, saw_k: int, learned: frozenset = frozenset()
) -> list:
    """Maximal exact-greedy batch from the ranked top-K pair rows.

    ``ranked``: rows (a, b, n) sorted by (n desc, a, b) — the
    sequential tie-break order. ``learned``: the concat strings of
    every merge applied in PRIOR rounds — the complete set of
    multi-char symbols that can exist in the relation (the initial
    alphabet is single characters). Returns the prefix to merge this
    round (≥1 row whenever ranked is non-empty: q1 alone is always
    exact — it IS the sequential argmax)."""
    if not ranked:
        return []
    # floor for pairs beyond the collected top-K: they all count ≤ n_K
    floor = ranked[-1].n if len(ranked) == saw_k else 0
    batch = []
    syms: set[str] = set()
    blocker = floor
    for idx, p in enumerate(ranked):
        if p.a in syms or p.b in syms:
            blocker = max(blocker, p.n)
            break  # ranking is descending: the first sharer is the max sharer
        cat = p.a + p.b
        # batch-terminal members (see the two caveats above): a
        # self-pair's created pairs are bounded by its OWN count, and
        # a concat colliding with an occupied symbol string (a prior
        # round's learned symbol, or this batch's symbols/concats)
        # would let created occurrences ADD to pre-existing counts —
        # both void the blocker bound for members AFTER this one,
        # never for this one, so accept it and end the batch.
        terminal = p.a == p.b or cat in learned or cat in syms
        batch.append(p)
        syms.add(p.a)
        syms.add(p.b)
        syms.add(cat)
        if terminal:
            # everything unexamined joins the blocker via the next
            # ranked count
            if idx + 1 < len(ranked):
                blocker = max(blocker, ranked[idx + 1].n)
            break
    # strict trim: members at or below the blocker can be overtaken
    # (or tie-break-beaten) by a created pair — q1 is exempt (argmax)
    keep = [batch[0]]
    for p in batch[1:]:
        if p.n > blocker:
            keep.append(p)
        else:
            break
    return keep


def _merge_syms_multi(syms: Column, pairs: list) -> Column:
    """Apply one ROUND of pairwise-disjoint merges in a single fold.
    Disjointness ⇒ occurrences of different pairs never overlap, so
    one left-to-right pass applying whichever rule matches is
    identical to applying the merges sequentially."""
    def step(acc: Column, x: Column) -> Column:
        merged = None
        for p in pairs:
            cond = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(p.a))
                & (x == F.lit(p.b))
            )
            repl = F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(p.a + p.b)),
            )
            merged = (
                F.when(cond, repl) if merged is None else merged.when(cond, repl)
            )
        return merged.otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _train_chain_batched(
    docs: DataFrame, n_merges: int = N_MERGES
) -> tuple[list, DataFrame]:
    """Batched-round BPE training. Returns (merge_rows, vocab):
    ``merge_rows`` is the driver-materialized merge table
    [(step, a, b, n), ...] — bit-identical to `_train_chain`'s (the
    exactness theorem above; pinned by test) — and ``vocab`` the
    final encoded word relation, same contract as `_train_chain`.

    Cost shape: one corpus scan (the word-count checkpoint), then
    ceil(k / m̄) rounds of {vocab-sized pair count + top-K collect +
    one fold checkpoint} where m̄ is the mean exact batch size — the
    per-merge job count drops m̄× vs the sequential trainer, and the
    argmax collect grows from 1 row to K=32 rows (still driver-
    bounded). Merge-table rows are emitted driver-side (they were
    collected for batch selection anyway), so the training surface
    needs NO per-step checkpointed frames at all."""
    wc = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # LAZY local checkpoints (r11, guide §1.2 — the wordpiece-chain
    # treatment): every round's fold is immediately consumed by a
    # full-partition job (the top-K pair-count collect), so
    # eager=False merges the dedicated materialization job into it —
    # same rounds, same merge table (reference-pinned), one fewer
    # driver round-trip per round.
    it = wc.select(
        "word", "cnt", _char_syms(F.col("word")).alias("syms")
    ).localCheckpoint(eager=False)
    merge_rows: list = []
    learned: set = set()  # concat of every applied merge — the full
    # multi-char symbol universe, fed to the collision guard
    while len(merge_rows) < n_merges:
        ranked = (
            _pair_counts(it)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(BATCH_TOPK)
            .collect()
        )
        batch = _select_batch(ranked, BATCH_TOPK, frozenset(learned))
        if not batch:
            break  # pair exhaustion — same truncation as sequential
        batch = batch[: n_merges - len(merge_rows)]
        for p in batch:
            merge_rows.append((len(merge_rows) + 1, p.a, p.b, p.n))
            learned.add(p.a + p.b)
        it = it.select(
            "word",
            "cnt",
            _merge_syms_multi(F.col("syms"), batch).alias("syms"),
        ).localCheckpoint(eager=False)
    return merge_rows, it


# =====================================================================
# Unigram-LM tokenizer TRAINING (r7) — the SentencePiece sibling of
# the BPE trainer above (Kudo 2018, "Subword Regularization": seed a
# large substring vocabulary, alternate segmentation and re-estimation,
# prune to a target size). The production algorithm's EM is soft
# (forward-backward expected counts); this trainer runs HARD EM
# (Viterbi segmentation → usage counts → re-score → prune → re-segment)
# so every quantity is an exact integer and all three implementations
# — the Spark plan, the DuckDB replay oracle, and the pure-Python
# reference in tests — are bit-identical by construction.
#
# Exactness contract: piece scores are FIXED-POINT log2 in units of
# 1/UNI_LOG_SCALE, computed from integer counts only —
#   ilog2(x) = UNI_LOG_SCALE·(bl−1) + ((x − 2^(bl−1))·UNI_LOG_SCALE)
#              div 2^(bl−1),    bl = bit_length(x)
# (monotone piecewise-linear log2; engine-neutral because it is pure
# integer arithmetic — DuckDB derives bl via length(bin(x))). A
# segmentation's score is the SUM of its pieces' scores; the Viterbi
# argmax and its tie-breaks (higher score, then LONGER piece — struct
# (score, back) max, field-order comparison on all three engines) are
# therefore exact, with no float log anywhere.
#
# Scale shape: like BPE, training never iterates the corpus — ONE scan
# builds the word-count relation; seeding is a substring aggregate over
# it (Heaps-bounded); each E-step is one distributed Viterbi pass over
# the words (a JVM fold per word, vocab shipped as a ≤(chars+SEED)-entry
# map literal — at a production 1M-piece vocab the literal becomes a
# broadcast join on the piece column, same plan); the M-step and prune
# touch only the ≤vocab-sized count table on the driver (model, not
# data — the lloyd_centroids/BPE-argmax convention).
# =====================================================================

UNI_MAXLEN = 4       # max candidate piece length (chars)
UNI_SEED_MULTI = 96  # seed vocabulary: top-K multi-char substrings
UNI_TARGET_MULTI = 24  # post-prune multi-char pieces (+ all chars)
UNI_LOG_SCALE = 4096   # fixed-point log2 resolution


def _uni_ilog2(x: int) -> int:
    """Integer fixed-point log2 (see the contract above); x >= 1."""
    f = x.bit_length() - 1
    return UNI_LOG_SCALE * f + ((x - (1 << f)) * UNI_LOG_SCALE) // (1 << f)


def _uni_scores(counts: dict) -> dict:
    """piece → fixed-point log2(c/total), all-integer."""
    tot = sum(counts.values())
    lt = _uni_ilog2(tot)
    return {p: _uni_ilog2(c) - lt for p, c in counts.items()}


def _uni_wc(docs: DataFrame) -> DataFrame:
    """(word, cnt) — the one corpus scan, checkpointed (every E-step
    and the seed aggregate re-read it)."""
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )


def _uni_sub_fn(l: int):
    """Closure factory: the HOF lambda must be exactly 1-ary (pyspark
    derives lambda arity from the Python signature — a default arg
    would make transform pass (element, index))."""

    def sub(i):
        return F.substr(F.col("word"), i, F.lit(l))

    return sub


def _uni_seed(wc: DataFrame) -> tuple[dict, dict]:
    """Seed vocabulary: (all single chars, top-UNI_SEED_MULTI
    multi-char substrings by (count desc, piece asc)), counts weighted
    by word frequency, overlapping occurrences counted. Both collects
    are model-sized (≤ alphabet, ≤ UNI_SEED_MULTI rows)."""
    subs = None
    for l in range(1, UNI_MAXLEN + 1):
        s = wc.filter(F.length("word") >= l).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - l + 1),
                    _uni_sub_fn(l),
                )
            ).alias("piece"),
            "cnt",
        )
        subs = s if subs is None else subs.unionByName(s)
    # two consumers (chars collect + multi top-K) — checkpoint so the
    # union-of-4-lengths substring aggregate runs once, not twice
    agg = (
        subs.groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint(eager=True)
    )
    chars = {
        r["piece"]: int(r["c"])
        for r in agg.filter(F.length("piece") == 1).collect()
    }
    multi = {
        r["piece"]: int(r["c"])
        for r in agg.filter(F.length("piece") > 1)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(UNI_SEED_MULTI)
        .collect()
    }
    return chars, multi


def _uni_vmap(scores: dict):
    """The vocabulary as a map literal (piece → fixed-point score),
    sorted for plan stability."""
    items = []
    for p in sorted(scores):
        items.append(F.lit(p))
        items.append(F.lit(scores[p]).cast("bigint"))
    return F.create_map(*items)


def _uni_dp(word, vmap):
    """Viterbi forward pass as ONE JVM fold over character positions:
    dp[j] = (best score to j, matched piece length, matched piece).
    Candidates are the ≤UNI_MAXLEN vocabulary pieces ending at j;
    array_max's struct comparison (score, back, piece) breaks score
    ties toward the LONGER piece (back is its length). try_element_at:
    ANSI element_at throws on missing map keys."""
    n = F.length(word)

    def dp_step(acc, j):
        cands = []
        for l in range(1, UNI_MAXLEN + 1):
            piece = F.substr(word, j - l + 1, F.lit(l))
            s = F.try_element_at(vmap, piece)
            prev = F.element_at(acc, j - l + 1)
            cands.append(
                F.when(
                    (j >= l) & s.isNotNull(),
                    F.struct(
                        (prev.getField("score") + s).alias("score"),
                        F.lit(l).alias("back"),
                        piece.alias("piece"),
                    ),
                )
            )
        carr = F.filter(F.array(*cands), lambda c: c.isNotNull())
        return F.concat(acc, F.array(F.array_max(carr)))

    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("score"),
                F.lit(0).alias("back"),
                F.lit("").alias("piece"),
            )
        ),
        dp_step,
    )


def _uni_backtrack(dp):
    """Follow the back pointers from the last cell; ≤n iterations.
    Reads ONLY the dp column (the cells carry their matched piece), so
    no second corpus column is captured inside the fold. Pieces are
    PREPENDED (the walk runs end→start), so ``ps`` comes out in WORD
    ORDER — matching the DuckDB e1/e2 recursion, the pure-Python
    reference's ``out[::-1]``, and the decode round-trip's
    concatenation (r8: the original append emitted reversed pieces —
    latent while every consumer was order-insensitive counts, caught
    the day `text_unigram_roundtrip` hashed the rebuilt text)."""
    n = F.size(dp) - 1

    def bt_step(acc, _):
        j = acc.getField("j")
        cell = F.element_at(dp, j + 1)
        return F.when(
            j > 0,
            F.struct(
                (j - cell.getField("back")).alias("j"),
                F.concat(
                    F.array(cell.getField("piece")), acc.getField("ps")
                ).alias("ps"),
            ),
        ).otherwise(acc)

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        F.struct(
            n.cast("int").alias("j"),
            F.array().cast("array<string>").alias("ps"),
        ),
        bt_step,
    ).getField("ps")


def _uni_seg_frame(wc: DataFrame, scores: dict) -> DataFrame:
    """(word, cnt, ps): Viterbi segmentation of every word under
    `scores`. The dp array goes behind a Generate barrier (explode of
    a 1-element array) so the backtrack's per-iteration references
    read ONE materialized column instead of re-inlining the whole
    forward pass (the text_dedup_lines inlining-hazard pattern)."""
    seg = wc.select(
        "word",
        "cnt",
        F.explode(F.array(_uni_dp(F.col("word"), _uni_vmap(scores)))).alias(
            "__dp"
        ),
    )
    return seg.select("word", "cnt", _uni_backtrack(F.col("__dp")).alias("ps"))


def _uni_estep_counts(wc: DataFrame, scores: dict) -> dict:
    """Hard-EM E-step: piece usage counts under the Viterbi
    segmentation (≤vocab rows collect — the model, not the data)."""
    rows = (
        _uni_seg_frame(wc, scores)
        .select("cnt", F.explode("ps").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .collect()
    )
    return {r["piece"]: int(r["c"]) for r in rows}


def _uni_train(docs: DataFrame) -> tuple[list, dict, DataFrame]:
    """Two-E-step hard-EM train: seed → E1 → prune (keep all chars at
    count ≥ 1, top-UNI_TARGET_MULTI used multi-char pieces) → rescore
    → E2. Returns (sorted (piece, n_uses, score) rows, final scores,
    the CHECKPOINTED FINAL SEGMENTATION (word, cnt, ps) — the E2 pass
    runs exactly once and `text_unigram_encode` reuses it instead of
    re-segmenting; r7 review finding)."""
    wc = _uni_wc(docs)
    chars, multi = _uni_seed(wc)
    if not chars:
        return [], {}, None  # empty corpus — no vocabulary is definable
    s0 = _uni_scores({**chars, **multi})
    c1 = _uni_estep_counts(wc, s0)
    chars1 = {p: max(c1.get(p, 0), 1) for p in chars}
    multi1 = dict(
        sorted(
            ((p, c1[p]) for p in multi if c1.get(p, 0) >= 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_TARGET_MULTI]
    )
    s1 = _uni_scores({**chars1, **multi1})
    seg = _uni_seg_frame(wc, s1).localCheckpoint(eager=True)
    c2 = {
        r["piece"]: int(r["c"])
        for r in seg.select("cnt", F.explode("ps").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
        .collect()
    }
    rows = sorted((p, c2.get(p, 0), s1[p]) for p in s1)
    return rows, s1, seg


def _uni_ilog2_sql(x: str) -> str:
    """The ilog2 contract as a DuckDB integer expression (bl via
    length(bin(x)) — x must be BIGINT)."""
    f = f"(length(bin({x})) - 1)"
    return (
        f"({UNI_LOG_SCALE} * {f} + (({x} - (CAST(1 AS BIGINT) << {f}))"
        f" * {UNI_LOG_SCALE}) // (CAST(1 AS BIGINT) << {f}))"
    )


def _uni_estep_sql(mp: str, seg: str, src: str = "t0w") -> str:
    """seg CTE: (word, cnt, ps VARCHAR[]) under map CTE `mp`.

    The Viterbi DP runs as a BREADTH-FIRST RECURSIVE CTE over word
    positions (one row per word per position), NOT as nested
    list_reduce lambdas: DuckDB 1.0 row-misaligns outer-column
    captures across nested lambdas in one SELECT (measured while
    building this: adding an unrelated projection CHANGES the result;
    a MATERIALIZED-CTE variant segfaults outright). The recursion
    carries a sliding UNI_MAXLEN-cell window of dp scores and best
    paths, so the step needs no lambda at all — candidates are a
    literal struct list into list_max (which ignores NULLs and
    compares (score, back) in field order, so ties prefer the LONGER
    piece exactly like the Spark array_max and the Python
    reference)."""

    def cand(l: int) -> str:
        lu = (
            f"map_extract({mp}.mp, substr(word, CAST(j + 2 - {l} AS INT),"
            f" {l}))"
        )
        return (
            f"CASE WHEN sc{l - 1} IS NOT NULL AND len({lu}) > 0 THEN"
            f" {{'score': sc{l - 1} + ({lu})[1],"
            f" 'back': CAST({l} AS INTEGER)}} END"
        )

    cands = ",\n        ".join(cand(l) for l in range(1, UNI_MAXLEN + 1))
    paths = " ".join(
        f"WHEN {l} THEN pa{l - 1}" for l in range(1, UNI_MAXLEN + 1)
    )
    return f"""{seg}r AS (
  SELECT word, cnt, 0 AS j,
         CAST(0 AS BIGINT) AS sc0, CAST(NULL AS BIGINT) AS sc1,
         CAST(NULL AS BIGINT) AS sc2, CAST(NULL AS BIGINT) AS sc3,
         CAST([] AS VARCHAR[]) AS pa0, CAST(NULL AS VARCHAR[]) AS pa1,
         CAST(NULL AS VARCHAR[]) AS pa2, CAST(NULL AS VARCHAR[]) AS pa3
  FROM {src}
  UNION ALL
  SELECT word, cnt, j + 1,
         best.score, sc0, sc1, sc2,
         (CASE best.back {paths} END)
           || [substr(word, CAST(j + 2 - best.back AS INT),
                      CAST(best.back AS INT))],
         pa0, pa1, pa2
  FROM (
    SELECT word, cnt, j, sc0, sc1, sc2, sc3, pa0, pa1, pa2, pa3,
      list_max([
        {cands}
      ]) AS best
    FROM {seg}r CROSS JOIN {mp}
    WHERE j < length(word)
  ) z
),
{seg} AS (
  SELECT word, cnt, pa0 AS ps FROM {seg}r WHERE j = length(word)
)"""


def _uni_with_clause() -> str:
    """The full training replay as CTEs: seed → s0/m0 → E1 → prune →
    s1/m1 → E2 — generated from the same constants the Spark trainer
    uses (the generate-from-constants rule).

    t0w/sub/s0/s1/m0/m1 are MATERIALIZED (r7, the wordpiece.py
    CTE-inlining finding applied back): unmaterialized, DuckDB
    re-inlines the vocabulary MAP (m0/m1) into EVERY recursive
    Viterbi step — re-running the seed aggregate per word-position
    iteration (measured 2.9 s → 0.08 s for the train oracle, 4.9 s →
    0.10 s for ppl_filter at sf0.01, results bit-identical). None of
    these CTEs contain lambdas, so the VERIFICATION pattern 11
    MATERIALIZED-segfault caveat (nested lambda captures) does not
    apply; the recursive e1/e2 CTEs themselves stay plain — DuckDB
    already materializes recursion by necessity."""
    return f"""WITH RECURSIVE t0w AS MATERIALIZED (
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents) GROUP BY 1
),
sub AS MATERIALIZED (
  SELECT substr(word, CAST(i.i + 1 AS INT), CAST(l.l AS INT)) AS piece,
         CAST(SUM(cnt) AS BIGINT) AS c
  FROM t0w,
       LATERAL (SELECT unnest(range(1, {UNI_MAXLEN} + 1)) AS l) l,
       LATERAL (SELECT unnest(range(length(word) - CAST(l.l AS INT) + 1))
                AS i) i
  GROUP BY 1
),
chars0 AS MATERIALIZED (SELECT piece, c FROM sub WHERE length(piece) = 1),
multi0 AS (
  SELECT piece, c FROM (
    SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
    FROM sub WHERE length(piece) > 1) z
  WHERE rn <= {UNI_SEED_MULTI}
),
v0 AS (SELECT * FROM chars0 UNION ALL SELECT * FROM multi0),
tot0 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v0),
s0 AS MATERIALIZED (SELECT piece,
              CAST({_uni_ilog2_sql('c')} - {_uni_ilog2_sql('t')} AS BIGINT)
                AS s
       FROM v0 CROSS JOIN tot0),
m0 AS MATERIALIZED (SELECT map(list(piece ORDER BY piece), list(s ORDER BY piece)) AS mp
       FROM s0),
{_uni_estep_sql('m0', 'e1')},
c1 AS (SELECT u.piece, CAST(SUM(cnt) AS BIGINT) AS c
       FROM e1, LATERAL (SELECT unnest(ps) AS piece) u GROUP BY 1),
chars1 AS (
  SELECT v.piece, GREATEST(COALESCE(c1.c, 0), 1) AS c
  FROM chars0 v LEFT JOIN c1 ON v.piece = c1.piece
),
multi1 AS (
  SELECT piece, c FROM (
    SELECT c1.piece, c1.c,
           ROW_NUMBER() OVER (ORDER BY c1.c DESC, c1.piece) AS rn
    FROM c1 JOIN multi0 USING (piece)) z
  WHERE rn <= {UNI_TARGET_MULTI}
),
v1 AS (SELECT * FROM chars1 UNION ALL SELECT * FROM multi1),
tot1 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v1),
s1 AS MATERIALIZED (SELECT piece,
              CAST({_uni_ilog2_sql('c')} - {_uni_ilog2_sql('t')} AS BIGINT)
                AS s
       FROM v1 CROSS JOIN tot1),
m1 AS MATERIALIZED (SELECT map(list(piece ORDER BY piece), list(s ORDER BY piece)) AS mp
       FROM s1),
{_uni_estep_sql('m1', 'e2')},
c2 AS (SELECT u.piece, CAST(SUM(cnt) AS BIGINT) AS c
       FROM e2, LATERAL (SELECT unnest(ps) AS piece) u GROUP BY 1)"""


_UNI_TRAIN_ORACLE = (
    _uni_with_clause()
    + """
SELECT s1.piece, COALESCE(c2.c, CAST(0 AS BIGINT)) AS n_uses, s1.s AS score
FROM s1 LEFT JOIN c2 ON s1.piece = c2.piece
"""
)


@query("text_unigram_train", oracle=_UNI_TRAIN_ORACLE)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a unigram-LM (SentencePiece-style) tokenizer over
    `documents` — the second of the two dominant subword algorithms
    (the BPE trainer above is the other): seed all ≤UNI_MAXLEN-char
    substrings, hard-EM (Viterbi segment → usage counts), prune to
    all single chars + the top UNI_TARGET_MULTI used multi-char
    pieces, re-score, re-segment. Surface = the trained piece table
    (piece, final usage count, fixed-point log2 score) — what a
    tokenizer runtime loads. NOT the same surface as
    `text_unigram_logprob` (a word-level LM quality score); this
    learns SUBWORD units.

    Exactness: all-integer fixed-point log2 scores (module contract
    above) — DuckDB replays seeding, both E-steps (Viterbi as a
    breadth-first recursive CTE), the prune, and the scores
    bit-exactly, and tests pin the trainer against a pure-Python
    reference on randomized corpora (the BPE evidence standard).

    Scale shape: ONE corpus scan (the checkpointed word-count
    relation); seeding is a Heaps-bounded substring aggregate; each
    E-step is one distributed fold pass over words with the vocab as
    a map literal (→ broadcast join at production vocab sizes); the
    driver only ever holds ≤vocab-sized count tables."""
    docs = table(spark, sf_dir, "documents")
    rows, _, _ = _uni_train(docs)
    return spark.createDataFrame(
        rows, "piece string, n_uses bigint, score bigint"
    )


_UNI_ENCODE_ORACLE = (
    _uni_with_clause()
    + f""",
wp AS (SELECT word, CAST(len(ps) AS BIGINT) AS n_pieces FROM e2),
tokc AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS word FROM documents
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wp.n_pieces) AS BIGINT) AS n_pieces,
       CAST(MAX(wp.n_pieces) AS INTEGER) AS max_word_pieces
FROM tokc t JOIN wp USING (word)
GROUP BY t.doc_id
"""
)


@query("text_unigram_encode", oracle=_UNI_ENCODE_ORACLE)
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram tokenizer to the corpus: per-doc word
    count, total piece budget, and worst single-word fragmentation —
    the `text_bpe_encode` surface for the unigram algorithm, so the
    two tokenizer families are directly comparable on the same corpus.
    Encoding reuses the trainer's CHECKPOINTED final segmentation
    relation (the E2 pass runs once for counts and encode alike) and
    joins it to the token stream — per-doc cost is a
    fingerprint-sized equi-join, never a re-segmentation."""
    docs = table(spark, sf_dir, "documents")
    _, s1, seg = _uni_train(docs)
    if not s1:
        return spark.createDataFrame(
            [], "doc_id bigint, n_words bigint, n_pieces bigint, "
            "max_word_pieces int"
        )
    wp = seg.select("word", F.size("ps").cast("bigint").alias("n_pieces"))
    words = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return (
        words.join(wp, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.max("n_pieces").cast("int").alias("max_word_pieces"),
        )
    )


_UNI_FERTILITY_ORACLE = (
    _uni_with_clause()
    + f""",
tokl AS (
  SELECT lang, unnest({_DUCK_TOKENS}) AS word FROM documents
)
SELECT t.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(e.ps)) AS BIGINT) AS n_pieces,
       CAST(COUNT(*) FILTER (WHERE len(e.ps) > 1) AS BIGINT)
         AS n_split_words,
       CAST(MAX(len(e.ps)) AS INTEGER) AS max_word_pieces
FROM tokl t JOIN e2 e USING (word)
GROUP BY t.lang
"""
)


@query("text_unigram_fertility", oracle=_UNI_FERTILITY_ORACLE)
def text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of the trained UNIGRAM tokenizer — the
    `text_bpe_fertility` measurement for the second algorithm, so the
    fairness comparison (which languages fragment worse) can be made
    BETWEEN tokenizer families on the same corpus: per lang, word
    occurrences, total pieces, words that split, worst fragmentation.
    Reuses the trainer's checkpointed final segmentation — one
    equi-join to the lang-tagged token stream, no re-segmentation."""
    docs = table(spark, sf_dir, "documents")
    _, s1, seg = _uni_train(docs)
    if not s1:
        return spark.createDataFrame(
            [], "lang string, n_words bigint, n_pieces bigint, "
            "n_split_words bigint, max_word_pieces int"
        )
    wp = seg.select("word", F.size("ps").alias("n_sub"))
    tok = docs.select(
        "lang", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    return tok.join(wp, "word").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sub").cast("bigint").alias("n_pieces"),
        F.count_if(F.col("n_sub") > 1).alias("n_split_words"),
        F.max("n_sub").cast("int").alias("max_word_pieces"),
    )


_PPL_ORACLE = (
    _uni_with_clause()
    + f""",
wsc AS (
  SELECT word,
         CAST(len(ps) AS BIGINT) AS n_pieces,
         CAST(list_sum(list_transform(ps, q -> map_extract(m1.mp, q)[1]))
              AS BIGINT) AS wscore
  FROM e2 CROSS JOIN m1
),
tokc AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS word FROM documents
),
per AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(w.n_pieces) AS BIGINT) AS n_pieces,
         CAST(SUM(w.wscore) AS BIGINT) AS ts
  FROM tokc t JOIN wsc w USING (word)
  GROUP BY t.doc_id
),
scored AS (
  SELECT doc_id, n_words, n_pieces,
         CAST((ts * 1000 - (((ts * 1000) % n_pieces) + n_pieces) % n_pieces)
              // n_pieces AS BIGINT) AS score_milli
  FROM per
),
nsc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
rankedq AS (
  SELECT s.*, ROW_NUMBER() OVER (ORDER BY score_milli DESC, doc_id) AS rn,
         nsc.n
  FROM scored s CROSS JOIN nsc
)
SELECT d.doc_id,
       COALESCE(r.n_words, CAST(0 AS BIGINT)) AS n_words,
       COALESCE(r.n_pieces, CAST(0 AS BIGINT)) AS n_pieces,
       r.score_milli,
       CASE WHEN r.doc_id IS NULL THEN 'empty'
            WHEN (r.rn - 1) * 3 < r.n THEN 'head'
            WHEN (r.rn - 1) * 3 < 2 * r.n THEN 'middle'
            ELSE 'tail' END AS band,
       (r.doc_id IS NOT NULL AND (r.rn - 1) * 3 < 2 * r.n) AS keep
FROM documents d LEFT JOIN rankedq r USING (doc_id)
"""
)


@query("text_ppl_filter", oracle=_PPL_ORACLE)
def text_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality split (Wenzek et al. 2020):
    score every document under the trained unigram LM (average
    fixed-point log2 probability per PIECE — higher = more
    natural-language-like), rank the corpus, and band it into the
    CCNet terciles head / middle / tail; the standard gate keeps
    head+middle (`keep`). Docs with no tokens band as 'empty' with a
    NULL score and keep=false. The score is exact integer end-to-end:
    per-word piece scores from the trained table, per-doc floor-milli
    average via the pmod idiom (DuckDB's `//` truncates toward zero —
    same trap as the k-means floor-mean).

    Scale shape: one token-stream scan joined to the checkpointed
    segmentation (fingerprint-width keys), one per-doc aggregate. The
    tercile rank is an exact global ROW_NUMBER over the (doc_id,
    4 ints) score relation computed the SCALABLE way (r10; the r9
    draft's single unpartitioned window was the registry's one
    corpus-wide global sort): `scored_global_rank` buckets by
    approx-percentile cutpoints of the score and adds broadcast
    cumulative offsets — exact rank, no single-task sort (rank.py
    has the proof sketch)."""
    docs = table(spark, sf_dir, "documents")
    _, s1, seg = _uni_train(docs)
    if not s1:
        return docs.select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_words"),
            F.lit(0).cast("bigint").alias("n_pieces"),
            F.lit(None).cast("bigint").alias("score_milli"),
            F.lit("empty").alias("band"),
            F.lit(False).alias("keep"),
        )
    vmap1 = _uni_vmap(s1)
    wsc = seg.select(
        "word",
        F.size("ps").cast("bigint").alias("n_pieces"),
        F.aggregate(
            F.transform("ps", lambda q: F.try_element_at(vmap1, q)),
            F.lit(0).cast("bigint"),
            lambda acc, y: acc + y,
        ).alias("wscore"),
    )
    tokc = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    per = (
        tokc.join(wsc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum("wscore").cast("bigint").alias("ts"),
        )
    )
    # (doc_id, 4 ints) — consumed twice (the count and the rank);
    # checkpoint so the token-stream join runs once, not per consumer
    scored = per.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.expr(
            "(ts * 1000 - pmod(ts * 1000, n_pieces)) div n_pieces"
        ).cast("bigint").alias("score_milli"),
    ).localCheckpoint(eager=True)
    from gmt_dbt_spark.rank import scored_global_rank

    ranked = scored_global_rank(
        scored, "score_milli", "doc_id", total_name="n"
    )
    band = (
        F.when((F.col("rn") - 1) * 3 < F.col("n"), F.lit("head"))
        .when((F.col("rn") - 1) * 3 < 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    r = ranked.select(
        "doc_id", "n_words", "n_pieces", "score_milli",
        band.alias("band"),
        ((F.col("rn") - 1) * 3 < 2 * F.col("n")).alias("keep"),
    )
    return (
        docs.select("doc_id")
        .join(r, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
            F.coalesce("n_pieces", F.lit(0).cast("bigint")).alias("n_pieces"),
            "score_milli",
            F.coalesce("band", F.lit("empty")).alias("band"),
            F.coalesce("keep", F.lit(False)).alias("keep"),
        )
    )


def _sink_artifacts_oracle() -> str:
    """Recompute both trained artifacts straight from the training
    replays (the BPE chain and the unigram chain share one WITH —
    their CTE names are disjoint) and fingerprint the same canonical
    serialization the Spark side computes from the RELOADED parquet."""
    bpe_union = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, a, b, n FROM p{i}" for i in range(1, N_MERGES + 1)
    )
    bpe_ctes = _bpe_with_clause(N_MERGES)[len("WITH ") :]
    return f"""{_uni_with_clause()},
{bpe_ctes}
SELECT 'bpe' AS family, CAST(COUNT(*) AS BIGINT) AS n_entries,
       md5(COALESCE(string_agg(step || ':' || a || ':' || b || ':' || n,
                               '|' ORDER BY step), '')) AS fp
FROM ({bpe_union})
UNION ALL
SELECT 'unigram' AS family, CAST(COUNT(*) AS BIGINT) AS n_entries,
       md5(COALESCE(string_agg(
             piece || ':' || n_uses || ':' || score, '|' ORDER BY piece),
           '')) AS fp
FROM (SELECT s1.piece, COALESCE(c2.c, CAST(0 AS BIGINT)) AS n_uses,
             s1.s AS score
      FROM s1 LEFT JOIN c2 ON s1.piece = c2.piece)
"""


@query("sink_tokenizer_artifacts", oracle=_sink_artifacts_oracle())
def sink_tokenizer_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ARTIFACT lifecycle: train both families (the BPE
    merge table and the unigram piece table), persist each to a real
    parquet sink, RELOAD, and fingerprint the reloaded artifact with a
    canonical serialization (sorted rows joined '|', md5) — so the
    value-hash proves the artifacts survive the write/read round-trip
    byte-for-byte (schema, ints, negative scores, unicode pieces).
    The oracle recomputes both fingerprints straight from the training
    replays, never from the files — any loss in the sink shows as a
    hash mismatch.

    Scale note: both artifacts are model-sized (merges + pieces), so
    the sink is a k-row write; the training costs are the two
    trainers' documented shapes."""
    import os

    from gmt_dbt_spark.session import scratch_dir
    from gmt_dbt_spark.sources.sinks import sink_ctas

    docs = table(spark, sf_dir, "documents")
    merge_rows, _ = _train_chain_batched(docs)
    uni_rows, _, _ = _uni_train(docs)
    with scratch_dir("tok_artifacts") as out:
        def fp_of(df: DataFrame, fam: str, cols: list) -> DataFrame:
            ser = F.transform(
                F.sort_array(F.collect_list(F.struct(*cols))),
                lambda s: F.concat_ws(
                    ":", *[s.getField(c).cast("string") for c in cols]
                ),
            )
            return df.agg(
                F.lit(fam).alias("family"),
                F.count(F.lit(1)).alias("n_entries"),
                F.md5(F.concat_ws("|", ser)).alias("fp"),
            )

        bpe = fp_of(
            sink_ctas(
                spark,
                spark.createDataFrame(merge_rows, "step int, a string, b string, n bigint"),
                os.path.join(out, "bpe"),
            ),
            "bpe",
            ["step", "a", "b", "n"],
        )
        uni = fp_of(
            sink_ctas(
                spark,
                spark.createDataFrame(uni_rows, "piece string, n_uses bigint, score bigint"),
                os.path.join(out, "unigram"),
            ),
            "unigram",
            ["piece", "n_uses", "score"],
        )
        # lineage-cut from the scratch paths before cleanup
        return bpe.unionByName(uni).localCheckpoint(eager=True)
