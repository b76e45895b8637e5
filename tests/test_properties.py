"""Property-based tests (hypothesis) for the pure-Python pieces:
sanitize semantics (ported from the reference `main.py:215-230`,
`main.py:384-387`) and the Jinja-lite model compiler. No Spark
session — these run in milliseconds and fuzz the corners example
tests miss (unicode, leading digits, empty strings, regex metachars).
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from gmt_dbt_spark.plans.models import Model, compile_model
from gmt_dbt_spark.sources.sanitize import sanitize_name, sanitize_table_name

VALID = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*\Z")  # \Z: $ would match before a trailing \n

names = st.text(min_size=1, max_size=40)


@given(names)
@settings(max_examples=300)
def test_sanitize_output_is_valid_identifier(name):
    out = sanitize_name(name)
    assert VALID.match(out), f"{name!r} -> {out!r}"


@given(names)
@settings(max_examples=300)
def test_sanitize_idempotent(name):
    once = sanitize_name(name)
    assert sanitize_name(once) == once


@given(names)
@settings(max_examples=300)
def test_sanitize_table_name_valid_and_idempotent(name):
    out = sanitize_table_name(name)
    assert VALID.match(out)
    assert sanitize_table_name(out) == out


@given(names)
@settings(max_examples=300)
def test_sanitize_preserves_already_clean(name):
    # a name that is already a valid identifier must pass through
    if VALID.match(name):
        assert sanitize_name(name) == name


@given(st.text(alphabet=string.ascii_lowercase + "_", min_size=1, max_size=12))
@settings(max_examples=100)
def test_compile_never_leaves_jinja(src_name):
    m = Model(
        "m",
        "{{ config(materialized='view') }} "
        f"SELECT 1 FROM {{{{ source('s', '{src_name}') }}}}",
    )
    compile_model(m, {("s", src_name): f"resolved_{src_name}"}, {"m"})
    assert "{{" not in m.compiled_sql and "}}" not in m.compiled_sql
    assert f"resolved_{src_name}" in m.compiled_sql


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=512)
)
def test_wav_roundtrip_arbitrary_pcm(samples):
    """Any int16 PCM sequence must survive encode → chunk-walk decode
    bit-exactly (including the empty stream)."""
    import numpy as np

    from gmt_dbt_spark.operators.codecs import make_wav, parse_wav

    s = np.asarray(samples, dtype=np.int16)
    out = parse_wav(make_wav(s))
    assert out["sample_rate"] == 16000
    assert np.array_equal(out["samples"], s)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=23),
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_bmp_roundtrip_arbitrary_images(w, h, seed):
    """Any (h, w, 3) uint8 image must survive BMP encode/decode
    bit-exactly across all stride paddings (w mod 4 ∈ {0,1,2,3})."""
    import numpy as np

    from gmt_dbt_spark.operators.codecs import make_bmp, parse_bmp

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(parse_bmp(make_bmp(px)), px)


# ---------------------------------------------------------------------------
# Numeric kernel properties for the round-2 continuation operators.
# ---------------------------------------------------------------------------

# normal-range doubles: subnormals DO lose mantissa bits on an
# exponent shift, which is why the property (and the EMA operator's
# domain — event values) excludes them
normal_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
).filter(lambda x: x == 0.0 or abs(x) > 1e-290)


@given(normal_doubles, st.integers(min_value=0, max_value=10))
@settings(max_examples=300, deadline=None)
def test_dyadic_products_are_exact(x, d):
    """The events_ema cross-engine bet: multiplying a NORMAL double
    by 2^-d is EXACT (a bare exponent shift, no mantissa rounding) —
    so the EMA's per-term products carry no engine-dependent error;
    only the (order-pinned) additions round."""
    from fractions import Fraction

    product = x * (0.5**d)
    assert Fraction(product) == Fraction(x) * Fraction(1, 2**d)


@given(st.lists(st.integers(min_value=-32768, max_value=32767),
                min_size=1, max_size=400))
@settings(max_examples=200, deadline=None)
def test_audio_features_match_naive_loop(samples):
    """The vectorized audio kernel equals a naive per-sample loop —
    in particular the int64 widening: adjacent-sample products reach
    32768², which wraps in int16 and would corrupt zero-crossings."""
    import math

    from gmt_dbt_spark.operators.multimodal import audio_features

    n, zc, peak, clip, rms = audio_features(samples)
    assert n == len(samples)
    assert zc == sum(
        1 for a, b in zip(samples, samples[1:]) if a * b < 0
    )
    assert peak == max(abs(s) for s in samples)
    assert clip == sum(1 for s in samples if abs(s) >= 1000)
    assert rms == math.sqrt(sum(s * s for s in samples) / len(samples))


@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=50, deadline=None)
def test_md5_hash_family_cross_engine_parity(tokens):
    """The r3 replay oracles all stand on ONE primitive: Spark's
    `conv(substring(md5(x),1,8),16,10)` equals Python's
    `int(md5(x)[:8], 16)` equals DuckDB's
    `CAST('0x'||substr(md5(x),1,8) AS BIGINT)` for arbitrary unicode
    input. Fuzz the Python↔DuckDB pair here (Spark↔DuckDB is pinned
    by the full oracle sweep over real data); md5 operates on
    UTF-8 bytes in all three engines."""
    import hashlib

    import duckdb

    con = duckdb.connect()
    for t in tokens:
        expect = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
        got = con.execute(
            "SELECT CAST('0x' || substr(md5(?), 1, 8) AS BIGINT)", [t]
        ).fetchone()[0]
        assert got == expect, t


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # token count (0 = empty)
            st.integers(min_value=0, max_value=7),  # source id
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_unimax_water_fill_sql_invariants(docs):
    """Fuzz the SHIPPED water-fill SQL (the exact CTE text both the
    planner oracle and the Spark twin mirror) over random corpora in
    DuckDB: allocations are feasible (0 ≤ alloc ≤ cap), capped
    sources get exactly their cap, the budget is spent exactly when
    any source is uncapped, uncapped sources sit on one common level
    (within the one-token remainder), no capped source's cap exceeds
    the level, and epochs_ppm never divides by zero."""
    import duckdb
    import pandas as pd

    from gmt_dbt_spark.operators.curation import (
        _UNIMAX_PLAN_CTES,
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": ["w " * nt if nt else "" for nt, _ in docs],
            "source": [f"s{s}" for _, s in docs],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    rows = con.execute(
        f"WITH {_UNIMAX_PLAN_CTES} SELECT * FROM plan"
    ).fetchall()
    cols = [d[0] for d in con.description]
    rows = [dict(zip(cols, r)) for r in rows]
    total = sum(r["n_tokens"] for r in rows)
    budget = total * UNIMAX_BUDGET_NUM // UNIMAX_BUDGET_DEN
    for r in rows:
        assert 0 <= r["alloc_tokens"] <= r["cap_tokens"]
        if r["is_capped"]:
            assert r["alloc_tokens"] == r["cap_tokens"]
        if r["n_tokens"] == 0:
            assert r["epochs_ppm"] == 0 and r["alloc_tokens"] == 0
        else:
            assert (
                r["epochs_ppm"]
                == r["alloc_tokens"] * 10**6 // r["n_tokens"]
            )
    uncapped = [r["alloc_tokens"] for r in rows if not r["is_capped"]]
    if uncapped:
        assert sum(r["alloc_tokens"] for r in rows) == budget
        assert max(uncapped) - min(uncapped) <= 1
        capped_caps = [r["cap_tokens"] for r in rows if r["is_capped"]]
        if capped_caps:
            assert max(capped_caps) <= min(uncapped) + 1
    else:
        assert sum(r["alloc_tokens"] for r in rows) <= budget


def test_phash_is_orientation_sensitive():
    """multimodal_phash_dedup's headline claim — the dHash pins image
    ORIENTATION (the order-free sum/histogram oracles can't) — must
    not be vacuous: a vertical flip of the decoded pixels has to
    change the hash for EVERY fixture image. Calls the op's own
    `phash` over the op's own decoded `pixels`.

    r7 made the pin CLASS-COMPLETE: the 56 horizontal-gradient bits
    alone were flip-sensitive on only 19/48 geometry classes (the
    generator's rows are near-translates, so horizontal signs repeat
    across rows except at mod-256 wraparounds), so bits 56..62 now
    hash the vertical gradient signs down sampled column 0 — a row
    flip reverses that comparison chain and survives only under an
    anti-symmetric tie pattern. Measured: 48/48 classes AND 200/200
    fixture images flip-sensitive, both asserted exactly."""
    from gmt_dbt_spark.operators.multimodal import phash, pixels

    changed_classes = 0
    for doc_id in range(0, 48):  # covers every (w, h) geometry class
        px = pixels(doc_id)
        if phash(px) != phash(px[::-1]):
            changed_classes += 1
    assert changed_classes == 48, f"flip changed only {changed_classes}/48"
    changed_imgs = 0
    for doc_id in range(0, 200):  # the full registered fixture slice
        px = pixels(doc_id)
        if phash(px) != phash(px[::-1]):
            changed_imgs += 1
    assert changed_imgs == 200, f"flip changed only {changed_imgs}/200"


# ---- canon_frame multiset property (the r6 ADVICE fix) -------------


def _cell_strategy():
    """Cells spanning the cross-engine degradation zoo: ints, floats
    (incl. values whose raw sort-order vs their Decimal twin could
    differ), Decimals, strings, None."""
    import decimal

    return st.one_of(
        st.integers(min_value=-10, max_value=10),
        st.sampled_from([1.0, 1.5, -0.0, 0.0, 2.0, None]),
        st.sampled_from(
            [decimal.Decimal("1.0"), decimal.Decimal("1.5"), decimal.Decimal("2")]
        ),
        st.sampled_from(["a", "b", ""]),
    )


@given(
    st.lists(
        st.tuples(_cell_strategy(), _cell_strategy()),
        min_size=0,
        max_size=12,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_canon_frame_is_permutation_invariant(rows, rng):
    """The r6 ADVICE fix in property form: two pandas frames that are
    ROW PERMUTATIONS of each other must canonicalize identically —
    even when tie groups (rows equal after normalization but with
    different raw sort keys, e.g. Decimal('1.0') vs 1.0) land in
    different raw orders on the two sides. The pre-fix positional
    compare failed exactly this class."""
    import pandas as pd

    from tools.selfcheck import canon_frame

    shuffled = list(rows)
    rng.shuffle(shuffled)
    a = pd.DataFrame(rows, columns=["x", "y"])
    # same data, rows permuted, COLUMN ORDER flipped (the canonizer
    # must reorder columns by name before anything else)
    b = pd.DataFrame(shuffled, columns=["x", "y"])[["y", "x"]]
    try:
        ca = canon_frame(a, "spark")
    except TypeError:
        # unhashable-cell crash parity is covered elsewhere; the
        # strategies here are all hashable, so this must not happen
        raise
    cb = canon_frame(b, "oracle")
    assert ca == cb


# ---- pack_frame arithmetic properties ------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60)
)
@settings(max_examples=200, deadline=None)
def test_pack_arithmetic_invariants(toks):
    """The shared pack arithmetic (pack_frame / pack_concat_chunk) in
    pure-Python form, fuzzed: for any per-doc token sequence within
    one source, (1) pack ids are non-decreasing, (2) a doc's
    first_chunk equals its pack_id (the two layouts agree at the
    start boundary), (3) head_off ∈ [0, BUDGET), (4) chunk spans
    tile: n_chunks == last - first + 1 ≥ 1, and (5) the total token
    mass equals the sum over chunk spans of per-chunk contributions
    (no token lost or double-counted by the split arithmetic)."""
    from gmt_dbt_spark.operators.curation import PACK_BUDGET

    run = 0
    prev_pack = 0
    for tok in toks:
        pack_id = int(run // PACK_BUDGET)
        first = pack_id
        last = int((run + max(tok, 1) - 1) // PACK_BUDGET) if tok > 0 else first
        head = run - pack_id * PACK_BUDGET
        assert pack_id >= prev_pack
        assert 0 <= head < PACK_BUDGET
        assert last >= first
        if tok > 0:
            # chunk-span tiling: tokens in [run, run+tok) covered by
            # chunks first..last exactly once
            covered = 0
            for c in range(first, last + 1):
                lo = max(run, c * PACK_BUDGET)
                hi = min(run + tok, (c + 1) * PACK_BUDGET)
                assert hi > lo  # every spanned chunk contributes
                covered += hi - lo
            assert covered == tok
        prev_pack = pack_id
        run += tok


# ---- unigram trainer theorem pins (r7) ------------------------------


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=1 << 40))
def test_uni_ilog2_properties(x):
    """The fixed-point log2 contract: exact at powers of two
    (4096·log2), monotone non-decreasing, and always within one unit
    of scale of the true log2 from below (piecewise-linear chord of a
    concave function lies BELOW it, so ilog2/4096 ∈ (log2−0.0861,
    log2] — the chord gap of log2 maxes at 1−(1+ln ln 2)/ln 2)."""
    import math

    from gmt_dbt_spark.functions.tokenizer import UNI_LOG_SCALE, _uni_ilog2

    v = _uni_ilog2(x)
    if x & (x - 1) == 0:  # power of two: exact
        assert v == UNI_LOG_SCALE * (x.bit_length() - 1)
    assert _uni_ilog2(x + 1) >= v  # monotone
    true = math.log2(x)
    assert v <= true * UNI_LOG_SCALE + 1e-6
    assert v >= (true - 0.09) * UNI_LOG_SCALE - 1e-6


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_uni_viterbi_is_optimal(data):
    """The DP in the pure-Python unigram reference (which the Spark
    trainer and the DuckDB oracle are both pinned bit-identical to)
    must return a segmentation achieving the MAXIMUM total score over
    ALL legal segmentations — verified by exhaustive enumeration on
    small random words/vocabularies — and, among the maxima, the one
    the tie-break contract selects (greedily longest piece from the
    right, per DP cell). Parity green alone cannot prove optimality;
    this does."""
    from gmt_dbt_spark.functions.tokenizer import UNI_MAXLEN

    alpha = "ab"
    word = "".join(
        data.draw(st.sampled_from(alpha)) for _ in range(data.draw(
            st.integers(min_value=1, max_value=9)))
    )
    # random vocab: all single chars (always segmentable) + a random
    # subset of the word's own substrings, random integer scores
    scores = {}
    for c in set(alpha):
        scores[c] = data.draw(st.integers(min_value=-50, max_value=-1))
    for l in range(2, UNI_MAXLEN + 1):
        for i in range(len(word) - l + 1):
            p = word[i : i + l]
            if p not in scores and data.draw(st.booleans()):
                scores[p] = data.draw(st.integers(min_value=-80, max_value=-1))

    # the reference DP (mirror of tests/test_llm_ops._python_unigram)
    def segment(w):
        dp = [(0, 0)]
        for j in range(1, len(w) + 1):
            cands = []
            for l in range(1, min(UNI_MAXLEN, j) + 1):
                piece = w[j - l : j]
                if piece in scores:
                    cands.append((dp[j - l][0] + scores[piece], l))
            dp.append(max(cands))
        out, j = [], len(w)
        while j > 0:
            l = dp[j][1]
            out.append(w[j - l : j])
            j -= l
        return out[::-1], dp

    got, dp = segment(word)
    got_score = sum(scores[p] for p in got)
    assert "".join(got) == word

    # exhaustive enumeration of every legal segmentation
    def all_segs(w):
        if not w:
            yield []
            return
        for l in range(1, min(UNI_MAXLEN, len(w)) + 1):
            if w[:l] in scores:
                for rest in all_segs(w[l:]):
                    yield [w[:l]] + rest

    best = max(sum(scores[p] for p in s) for s in all_segs(word))
    assert got_score == best, (word, got, got_score, best)
    # tie-break: every DP cell's (score, l) must be the lex max over
    # that cell's candidates — i.e. the longest piece among maxima
    for j in range(1, len(word) + 1):
        cands = [
            (dp[j - l][0] + scores[word[j - l : j]], l)
            for l in range(1, min(UNI_MAXLEN, j) + 1)
            if word[j - l : j] in scores
        ]
        assert dp[j] == max(cands)
