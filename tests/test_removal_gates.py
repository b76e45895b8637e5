"""Direct-semantics tests for every REMOVAL gate (r6 VERDICT item 2).

Doctrine (r6, twice-proven; r7 found a third instance the moment this
sweep was written — dedup_embed_cosine's zero-norm hole): a GREEN
parity oracle proves the two engines AGREE, not that either is
correct — a bug mirrored into the oracle stays green. Every operator
that decides keep-vs-drop therefore needs at least one PLANTED
POSITIVE (a document constructed so it MUST be flagged/dropped) and
one PLANTED NEGATIVE (a clean document that must NEVER be flagged),
with the expectation computed independently of the oracle SQL — by
corpus construction and pure-Python arithmetic here, never by running
the oracle.

The sweep test at the bottom enumerates the registry: every query id
matching the removal/dedup name pattern must be classified below, and
every REMOVAL-classed gate must name at least one planted test that
actually exists — so a future removal gate cannot ship without its
planted evidence (it shows up in the registry, the sweep fails until
it is classified and tested).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gmt_dbt_spark.registry import all_queries

# --------------------------------------------------------------------
# Gate classification. class "removal": the surface IS a keep/drop
# decision (or the per-doc report a drop policy acts on) — planted
# tests REQUIRED. class "pair": emits candidate/verified pairs or
# cluster assignments consumed by a downstream keep/drop policy —
# planted tests where construction is deterministic (identical
# normalized content always pairs), otherwise documented coverage.
# class "audit": reports duplication statistics, drops nothing.
# Evidence tuples are (test module filename, test_name); the sweep
# checks each named test exists in its file, so renames/deletions
# fail loudly.
# --------------------------------------------------------------------

GATES = {
    # --- removal: keep/drop surfaces ---------------------------------
    "dedup_exact": {
        "class": "removal",
        "evidence": [("test_removal_gates", "test_dedup_exact_planted")],
    },
    "dedup_incremental": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_dedup_incremental_planted")
        ],
    },
    "dedup_url_canonical": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_dedup_url_canonical_planted")
        ],
    },
    "dedup_cross_corpus": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_decontamination_planted")
        ],
    },
    "dedup_bloom": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_decontamination_planted")
        ],
    },
    "pipeline_decontaminate": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_decontamination_planted")
        ],
    },
    "text_dedup_lines": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_text_dedup_lines_planted")
        ],
    },
    "pipeline_cluster_keep_best": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_cluster_keep_best_planted")
        ],
    },
    "pipeline_dedup_cascade": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_dedup_cascade_planted")
        ],
    },
    "multimodal_content_dedup": {
        "class": "removal",
        "evidence": [
            (
                "test_removal_gates",
                "test_multimodal_content_dedup_reference",
            )
        ],
    },
    "stream_dedup": {
        "class": "removal",
        "evidence": [("test_removal_gates", "test_stream_dedup_planted")],
    },
    "dedup_semdedup": {
        "class": "removal",
        "evidence": [
            (
                "test_adversarial_corpus",
                "test_semdedup_hot_cluster_cap_on_mode_collapse",
            ),
            (
                "test_adversarial_corpus",
                "test_semdedup_zero_vector_never_pairs",
            ),
        ],
    },
    # --- pair/assignment surfaces ------------------------------------
    "dedup_fuzzy": {
        "class": "pair",
        "evidence": [
            ("test_removal_gates", "test_fuzzy_pair_surfaces_planted")
        ],
    },
    "dedup_ngram_jaccard": {
        "class": "pair",
        "evidence": [
            ("test_removal_gates", "test_fuzzy_pair_surfaces_planted")
        ],
    },
    "dedup_incremental_minhash": {
        "class": "pair",
        "evidence": [
            (
                "test_removal_gates",
                "test_incremental_minhash_planted",
            )
        ],
    },
    "dedup_embed_cosine": {
        "class": "pair",
        "evidence": [
            (
                "test_adversarial_corpus",
                "test_embed_cosine_zero_vector_never_pairs",
            )
        ],
    },
    "dedup_simhash": {
        "class": "pair",
        "evidence": [
            (
                "test_adversarial_corpus",
                "test_simhash_bucket_cap_on_low_diversity_corpus",
            )
        ],
    },
    "multimodal_phash_dedup": {
        "class": "pair",
        # payloads are a deterministic per-doc_id generator (no two
        # identical images exist to plant); the direct-semantics pin
        # is the 48/48-class orientation-sensitivity property
        "evidence": [
            ("test_properties", "test_phash_is_orientation_sensitive")
        ],
    },
    "dedup_fuzzy_ml": {
        "class": "pair",
        # pinned pairwise-identical to the custom MinHash pipeline
        "evidence": [
            ("test_llm_ops", "test_ml_and_custom_minhash_agree")
        ],
    },
    "dedup_clusters": {
        "class": "pair",
        "evidence": [
            ("test_removal_gates", "test_cluster_keep_best_planted")
        ],
    },
    "dedup_clusters_star": {
        "class": "pair",
        "evidence": [
            ("test_removal_gates", "test_cluster_keep_best_planted")
        ],
    },
    "dedup_substring_rewrite": {
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_substring_rewrite_planted"),
            (
                "test_removal_gates",
                "test_substring_rewrite_matches_bruteforce_randomized",
            ),
        ],
    },
    # --- audits: report duplication, drop nothing --------------------
    "dedup_recall_audit": {
        "class": "audit",
        "evidence": [("test_removal_gates", "test_audit_gates_planted")],
    },
    "dedup_substring": {
        "class": "audit",
        "evidence": [("test_removal_gates", "test_audit_gates_planted")],
    },
    # --- r7 pattern extension: selection + rewrite gates --------------
    "text_ppl_filter": {
        # keep = head+middle terciles — a keep/drop surface; planted
        # expectations (bands, keeps, 'empty' rows) are pure-Python
        # derived in the reference-pin test
        "class": "removal",
        "evidence": [
            (
                "test_llm_ops",
                "test_ppl_filter_and_fertility_match_python_reference",
            )
        ],
    },
    "pipeline_dsir": {
        # keep = top-quartile importance rank — planted positives
        # (chemistry docs must be kept) and negatives (sports docs
        # must not) with pure-Python-derived scores/ranks
        "class": "removal",
        "evidence": [
            ("test_llm_ops", "test_dsir_selects_target_like_docs")
        ],
    },
    "text_pii_redact": {
        # span-rewrite gate (the text_dedup_lines class at pattern
        # granularity): planted positives per pattern with
        # hashlib-derived rewritten hashes, planted near-miss
        # negatives whose hash must equal the original text's
        "class": "removal",
        "evidence": [
            (
                "test_llm_ops",
                "test_pii_redact_planted_positive_and_negative",
            )
        ],
    },
    "text_pii_scrub": {
        # the seeded 20-doc demo sibling (see redact.py's
        # relationship note): synthetic PII is appended by
        # construction, so every row IS a planted positive; the
        # rewrite is hash-pinned by its oracle replay
        "class": "audit",
        "evidence": [],
    },
    # --- r9: the unicode opt-in's dedup gate --------------------------
    "dedup_exact_unicode": {
        # exact dedup keyed on the UNICODE canonical form: planted
        # positive (-1/-2 same CJK words mod punctuation → one
        # fingerprint), planted negative (-3 different CJK → never
        # collapses), plus the direct demonstration that the ASCII
        # default WOULD spuriously collapse all three — expectations
        # derived by the independent `regex`-module reference, never
        # the oracle SQL
        "class": "removal",
        "evidence": [
            ("test_unicode_text", "test_dedup_exact_unicode_planted")
        ],
    },
    "dedup_fuzzy_unicode": {
        # the unicode MinHash chain: planted CJK near-dup pair with
        # construction-derived (n_inter, n_union), planted disjoint
        # negative, and the demonstrated ASCII-default collapse
        "class": "pair",
        "evidence": [
            ("test_unicode_text", "test_dedup_fuzzy_unicode_planted")
        ],
    },
    "dedup_cjk_bigram_neardup": {
        # bigram-grain CJK near-dup: planted pair with construction-
        # derived (11, 13) distinct-char overlap, identical pair at
        # n_inter == n_union, and the no-CJK-docs-never-pair negative
        "class": "pair",
        "evidence": [
            ("test_unicode_text", "test_cjk_bigram_neardup_planted")
        ],
    },
    # --- r8 pattern extension: SPLIT / SAMPLE / PACK families --------
    # (r7 VERDICT item 3). Routing gates assign every doc to a
    # split/shard/pack rather than dropping any — but a wrong route
    # leaks eval data into train or corrupts the pack layout just as
    # silently as a wrong drop, and every one is planted-testable
    # independently of its oracle. class "route" carries the same
    # planted-evidence obligation as "removal".
    "pipeline_train_test_split": {
        # 90/10 Knuth-hash split: planted per-id expectations derived
        # by pure-Python replication of the gate arithmetic
        "class": "route",
        "evidence": [
            ("test_removal_gates", "test_train_test_split_planted")
        ],
    },
    "pipeline_group_split": {
        # dedup-aware split (assignment hashes the content-group
        # fingerprint): per-doc fingerprint/group-size/split all
        # derived independently via hashlib in the existing pin
        "class": "route",
        "evidence": [
            (
                "test_llm_ops",
                "test_group_split_duplicates_never_straddle",
            )
        ],
    },
    "sample_epoch_shuffle": {
        # md5(doc_id:epoch) shard routing: full (epoch, shard)
        # aggregate incl. n_moved derived via hashlib
        "class": "route",
        "evidence": [
            ("test_removal_gates", "test_epoch_shuffle_planted")
        ],
    },
    "sample_stratified": {
        # per-source rate gate doc_id % 10 < rate(source): planted
        # keep/drop sets per source derived by construction
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_sample_stratified_planted")
        ],
    },
    "sample_reservoir": {
        # fixed-k per-key draw ordered by md5(doc_id): expected top-k
        # ids derived via hashlib ordering
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_sample_reservoir_planted")
        ],
    },
    "sample_temperature": {
        # sqrt-proportional rates + Knuth id gate: perfect-square
        # corpus sizes make every rate exactly derivable in Python,
        # planted ids straddle one uncapped rate
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_sample_temperature_planted")
        ],
    },
    "sample_mixture_unimax": {
        # UniMax water-fill allocation plan: capped/uncapped corners,
        # tie handling, and zero-token guards pinned by pure algebra
        "class": "route",
        "evidence": [
            ("test_llm_ops", "test_unimax_edge_cases"),
            (
                "test_llm_ops",
                "test_unimax_token_count_ignores_empty_normalizations",
            ),
        ],
    },
    "pipeline_mixture_materialize": {
        # materialized epochs must equal the plan's allocation
        "class": "route",
        "evidence": [
            ("test_llm_ops", "test_unimax_materialize_matches_plan")
        ],
    },
    "pack_sequences": {
        # contiguous-fill pack assignment: hand-packed corpus +
        # cross-surface consistency with the other two layouts
        "class": "route",
        "evidence": [
            (
                "test_removal_gates",
                "test_pack_family_cross_surface_consistency",
            )
        ],
    },
    "pack_attention_layout": {
        "class": "route",
        "evidence": [
            (
                "test_removal_gates",
                "test_pack_family_cross_surface_consistency",
            )
        ],
    },
    "pack_concat_chunk": {
        "class": "route",
        "evidence": [
            (
                "test_removal_gates",
                "test_pack_family_cross_surface_consistency",
            ),
            (
                "test_removal_gates",
                "test_pack_concat_chunk_boundary_exact_planted",
            ),
        ],
    },
    "pack_nfd_audit": {
        # reports packing cost; drops/routes nothing itself
        "class": "audit",
        "evidence": [
            ("test_llm_ops", "test_pack_nfd_planted_and_reference")
        ],
    },
    "scan_tablesample": {
        # seeded Bernoulli sampler: sample CONTENT is engine- and
        # seed-specific, so no cross-engine planted expectation can
        # exist; the registered surface is itself the audit of the
        # two properties that are contractual (size within bound,
        # same-seed determinism), both computed as booleans
        "class": "audit",
        "evidence": [],
    },
    "text_c4_line_filter": {
        # C4 per-line boilerplate rules with rewrite: planted marker
        # lines / short lines dropped, clean lines kept, cleaned_md5
        # hashlib-derived from the hand-constructed survivors
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_c4_line_filter_planted")
        ],
    },
    "text_badwords_filter": {
        # blocklist gate: planted positive (blocklisted token →
        # keep=false) and negative (clean doc keeps), counts derived
        # by construction
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_badwords_filter_planted")
        ],
    },
    "text_badwords_filter_bcast": {
        # the broadcast-join production shape of the same gate —
        # pinned output-equal to the literal form by the direct test
        # AND by sharing the literal op's oracle; the planted
        # evidence transfers through that equality
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_badwords_filter_planted"),
            ("test_llm_ops", "test_badwords_broadcast_variant_matches_literal"),
        ],
    },
    "pipeline_c4_reproduce": {
        # the composed C4 funnel: every stage transition pinned on a
        # hand-built corpus (badwords drop, line-gate drop with a
        # marker that is NOT a badword, cleaned-text dedup election)
        "class": "removal",
        "evidence": [
            ("test_removal_gates", "test_c4_pipeline_planted")
        ],
    },
    "multimodal_frame_sample": {
        # stub-codec frame-index arithmetic (superseded by the real
        # WAV/BMP decoders, _TAIL-ranked); deterministic index math
        # pinned by its sha256-replay oracle, no corpus keep/drop
        "class": "audit",
        "evidence": [],
    },
    # r10: the multilingual quality gate — signals -> keep/drop
    "pipeline_script_quality_gate": {
        "class": "removal",
        "evidence": [
            ("test_unicode_text", "test_script_quality_gate_planted")
        ],
    },
    # r10 late: the per-script threshold TABLE form of the same
    # decision — planted FLIP evidence (table decides differently
    # from the global gate in both directions) plus the
    # fallback-equality pin
    "pipeline_quality_gate_per_script": {
        "class": "removal",
        "evidence": [
            (
                "test_script_quality",
                "test_quality_gate_per_script_planted_flips",
            )
        ],
    },
    # r10 late: the SELF-tuning gate (cuts from the corpus's own
    # per-script percentiles) — full independent replay of
    # signals -> cuts -> verdict for every doc
    "pipeline_quality_gate_autotuned": {
        "class": "removal",
        "evidence": [
            (
                "test_script_quality",
                "test_quality_gate_autotuned_full_replay",
            )
        ],
    },
    # r10 late: signal gates + the stopword sub-gate where a list
    # exists — planted keyword-stuffing positive drops ONLY via
    # pass_stop; CJK/short docs exempt (NULL ≡ not consulted)
    "pipeline_quality_gate_combined": {
        "class": "removal",
        "evidence": [
            (
                "test_script_quality",
                "test_quality_gate_combined_planted",
            )
        ],
    },
}


def _is_gate_name(name: str) -> bool:
    # r7 extension: the original pattern caught dedup-family gates
    # only; selection gates (keep flags: ppl terciles, DSIR) and
    # content-rewrite gates (PII span removal) decide what survives
    # just the same, so they enroll too.
    # r8 extension (r7 VERDICT item 3): SPLIT / SAMPLE / PACK
    # families — routing gates that assign every doc somewhere.
    # multimodal_audio_resample is deliberately NOT a gate (DSP rate
    # conversion, no selection decision), hence the specific
    # "sample" patterns instead of a substring match.
    return (
        "dedup" in name
        or "decontaminate" in name
        or "keep_best" in name
        or "ppl_filter" in name
        or "dsir" in name
        or "pii" in name
        or name.startswith("sample_")
        or name.startswith("pack_")
        or name.endswith("_split")
        or "tablesample" in name
        or "frame_sample" in name
        or "mixture" in name
        or "c4_" in name
        or "badwords" in name
        or "quality_gate" in name
    )


def test_removal_gate_sweep():
    """THE enforcement test: every registry id matching the gate name
    pattern is classified in GATES, every removal-classed gate names
    at least one planted test, and every named test exists. A new
    dedup/decontamination operator cannot register without tripping
    this until it is classified (and, if it removes, tested)."""
    registry_gates = {n for n in all_queries() if _is_gate_name(n)}
    assert registry_gates == set(GATES), (
        f"unclassified gates: {registry_gates - set(GATES)}; "
        f"stale entries: {set(GATES) - registry_gates}"
    )
    for name, meta in GATES.items():
        assert meta["class"] in ("removal", "route", "pair", "audit"), name
        if meta["class"] in ("removal", "route"):
            assert meta["evidence"], (
                f"{name}: {meta['class']} gate with no planted test"
            )
        for mod_name, test_name in meta["evidence"]:
            path = os.path.join(os.path.dirname(__file__), mod_name + ".py")
            assert os.path.exists(path), f"{name}: {mod_name}.py missing"
            with open(path) as f:
                assert f"def {test_name}(" in f.read(), (
                    f"{name}: {mod_name}.{test_name} missing"
                )


# --------------------------------------------------------------------
# Corpus helpers
# --------------------------------------------------------------------


def _write_docs(tmp_path, name, rows):
    """rows: list of (doc_id, text, lang, source)."""
    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": [len(r[1]) if r[1] is not None else 0 for r in rows],
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


# --------------------------------------------------------------------
# Planted tests
# --------------------------------------------------------------------


def test_dedup_exact_planted(spark, tmp_path):
    """Planted positive: doc 1 (byte-identical to doc 0) must be
    dropped. Planted negative: unique doc 2 must survive, as must the
    first copy (keep-lowest-id)."""
    d = _write_docs(
        tmp_path,
        "exact",
        [
            (0, "alpha beta gamma delta", "en", "srcx"),
            (1, "alpha beta gamma delta", "en", "srcy"),
            (2, "totally unrelated words here", "en", "srcx"),
        ],
    )
    kept = {r.doc_id for r in all_queries()["dedup_exact"](spark, d).collect()}
    assert kept == {0, 2}, kept


def test_fuzzy_pair_surfaces_planted(spark, tmp_path):
    """Planted positive for the MinHash pair surfaces: docs 0 and 1
    differ as raw bytes (so exact dedup would MISS them) but normalize
    to the identical token stream — identical shingle sets, identical
    signatures, guaranteed band collision, n_inter == n_union, so the
    pair passes ANY jaccard threshold deterministically (no banding
    luck involved). Planted negative: doc 2 shares zero shingles with
    anything and must appear in no pair — the verify is exact-set, so
    this holds even under a band-hash collision."""
    d = _write_docs(
        tmp_path,
        "fuzzy",
        [
            (0, "Alpha beta gamma delta epsilon zeta eta theta iota kappa",
             "en", "srcx"),
            (1, "alpha, beta GAMMA delta epsilon zeta eta theta iota kappa!!",
             "en", "srcx"),
            (2, "one two three four five six seven eight nine ten",
             "en", "srcx"),
        ],
    )
    qs = all_queries()
    for name in ("dedup_fuzzy", "dedup_ngram_jaccard"):
        rows = qs[name](spark, d).collect()
        pair = [r for r in rows if (r.id_a, r.id_b) == (0, 1)]
        assert pair, f"{name}: planted normalized-identical pair missing"
        assert pair[0].n_inter == pair[0].n_union, f"{name}: {pair[0]}"
        assert not [r for r in rows if 2 in (r.id_a, r.id_b)], name


def test_decontamination_planted(spark, tmp_path):
    """One corpus, three decontamination gates, with the PLANTED docs
    chosen to prove each gate's distinct blind spot:

    - doc 10 (train) hides the eval doc's full 8-gram MID-document
      (prefix differs): `pipeline_decontaminate` MUST flag it;
      `dedup_cross_corpus` (head fingerprint) must structurally MISS
      it — asserting the miss pins WHY the windowed gate exists.
    - doc 11 (train) shares the eval doc's first-5 tokens then
      diverges: `dedup_cross_corpus` and `dedup_bloom` MUST flag it;
      `pipeline_decontaminate` must NOT (no shared 8-gram).
    - doc 12 (train, src8) shares nothing: flagged by NOBODY.

    All counts below are derived by hand from the construction (12
    tokens -> 5 sliding 8-grams, exactly one contaminated)."""
    ev = "e1 e2 e3 e4 e5 e6 e7 e8"  # 8 tokens -> one 8-gram
    d = _write_docs(
        tmp_path,
        "decon",
        [
            (1, ev, "en", "src0"),  # eval doc (src0..src4 = eval)
            (10, "t1 t2 t3 e1 e2 e3 e4 e5 e6 e7 e8 t4", "en", "src9"),
            (11, "e1 e2 e3 e4 e5 x1 x2 x3", "en", "src9"),
            (12, "c1 c2 c3 c4 c5 c6 c7 c8 c9", "en", "src8"),
        ],
    )
    qs = all_queries()

    decon = {r.doc_id: r for r in qs["pipeline_decontaminate"](spark, d).collect()}
    assert set(decon) == {10}, decon
    assert decon[10].n_grams == 5, decon[10]       # 12 tokens -> 5 windows
    assert decon[10].n_bad_grams == 1, decon[10]
    assert decon[10].n_eval_docs == 1, decon[10]

    cross = {r.doc_id: r for r in qs["dedup_cross_corpus"](spark, d).collect()}
    assert set(cross) == {11}, cross               # head fp: misses 10
    assert cross[11].n_eval_matches == 1, cross[11]

    bloom = {r.source: r for r in qs["dedup_bloom"](spark, d).collect()}
    assert bloom["src9"].n_docs == 2 and bloom["src9"].n_exact_hits == 1
    assert bloom["src9"].no_false_neg and bloom["src9"].fpr_bounded
    assert bloom["src8"].n_docs == 1 and bloom["src8"].n_exact_hits == 0
    assert bloom["src8"].no_false_neg and bloom["src8"].fpr_bounded


def test_text_dedup_lines_planted(spark, tmp_path):
    """Planted positive: doc 1's first line (= doc 0's first line,
    the duplicate) must be REMOVED from its rebuilt text — the
    cleaned_md5 must equal md5 of doc 1's second line alone, computed
    here with hashlib. Planted negative: doc 0 (first occurrence)
    keeps both lines and its cleaned_md5 is the md5 of its full
    token stream."""
    la = " ".join(f"a{i}" for i in range(10))  # one 10-token line
    lb = " ".join(f"b{i}" for i in range(10))
    lc = " ".join(f"c{i}" for i in range(10))
    d = _write_docs(
        tmp_path,
        "lines",
        [(0, f"{la} {lb}", "en", "srcx"), (1, f"{la} {lc}", "en", "srcx")],
    )
    out = {r.doc_id: r for r in all_queries()["text_dedup_lines"](spark, d).collect()}
    assert out[0].n_lines == 2 and out[0].n_kept == 2, out[0]
    assert out[0].cleaned_md5 == hashlib.md5(
        f"{la} {lb}".encode()
    ).hexdigest(), out[0]
    assert out[1].n_lines == 2 and out[1].n_kept == 1, out[1]
    assert out[1].cleaned_md5 == hashlib.md5(lc.encode()).hexdigest(), out[1]


def test_cluster_keep_best_planted(spark, tmp_path):
    """Planted cluster: docs 10 and 11 share their first 5-token
    window (an edge), doc 11 is longer -> the keep-best policy must
    KEEP 11 and (implicitly) drop 10. Planted negative: singleton doc
    12 must form its own cluster and be kept, and so must the short
    docs 13 and 14: their second token window is empty, and an empty
    window is no near-dup key. The underlying label assignments
    (dedup_clusters AND the star-contraction variant) are asserted
    directly on the same corpus."""
    shared = "k1 k2 k3 k4 k5"
    t10 = f"{shared} a6 a7 a8 a9 a10"
    t11 = f"{shared} b6 b7 b8 b9 b10 plus extra trailing words"
    t12 = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"
    d = _write_docs(
        tmp_path,
        "keepbest",
        [(10, t10, "en", "srcx"), (11, t11, "en", "srcx"),
         (12, t12, "en", "srcx"), (13, "alpha beta gamma", "en", "srcx"),
         (14, "s1 s2 s3 s4 s5", "en", "srcx")],
    )
    qs = all_queries()
    for labeler in ("dedup_clusters", "dedup_clusters_star"):
        labels = {r.doc_id: r.cluster_id for r in qs[labeler](spark, d).collect()}
        assert labels == {10: 10, 11: 10, 12: 12, 13: 13, 14: 14}, (labeler, labels)
    rows = {r.cluster_id: r for r in
            qs["pipeline_cluster_keep_best"](spark, d).collect()}
    assert set(rows) == {10, 12, 13, 14}, rows
    assert rows[10].n_members == 2, rows[10]
    assert rows[10].kept_doc_id == 11, rows[10]        # longest wins
    assert rows[10].best_n_chars == len(t11), rows[10]
    for c in (12, 13, 14):
        assert rows[c].n_members == 1 and rows[c].kept_doc_id == c, rows[c]


def test_dedup_cascade_planted(spark, tmp_path):
    """Planted funnel, every count derived by hand:
    - src a: doc 0 unique, doc 1 byte-identical to doc 0 (exact stage
      MUST drop it), doc 2 = tokenwise copy of doc 3 but different raw
      bytes (exact stage must NOT drop it; the 8-gram stage must flag
      it contaminated).
    - src b: doc 3 (the other half of the tokenwise pair, flagged),
      doc 4 clean (planted negative: survives every stage)."""
    x = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
    y_raw = "Y1, y2 y3 y4 y5 y6 y7 Y8!"   # normalizes to y1..y8
    y_clean = "y1 y2 y3 y4 y5 y6 y7 y8"
    z = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"
    d = _write_docs(
        tmp_path,
        "cascade",
        [
            (0, x, "en", "srca"),
            (1, x, "en", "srca"),
            (2, y_raw, "en", "srca"),
            (3, y_clean, "en", "srcb"),
            (4, z, "en", "srcb"),
        ],
    )
    rows = {r.source: r for r in
            all_queries()["pipeline_dedup_cascade"](spark, d).collect()}
    a, b = rows["srca"], rows["srcb"]
    assert (a.n_docs, a.n_after_exact, a.n_contaminated, a.n_kept) == (3, 2, 1, 1), a
    assert (b.n_docs, b.n_after_exact, b.n_contaminated, b.n_kept) == (2, 2, 1, 1), b


def test_dedup_incremental_planted(spark, tmp_path):
    """Planted against the fingerprint store (doc_id % 5 != 0 = the
    accumulated corpus; % 5 == 0 = the new batch):
    - batch doc 5 re-sends corpus doc 1's exact text: MUST be dropped
      by the store probe (the planted positive);
    - batch docs 10 and 15 are identical NEW content: within-batch
      dedup keeps 10, drops 15;
    - batch doc 20 is clean and new: MUST survive (planted negative)."""
    d = _write_docs(
        tmp_path,
        "incr",
        [
            (1, "stored content one", "en", "srcx"),
            (2, "stored content two", "en", "srcx"),
            (5, "stored content one", "en", "srcx"),     # re-sent
            (10, "brand new batch text", "en", "srcx"),
            (15, "brand new batch text", "en", "srcx"),  # in-batch dup
            (20, "clean unique newcomer", "en", "srcx"),
        ],
    )
    survivors = {r.doc_id for r in
                 all_queries()["dedup_incremental"](spark, d).collect()}
    assert survivors == {10, 20}, survivors


def test_incremental_minhash_planted(spark, tmp_path):
    """Planted against the SIGNATURE store: batch doc 5 normalizes to
    corpus doc 1's exact token stream -> identical 12-component
    signature -> guaranteed band collision and n_match == 12 (the
    planted positive, deterministic — no banding luck). Batch doc 10
    shares no shingles with the corpus: no 8-of-12 component agreement
    is possible without hash collisions, so it must emit no row."""
    d = _write_docs(
        tmp_path,
        "incrmh",
        [
            (1, "Alpha beta gamma delta epsilon zeta", "en", "srcx"),
            (2, "other stored corpus document text", "en", "srcx"),
            (5, "alpha, beta GAMMA delta epsilon zeta!!", "en", "srcx"),
            (10, "q1 q2 q3 q4 q5 q6 q7", "en", "srcx"),
        ],
    )
    rows = all_queries()["dedup_incremental_minhash"](spark, d).collect()
    hit = [r for r in rows if (r.batch_id, r.corpus_id) == (5, 1)]
    assert hit and hit[0].n_match == 12, rows
    assert not [r for r in rows if r.batch_id == 10], rows


def test_dedup_url_canonical_planted(spark, tmp_path):
    """Planted positive: docs 0 and 200 synthesize URLs differing ONLY
    in utm_campaign presence (0%3==0 vs 200%3==2) and fragment (#frag0
    vs #frag4) — canonicalization must collapse them (tracking params
    and fragments are not content), electing MIN(doc_id)=0. The
    expected canonical string is built by hand here. Planted negative:
    doc 401 (unique path id 401%200=1) must not appear (no group >1)."""
    d = _write_docs(
        tmp_path,
        "urls",
        [
            (0, "t", "en", "srcx"),
            (200, "t", "en", "srcx"),
            (401, "t", "en", "srcx"),
        ],
    )
    rows = {r.canonical_url: r for r in
            all_queries()["dedup_url_canonical"](spark, d).collect()}
    want = "srcx.example.com/docs/0?lang=en"
    assert set(rows) == {want}, rows
    assert rows[want].n_urls == 2 and rows[want].canonical_doc == 0, rows[want]


def test_stream_dedup_planted(spark, tmp_path):
    """Planted positive: event_id 7 arrives twice — only the FIRST
    occurrence (by ts, then user_id) survives; the later re-delivery
    is dropped. Planted negative: unique event 8 passes through
    untouched."""
    import datetime as dt

    d = tmp_path / "evdedup"
    d.mkdir()
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (7, t0, 100, "click", 1.0, "{}"),
        (7, t0 + dt.timedelta(minutes=5), 200, "click", 2.0, "{}"),
        (8, t0 + dt.timedelta(minutes=1), 300, "view", 3.0, "{}"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": [r[0] for r in rows],
                "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [r[4] for r in rows],
                "props": [r[5] for r in rows],
            }
        ),
        str(d / "events.parquet"),
    )
    out = {r.event_id: r for r in
           all_queries()["stream_dedup"](spark, str(d)).collect()}
    assert set(out) == {7, 8}, out
    assert out[7].user_id == 100, out[7]  # the first arrival won
    assert out[8].user_id == 300, out[8]


def test_substring_rewrite_planted(spark, tmp_path):
    """ExactSubstr removal, every expectation hand-derived:
    - planted CROSS-DOC positive: doc 1 carries doc 0's 8-gram at
      positions 2..9; doc 0 holds the (doc_id, pos)-minimal keeper
      occurrence, so doc 1's span is dropped and its rebuilt text is
      exactly its two leading tokens;
    - planted WITHIN-DOC positive: doc 2 repeats its own 8-gram at
      position 8; the second occurrence is dropped, rebuilt = the
      first 8 tokens (the paper dedups within-doc repeats too);
    - planted negatives: keeper doc 0 and clean doc 3 pass through
      byte-identical (md5 of their own token stream); short doc 4
      (< 8 tokens, no grams) passes verbatim."""
    a = " ".join(f"a{i}" for i in range(8))
    r = " ".join(f"r{i}" for i in range(8))
    t0, t1 = f"{a} x1 x2", f"y1 y2 {a}"
    t2, t3, t4 = f"{r} {r}", "c1 c2 c3 c4 c5 c6 c7 c8 c9", "s1 s2 s3"
    d = _write_docs(
        tmp_path,
        "substr_rw",
        [(0, t0, "en", "srcx"), (1, t1, "en", "srcx"), (2, t2, "en", "srcx"),
         (3, t3, "en", "srcx"), (4, t4, "en", "srcx")],
    )
    out = {r_.doc_id: r_ for r_ in
           all_queries()["dedup_substring_rewrite"](spark, d).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert (out[0].n_tokens, out[0].n_dropped) == (10, 0), out[0]
    assert out[0].cleaned_md5 == md5(t0), out[0]
    assert (out[1].n_tokens, out[1].n_dropped) == (10, 8), out[1]
    assert out[1].cleaned_md5 == md5("y1 y2"), out[1]
    assert (out[2].n_tokens, out[2].n_dropped) == (16, 8), out[2]
    assert out[2].cleaned_md5 == md5(r), out[2]
    assert (out[3].n_tokens, out[3].n_dropped) == (9, 0), out[3]
    assert out[3].cleaned_md5 == md5(t3), out[3]
    assert (out[4].n_tokens, out[4].n_dropped) == (3, 0), out[4]
    assert out[4].cleaned_md5 == md5(t4), out[4]


def test_audit_gates_planted(spark, tmp_path):
    """The two audit-class gates, planted. dedup_substring: docs 1/2
    are tokenwise copies (different raw bytes), so EVERY 8-gram of
    each is duplicated — dup_pct 100, contaminated true; doc 0 shares
    nothing — contaminated false with its exact hand-counted gram
    total. dedup_recall_audit: the same corpus plants one
    true near-dup pair (the tokenwise copies have shingle jaccard
    1.0), so n_true >= 1 and both booleans must hold — the audit
    cannot report recall over an empty truth set here."""
    x = " ".join(f"x{i}" for i in range(9))          # 2 unique grams
    y_raw = "Y0, y1 y2 y3 y4 y5 y6 y7 Y8!"           # -> y0..y8
    y_clean = "y0 y1 y2 y3 y4 y5 y6 y7 y8"
    d = _write_docs(
        tmp_path,
        "auditgates",
        [(0, x, "en", "srca"), (1, y_raw, "en", "srca"),
         (2, y_clean, "en", "srcb")],
    )
    qs = all_queries()
    sub = {r.doc_id: r for r in qs["dedup_substring"](spark, d).collect()}
    assert sub[0].n_grams == 2 and sub[0].n_dup_grams == 0, sub[0]
    assert not sub[0].contaminated, sub[0]
    for i in (1, 2):
        assert sub[i].n_grams == 2 and sub[i].n_dup_grams == 2, sub[i]
        assert sub[i].dup_pct == 100 and sub[i].contaminated, sub[i]
    aud = qs["dedup_recall_audit"](spark, d).collect()
    assert len(aud) == 1 and aud[0].n_true >= 1, aud
    assert aud[0].recall_ok and aud[0].all_verified, aud


def test_multimodal_content_dedup_reference(spark, tmp_path, monkeypatch):
    """Two layers. (1) Full independent reference on the real blob
    fixture: recompute the content-addressed grouping in pure Python
    (hashlib md5 over the uppercase hex of each file's bytes — the
    engine-neutral key both engines use) and require the query's
    ENTIRE output to equal it. (2) The fixture happens to contain no
    byte-identical pair, so the planted positive runs on a tmp blob
    dir (module constant monkeypatched): two byte-identical files
    under DIFFERENT names MUST collapse to one group electing the
    lexicographic-min name; a unique blob must stay its own group."""
    import gmt_dbt_spark.sources.files as files_mod

    def reference(blob_dir):
        expect: dict[str, list[str]] = {}
        for fn in os.listdir(blob_dir):
            if not fn.endswith(".bin"):
                continue
            with open(os.path.join(blob_dir, fn), "rb") as f:
                key = hashlib.md5(f.read().hex().upper().encode()).hexdigest()
            expect.setdefault(key, []).append(fn)
        return {k: (len(v), min(v)) for k, v in expect.items()}

    def run():
        return {
            r.content_key: (r.n_copies, r.canonical_file)
            for r in all_queries()["multimodal_content_dedup"](
                spark, ""
            ).collect()
        }

    want = reference(files_mod._BLOBS)
    assert want, "blob fixture dir is empty?"
    assert run() == want

    d = tmp_path / "blobs"
    d.mkdir()
    payload = bytes(range(64)) * 3
    (d / "b_copy.bin").write_bytes(payload)
    (d / "a_copy.bin").write_bytes(payload)  # identical bytes, min name
    (d / "unique.bin").write_bytes(b"\x07" * 100)
    monkeypatch.setattr(files_mod, "_BLOBS", str(d))
    got = run()
    assert got == reference(str(d))
    dup_key = hashlib.md5(payload.hex().upper().encode()).hexdigest()
    assert got[dup_key] == (2, "a_copy.bin"), got  # planted positive
    assert sum(1 for n, _ in got.values() if n == 1) == 1  # planted negative


def test_substring_rewrite_matches_bruteforce_randomized(spark, tmp_path):
    """Beyond the planted corpus: randomized corpora vs an INDEPENDENT
    quadratic brute-force (enumerate every 8-gram occurrence, mark
    duplicates by full-string equality, keep the (doc_id, pos)-minimal
    occurrence, union the dropped spans, rebuild) — the fuzz-vs-
    independent-reference doctrine applied to the newest removal gate.
    Small alphabets + repeated fragments breed overlapping and
    within-doc duplicated spans the planted test can't enumerate."""
    import random

    K = 8
    for seed in range(4):
        rng = random.Random(9000 + seed)
        frags = [
            " ".join(
                rng.choice("abc") + str(rng.randint(0, 5))
                for _ in range(rng.randint(3, 10))
            )
            for _ in range(5)
        ]
        texts = []
        for _ in range(rng.randint(4, 12)):
            texts.append(
                " ".join(rng.choice(frags) for _ in range(rng.randint(1, 4)))
            )
        rows = [(i, t, "en", "srcx") for i, t in enumerate(texts)]
        d = _write_docs(tmp_path, f"substr_bf_{seed}", rows)

        # brute force
        toks = {i: t.lower().split() for i, t in enumerate(texts)}
        occ = []  # (gram_string, doc, pos)
        for i, tk in toks.items():
            for p in range(len(tk) - K + 1):
                occ.append((" ".join(tk[p : p + K]), i, p))
        by_gram = {}
        for g, i, p in occ:
            by_gram.setdefault(g, []).append((i, p))
        dropped = {i: set() for i in toks}
        for g, occs in by_gram.items():
            if len(occs) < 2:
                continue
            keeper = min(occs)
            for i, p in occs:
                if (i, p) != keeper:
                    dropped[i].update(range(p, p + K))
        want = {}
        for i, tk in toks.items():
            kept = [t for j, t in enumerate(tk) if j not in dropped[i]]
            want[i] = (
                len(tk),
                len(dropped[i]),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )

        got = {
            r.doc_id: (r.n_tokens, r.n_dropped, r.cleaned_md5)
            for r in all_queries()["dedup_substring_rewrite"](
                spark, d
            ).collect()
        }
        assert got == want, f"seed {seed}"


# --------------------------------------------------------------------
# r8 planted tests: SPLIT / SAMPLE routing gates (r7 VERDICT item 3).
# Every expectation below is derived by pure-Python replication of
# the documented gate arithmetic — never by running the oracle SQL.
# --------------------------------------------------------------------


def test_sample_stratified_planted(spark, tmp_path):
    """Planted keep/drop sets per source: rate(srcN) = 2 if N even
    else 6, gate doc_id % 10 < rate. src2 ids 0..9 must keep exactly
    {0, 1}; src3 ids 10..19 must keep exactly {10..15}. Positives and
    negatives both asserted (the drop side is the planted negative)."""
    rows = [(i, f"w{i} text", "en", "src2") for i in range(10)]
    rows += [(i, f"w{i} text", "en", "src3") for i in range(10, 20)]
    d = _write_docs(tmp_path, "strat", rows)
    got = {
        r.doc_id: r.source
        for r in all_queries()["sample_stratified"](spark, d).collect()
    }
    want_keep = {i: "src2" for i in range(10) if i % 10 < 2}
    want_keep.update({i: "src3" for i in range(10, 20) if i % 10 < 6})
    assert got == want_keep
    assert 2 not in got and 16 not in got  # planted negatives


def test_sample_reservoir_planted(spark, tmp_path):
    """Fixed-k=3 per-source draw ordered by md5(str(doc_id)): the
    expected winners are derived with hashlib over the same decimal
    string bytes Spark hashes (CAST(id AS STRING) CAST(BINARY)).
    Two sources so the per-key independence is also pinned."""
    rows = [(i, "some text here", "en", "srcA") for i in range(10)]
    rows += [(i, "other text here", "en", "srcB") for i in range(10, 16)]
    d = _write_docs(tmp_path, "resv", rows)

    def topk(ids):
        return set(
            sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:3]
        )

    want = {("srcA", i) for i in topk(range(10))}
    want |= {("srcB", i) for i in topk(range(10, 16))}
    got = {
        (r.source, r.doc_id)
        for r in all_queries()["sample_reservoir"](spark, d).collect()
    }
    assert got == want


def test_sample_temperature_planted(spark, tmp_path):
    """Perfect-square corpus sizes (1, 1, 4, 16 docs → sqrts 1,1,2,4,
    wsum = 8 exactly, no decimal-quantization slack): rates are
    floor(sqrt/8 * 5e6) capped at 1e6 ppm — 625000 for the singleton
    sources, capped 1e6 for the rest. The two singleton docs are
    planted to STRADDLE the uncapped gate: id 1 → (1·2654435761) %
    1e6 = 435761 < 625000 (sampled), id 2 → 871522 ≥ 625000 (not)."""
    rows = [(1, "x y", "en", "s_a"), (2, "x y", "en", "s_b")]
    rows += [(100 + i, "x y", "en", "s_c") for i in range(4)]
    rows += [(200 + i, "x y", "en", "s_d") for i in range(16)]
    d = _write_docs(tmp_path, "temp", rows)
    assert (1 * 2654435761) % 1000000 == 435761  # the planted straddle
    assert (2 * 2654435761) % 1000000 == 871522
    got = {
        r.source: (r.n_docs, r.rate_ppm, r.n_sampled)
        for r in all_queries()["sample_temperature"](spark, d).collect()
    }
    want = {
        "s_a": (1, 625000, 1),
        "s_b": (1, 625000, 0),
        "s_c": (4, 1000000, 4),   # floor(2/8*5e6)=1250000 → capped
        "s_d": (16, 1000000, 16),  # floor(4/8*5e6)=2500000 → capped
    }
    assert got == want


def test_train_test_split_planted(spark, tmp_path):
    """Per-id split expectations derived by replicating the Knuth
    gate ((id % 1e6) · 2654435761) % 1000 < 900 in Python, then
    compared as the op's per-(source, split) aggregate — both splits
    must be populated by the planted id range (ids 0..49 contain
    eval ids by construction, asserted before running the op)."""
    ids = list(range(50))
    gate = lambda i: ((i % 1000000) * 2654435761) % 1000
    want_split = {i: ("train" if gate(i) < 900 else "eval") for i in ids}
    assert set(want_split.values()) == {"train", "eval"}
    rows = [(i, "t " * (i % 7 + 1), "en", f"src{i % 2}") for i in ids]
    d = _write_docs(tmp_path, "tts", rows)
    want = {}
    for i, t, _l, s in rows:
        key = (s, want_split[i])
        n, c = want.get(key, (0, 0))
        want[key] = (n + 1, c + len(t))
    got = {
        (r.source, r.split): (r.n_docs, r.sum_chars)
        for r in all_queries()["pipeline_train_test_split"](spark, d).collect()
    }
    assert got == want


def test_epoch_shuffle_planted(spark, tmp_path):
    """Full (epoch, shard) aggregate — n_docs, id_sum, n_moved —
    derived via hashlib: shard(id, e) = int(md5(f'{id}:{e}')[:8],
    16) % 16, moved = shard changed vs the previous epoch. Pins the
    exact assignment (determinism) AND the epoch decorrelation
    accounting the surface reports."""
    ids = list(range(40))
    rows = [(i, "irrelevant text", "en", "s") for i in ids]
    d = _write_docs(tmp_path, "epoch", rows)

    def shard(i, e):
        return int(
            hashlib.md5(f"{i}:{e}".encode()).hexdigest()[:8], 16
        ) % 16

    want = {}
    for e in range(3):
        for i in ids:
            s = shard(i, e)
            moved = 1 if e > 0 and s != shard(i, e - 1) else 0
            n, idsum, nm = want.get((e, s), (0, 0, 0))
            want[(e, s)] = (n + 1, idsum + i, nm + (moved if e > 0 else 0))
    got = {
        (r.epoch, r.shard): (r.n_docs, r.id_sum, r.n_moved)
        for r in all_queries()["sample_epoch_shuffle"](spark, d).collect()
    }
    assert got == want
    # decorrelation sanity on the planted ids: some doc must move
    assert sum(v[2] for k, v in want.items() if k[0] > 0) > 0


# --------------------------------------------------------------------
# r8: pack-family cross-surface consistency (r7 VERDICT item 3 —
# "the three pack layouts share pack_frame: pin that they cannot
# disagree", the tokenizer-sweep doctrine applied to packing).
# --------------------------------------------------------------------


def test_pack_family_cross_surface_consistency(spark, tmp_path):
    """One hand-packable corpus through all THREE pack surfaces.
    Hand-derived absolute pins (budget 2048, one source, toks
    [2000, 100, 2048, 1] → run_excl [0, 2000, 2100, 4148] → pack_id
    [0, 0, 1, 2]) plus the structural cross-surface invariants:
      - sequences and concat_chunk agree on every (doc, tok,
        pack_id/first_chunk);
      - attention_layout's per-pack n_docs / pack_tokens /
        boundaries / overflow are EXACTLY the aggregation of the
        concat_chunk rows (boundaries = sorted head_offs);
      - a pack overflows iff its max(head_off + tok) exceeds the
        budget, and every doc with is_split spans
        last_chunk - first_chunk + 1 = n_chunks chunks.
    A drift in any one surface's arithmetic breaks the comparison
    even while that surface's own mirrored oracle stays green."""
    budget = 2048
    toks = [2000, 100, 2048, 1]
    rows = [
        (i, "a " * (t - 1) + "a", "en", "s0") for i, t in enumerate(toks)
    ]
    d = _write_docs(tmp_path, "packs", rows)
    qs = all_queries()
    seq = {
        r.doc_id: (r.tok, r.pack_id)
        for r in qs["pack_sequences"](spark, d).collect()
    }
    assert seq == {0: (2000, 0), 1: (100, 0), 2: (2048, 1), 3: (1, 2)}
    chunk = {
        r.doc_id: r for r in qs["pack_concat_chunk"](spark, d).collect()
    }
    layout = {
        (r.source, r.pack_id): r
        for r in qs["pack_attention_layout"](spark, d).collect()
    }
    # sequences ≡ concat_chunk on the shared columns
    for i in seq:
        assert (chunk[i].tok, chunk[i].first_chunk) == seq[i], i
        assert chunk[i].n_chunks == chunk[i].last_chunk - chunk[i].first_chunk + 1
        assert chunk[i].is_split == (chunk[i].n_chunks > 1)
    # hand pins on the chunk spans: doc 1 starts at 2000 and straddles
    # into chunk 1; doc 2 starts at 2100 (head_off 52) and straddles
    assert (chunk[1].head_off, chunk[1].is_split) == (2000, True)
    assert (chunk[2].head_off, chunk[2].last_chunk) == (52, 2)
    # attention_layout ≡ aggregate of concat_chunk rows
    from collections import defaultdict

    agg = defaultdict(list)
    for i, r in chunk.items():
        agg[("s0", r.first_chunk)].append((r.head_off, r.tok))
    assert set(layout) == set(agg)
    for key, docs_ in agg.items():
        lr = layout[key]
        offs = sorted(o for o, _ in docs_)
        assert lr.n_docs == len(docs_)
        assert lr.pack_tokens == sum(t for _, t in docs_)
        assert lr.boundaries == ",".join(str(o) for o in offs)
        assert lr.overflow_tokens == max(
            0, max(o + t for o, t in docs_) - budget
        )


def test_c4_line_filter_planted(spark, tmp_path):
    """C4 line rules on hand-built 10-token lines: doc 0 = [clean
    line, line containing the 'dup' marker, clean line] → 2 kept,
    keep=true, cleaned_md5 = md5 of the two surviving lines joined;
    doc 1 = [marker line, clean line] → 1 kept < C4_MIN_KEPT_LINES →
    keep=false; doc 2 = clean 23 tokens → the 3-token tail line
    passes the min-length rule but a planted 2-token tail (doc 3)
    is dropped; doc 4 = punctuation-only → zero lines, keep=false,
    md5('')."""
    clean1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    marked = "kilo lima dup mike november oscar papa quebec romeo sierra"
    clean2 = "tango uniform victor whiskey xray yankee zulu one two three"
    rows = [
        (0, f"{clean1} {marked} {clean2}", "en", "s"),
        (1, f"{marked} {clean1}", "en", "s"),
        (2, f"{clean1} {clean2} four five six", "en", "s"),
        (3, f"{clean1} seven eight", "en", "s"),
        (4, "!!! ???", "en", "s"),
    ]
    d = _write_docs(tmp_path, "c4", rows)
    got = {
        r.doc_id: r
        for r in all_queries()["text_c4_line_filter"](spark, d).collect()
    }
    r0 = got[0]
    assert (r0.n_lines, r0.n_kept, r0.keep) == (3, 2, True)
    assert r0.cleaned_md5 == hashlib.md5(
        f"{clean1} {clean2}".encode()
    ).hexdigest()
    assert (got[1].n_kept, got[1].keep) == (1, False)
    # doc 2: two clean lines + a 3-token tail → all three survive
    assert (got[2].n_lines, got[2].n_kept, got[2].keep) == (3, 3, True)
    assert got[2].n_kept_tokens == 23
    # doc 3: the 2-token tail line fails the min-length rule
    assert (got[3].n_lines, got[3].n_kept) == (2, 1)
    assert got[3].cleaned_md5 == hashlib.md5(clean1.encode()).hexdigest()
    assert (got[4].n_lines, got[4].keep) == (0, False)
    assert got[4].cleaned_md5 == hashlib.md5(b"").hexdigest()


def test_badwords_filter_planted(spark, tmp_path):
    """Planted positive: a doc containing blocklisted tokens is
    flagged with the exact count and keep=false. Planted negative: a
    clean doc keeps. Empty-normalizing doc: zero tokens → keep=false
    (C4 drops empty pages)."""
    rows = [
        (0, "clean words only here", "en", "s"),
        (1, "this dup text has dup twice and one awful word", "en", "s"),
        (2, "???", "en", "s"),
    ]
    d = _write_docs(tmp_path, "badw", rows)
    got = {
        r.doc_id: (r.n_tokens, r.n_bad, r.keep)
        for r in all_queries()["text_badwords_filter"](spark, d).collect()
    }
    assert got[0] == (4, 0, True)
    assert got[1] == (10, 3, False)
    assert got[2] == (0, 0, False)


def test_c4_pipeline_planted(spark, tmp_path):
    """pipeline_c4_reproduce funnel on a hand-built corpus (single
    source): doc 0 clean (survives everything), docs 1+2 clean
    byte-identical (same cleaned text → dedup keeps doc 1 only),
    doc 3 contains a blocklisted token (fails bad-words), doc 4 is
    one clean line + one 'slow'-marker line ('slow' is a line marker
    but NOT a badword — 1 surviving line < 2 → fails the line gate
    while PASSING bad-words), doc 5 empty-normalizing (fails
    bad-words' non-empty rule). Expected funnel: 6 in → 4 pass
    badwords → 3 pass both → 2 after dedup; kept_tokens = hand sum."""
    clean1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    clean2 = "tango uniform victor whiskey xray yankee zulu one two three"
    pair = f"{clean1} {clean2}"
    rows = [
        (0, f"{clean2} {clean1}", "en", "s"),
        (1, pair, "en", "s"),
        (2, pair, "en", "s"),
        (3, f"{clean1} awful {clean2}", "en", "s"),
        (4, f"{clean1} kilo slow mike november oscar papa quebec romeo sierra", "en", "s"),
        (5, "...", "en", "s"),
    ]
    d = _write_docs(tmp_path, "c4pipe", rows)
    r = {
        x.source: (
            x.n_docs,
            x.n_pass_badwords,
            x.n_pass_both,
            x.n_after_dedup,
            x.kept_tokens,
        )
        for x in all_queries()["pipeline_c4_reproduce"](spark, d).collect()
    }
    # survivors: doc 0 (20 tokens) + doc 1 (20 tokens) = 40 kept
    assert r == {"s": (6, 4, 3, 2, 40)}


def test_pack_concat_chunk_boundary_exact_planted(spark, tmp_path):
    """r9 drill finding: a MIRRORED off-by-one in last_chunk
    (floor((run+tok)/B) for floor((run+tok-1)/B), planted on a
    scratch tree) survived the cross-surface test, the property
    fuzz AND the parity oracle — the hand corpus had no doc ending
    EXACTLY on a chunk boundary, the only place the two formulas
    differ. This pin plants that doc class plus a randomized sweep
    against the pure-Python span arithmetic (the same reference the
    property test fuzzes, now wired to the SPARK output)."""
    import random

    from gmt_dbt_spark.operators.curation import PACK_BUDGET

    B = PACK_BUDGET

    def py_spans(toks):
        out, run = {}, 0
        for i, tok in enumerate(toks):
            pack = run // B
            last = (run + max(tok, 1) - 1) // B if tok > 0 else pack
            out[i] = (pack, last, last - pack + 1, run - pack * B, last > pack)
            run += tok
        return out

    # planted: doc 2 ends EXACTLY at 2*B (run 2148, tok 2*B-2148+... )
    toks = [B, 100, 2 * B - B - 100, 1]  # cum: B, B+100, 2B, 2B+1
    assert sum(toks[:3]) == 2 * B
    rows = [
        (i, "a " * (t - 1) + "a", "en", "s0") for i, t in enumerate(toks)
    ]
    d = _write_docs(tmp_path, "packs_boundary", rows)
    got = {
        r.doc_id: (r.first_chunk, r.last_chunk, r.n_chunks, r.head_off,
                   r.is_split)
        for r in all_queries()["pack_concat_chunk"](spark, d).collect()
    }
    want = py_spans(toks)
    assert got == want, (got, want)
    # the planted pin itself, absolute: the boundary-ending doc stays
    # inside chunk 1 (floor((2B-1)/B) == 1, NOT floor(2B/B) == 2)
    assert got[2] == (1, 1, 1, (B + 100) % B, False)

    # randomized spans vs the python reference (3 seeds, tok values
    # straddling 0 / 1 / exact-multiples / >B)
    for seed in range(3):
        rng = random.Random(9100 + seed)
        toks = [
            rng.choice([1, 7, B - 1, B, B + 1, 2 * B, rng.randint(1, 3 * B)])
            for _ in range(rng.randint(4, 12))
        ]
        rows = [
            (i, "a " * (t - 1) + "a", "en", "s0")
            for i, t in enumerate(toks)
        ]
        d = _write_docs(tmp_path, f"packs_rand_{seed}", rows)
        got = {
            r.doc_id: (r.first_chunk, r.last_chunk, r.n_chunks,
                       r.head_off, r.is_split)
            for r in all_queries()["pack_concat_chunk"](spark, d).collect()
        }
        assert got == py_spans(toks), f"seed {seed}"
