"""LLM-pipeline operator tests: fuzzy dedup must catch the planted
duplicates in the yelp_review fixture (2% exact + 2% near, one word
changed — gen_fixtures.py), similarity search must return its own
cluster, multimodal plumbing must round-trip through Arrow."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from gmt_dbt_spark.operators.dedup import (
    lsh_candidates,
    minhash_signature,
    verify_jaccard,
)
from gmt_dbt_spark.operators.multimodal import (
    attach_payload,
    decode_batches,
    decode_payload,
    frame_sample_batches,
    resize_batches,
    resize_payload,
    sample_frames,
)
from gmt_dbt_spark.operators.similarity import cosine, dot
from gmt_dbt_spark.sources.readers import scan_json

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


@pytest.fixture(scope="module")
def reviews(spark):
    return scan_json(spark, f"{FIXTURES}/yelp_review.ndjson").select("review_id", "text")


def test_minhash_finds_planted_duplicates(spark, reviews):
    sig = minhash_signature(reviews, "review_id", "text")
    pairs = lsh_candidates(sig)
    verified = verify_jaccard(pairs, reviews, "review_id", "text", 0.6)
    n = verified.count()
    # 100 exact + 100 near duplicates planted; exact dups always have
    # jaccard 1.0 and identical signatures, so well over 100 pairs.
    assert n >= 100, f"expected >=100 near-dup pairs, got {n}"
    exact = verified.filter(F.col("jaccard") == 1.0).count()
    assert exact >= 80  # most exact dups survive banding


def test_minhash_signature_deterministic(spark, reviews):
    sample = reviews.limit(50)
    a = {r["__id"]: tuple(r[f"mh{j}"] for j in range(12))
         for r in minhash_signature(sample, "review_id", "text").collect()}
    b = {r["__id"]: tuple(r[f"mh{j}"] for j in range(12))
         for r in minhash_signature(sample, "review_id", "text").collect()}
    assert a == b


def test_dot_cosine_exprs(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 4.0, 4.0])], "a: array<double>, b: array<double>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == 18.0
    assert abs(row.c - 1.0) < 1e-12  # parallel vectors


def test_ml_and_custom_minhash_agree(spark):
    """Both MinHash pipelines are pinned to the SAME slice ground
    truth (r3: dedup_fuzzy_ml's registry surface IS the audited truth
    + booleans): the ML audit booleans hold, every emitted truth pair
    satisfies the threshold arithmetic, and the custom pipeline's
    slice pairs cover the truth set (recall 1.0 on the fixture, the
    same property dedup_recall_audit pins for dedup_fuzzy)."""
    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    rows = qs["dedup_fuzzy_ml"](spark, sf).collect()
    assert rows and all(r.recall_ok and r.all_verified for r in rows)
    assert all(r.n_inter * 10 >= r.n_union * 6 for r in rows)
    truth = {(r.id_a, r.id_b) for r in rows}
    fuzzy = {
        (r.id_a, r.id_b)
        for r in qs["dedup_fuzzy"](spark, sf).collect()
        if r.id_a < 200 and r.id_b < 200
    }
    assert truth <= fuzzy


def test_ivf_structure_and_recall(spark):
    from gmt_dbt_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    ivf = qs["sim_topk_ivf"](spark, sf).collect()
    exact = qs["sim_topk"](spark, sf).collect()
    per_q = {}
    for r in ivf:
        per_q.setdefault(r.query_id, []).append(r.rank)
    # ≤ TOP_K ranked rows per query, ranks contiguous from 1
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 5 for v in per_q.values())
    # probing 4/16 lists must find a nonzero share of the true top-k
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    assert len(ivf_set & exact_set) > 0
    # deterministic across runs
    again = {(r.query_id, r.neighbor_id, r.rank)
             for r in qs["sim_topk_ivf"](spark, sf).collect()}
    assert again == {(r.query_id, r.neighbor_id, r.rank) for r in ivf}


def test_decode_stub_deterministic():
    one = decode_payload(b"hello")
    two = decode_payload(b"hello")
    assert one == two
    assert len(one["features"]) == 8


def test_decode_batches_plumbing(spark, reviews):
    docs = reviews.limit(20).select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("text")
    )
    out = decode_batches(attach_payload(docs))
    rows = out.collect()
    assert len(rows) == 20
    assert set(out.columns) == {"doc_id", "mime", "n_bytes", "width", "height", "features"}
    assert all(len(r.features) == 8 for r in rows)
    assert all(16 <= r.width < 80 for r in rows)


def test_resize_preserves_aspect_and_bounds():
    r = resize_payload(b"some image bytes", target=32)
    assert max(r["target_width"], r["target_height"]) <= 32
    # aspect ratio preserved within integer rounding
    assert abs(
        r["target_width"] / r["target_height"] - r["width"] / r["height"]
    ) < 0.2
    # no upscaling: a payload already smaller than target keeps its dims
    small = resize_payload(b"some image bytes", target=1024)
    assert (small["target_width"], small["target_height"]) == (
        small["width"], small["height"],
    )


def test_resize_batches_plumbing(spark, reviews):
    docs = reviews.limit(10).select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("text")
    )
    rows = resize_batches(attach_payload(docs), target=32).collect()
    assert len(rows) == 10
    assert all(max(r.target_width, r.target_height) <= 32 for r in rows)


def test_frame_sampling_deterministic_timeline():
    frames = sample_frames(b"a video", every_ms=1000)
    assert frames == sample_frames(b"a video", every_ms=1000)
    assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
    assert all(f["frame_ts_ms"] % 1000 == 0 for f in frames)
    assert 1 <= len(frames) <= 10  # duration stub is 1-10 s


def test_frame_sample_batches_fanout(spark, reviews):
    docs = reviews.limit(5).select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("text")
    )
    out = frame_sample_batches(attach_payload(docs), every_ms=1000).collect()
    assert len(out) >= 5  # 1 → N fan-out
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())


def _numpy_micro_kmeans(vecs, k, iters):
    """Reference Lloyd's in exact integer micro-units (mirrors
    operators/embeddings.py: floor-quantize, first-min tie-break,
    floor-mean recompute)."""
    import math

    import numpy as np

    q = np.floor(vecs.astype(np.float64) * 1e6).astype(np.int64)
    cents = [q[i].tolist() for i in range(k)]  # rows pre-sorted by vec_id

    def assign(c):
        d = ((q[:, None, :] - np.asarray(c)[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1)  # argmin takes FIRST minimum — same tie rule

    for _ in range(iters):
        a = assign(cents)
        # integer floor division — exactly what the engine computes
        cents = [
            (q[a == i].sum(axis=0) // int((a == i).sum())).tolist()
            if (a == i).any()
            else cents[i]
            for i in range(k)
        ]
    a = assign(cents)
    return a, [math.sqrt(sum(v * v for v in c)) / 1e6 for c in cents]


def test_kmeans_matches_numpy_reference(spark):
    """embed_kmeans must be bit-reproducible: the distributed integer
    Lloyd's run equals a single-node numpy re-implementation exactly
    — cluster sizes, min members, and centroid norms."""
    import numpy as np

    from gmt_dbt_spark.operators.embeddings import K_CLUSTERS, KMEANS_ITERS
    from gmt_dbt_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    a, norms = _numpy_micro_kmeans(vecs, K_CLUSTERS, KMEANS_ITERS)
    expected = {
        int(c): (int((a == c).sum()), int(ids[a == c].min()))
        for c in range(K_CLUSTERS)
        if (a == c).any()
    }
    got = {
        r["cluster"]: (r["n_vecs"], r["min_vec_id"], r["centroid_norm"])
        for r in all_queries()["embed_kmeans"](spark, sf_dir).collect()
    }
    assert {c: v[:2] for c, v in got.items()} == expected
    for c, (_, _, norm) in got.items():
        assert abs(norm - norms[c]) < 1e-12


def test_train_test_split_disjoint_and_total(spark):
    """The 90/10 split must cover every document exactly once and be
    reproducible run-to-run (pure function of doc_id)."""
    from gmt_dbt_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    out1 = all_queries()["pipeline_train_test_split"](spark, sf_dir).collect()
    out2 = all_queries()["pipeline_train_test_split"](spark, sf_dir).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    total = sum(r["n_docs"] for r in out1)
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    assert total == n_docs
    train = sum(r["n_docs"] for r in out1 if r["split"] == "train")
    assert 0.8 * n_docs < train < n_docs  # ~90%, never all or none


def test_embed_normalize_unit_norm(spark):
    """Normalized vectors must have micro-unit component sums bounded
    by dims·1e6 (each |unit component| ≤ 1) and positive norms."""
    from gmt_dbt_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    rows = all_queries()["embed_normalize"](spark, sf_dir).collect()
    assert rows
    dims = len(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .first()["embedding"]
    )
    for r in rows:
        assert r["l2_norm"] > 0
        assert abs(r["unit_sum_micro"]) <= dims * 1_000_000


def test_kmeans_recompute_keeps_empty_clusters(spark):
    """A cluster that attracts no rows must keep its previous centroid
    (not vanish and shift higher indices), and the floor-mean must use
    exact integer floor division (floor(-3/2) = -2, not trunc -1)."""
    from gmt_dbt_spark.operators.embeddings import kmeans_assign, kmeans_recompute

    df = spark.createDataFrame(
        [(1, [-1, 0]), (2, [-2, 0]), (3, [1000000, 1000000])],
        "vec_id bigint, qv array<bigint>",
    )
    prev = [[0, 0], [1000000, 1000000], [90000000, 90000000]]
    cents = kmeans_recompute(kmeans_assign(df, prev), 2, prev)
    assert len(cents) == 3
    assert cents[2] == prev[2]          # empty cluster keeps its centroid
    assert cents[0] == [-2, 0]          # floor(-3/2) = -2 (not trunc toward 0)
    assert cents[1] == [1000000, 1000000]


def test_shingle_rows_null_and_short_docs(spark):
    """Edge semantics pinned after the r2 zip_with rewrite: NULL-text
    docs emit NO shingles (they must never cluster together at
    jaccard 1.0 on the {''} set), short docs emit one whole-text
    shingle, and >=3-token docs emit size-2 full 3-grams."""
    from gmt_dbt_spark.operators.dedup import shingle_rows

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "just two"), (4, "one two three four")],
        "doc_id bigint, text string",
    )
    rows = [(r["__id"], r["__sh"]) for r in shingle_rows(df, "doc_id", "text").collect()]
    by_id = {}
    for i, sh in rows:
        by_id.setdefault(i, []).append(sh)
    assert 1 not in by_id and 2 not in by_id
    assert by_id[3] == ["just two"]
    assert sorted(by_id[4]) == ["one two three", "two three four"]


def test_gopher_rules_empty_text_parity(spark):
    """All-punctuation text must count ZERO words (matching the
    oracle's empty-filtered tokens), with a 0 length sum and a false
    keep verdict — not the unfixed [''] single-token reading."""
    from gmt_dbt_spark.functions.text import text_gopher_rules

    df = spark.createDataFrame(
        [(0, "!!! ... ???"), (1, "the quick brown fox jumps over it")],
        "doc_id bigint, text string",
    )
    df.createOrReplaceTempView("documents")
    import os, tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
        out = {r.doc_id: r for r in text_gopher_rules(spark, td).collect()}
    assert out[0].n_words == 0 and out[0].sum_word_len == 0
    assert out[0].keep is False
    assert out[1].n_words == 7 and out[1].keep is True


def test_wav_codec_roundtrip_and_chunk_skipping():
    """parse_wav must be a real RIFF parser: exact sample round-trip,
    tolerance for extra chunks before fmt/data (with odd-size
    padding), and hard rejection of non-RIFF bytes."""
    import struct

    import numpy as np

    from gmt_dbt_spark.operators.codecs import make_wav, parse_wav, wav_samples_for

    s = wav_samples_for(42)
    w = parse_wav(make_wav(s))
    assert w["sample_rate"] == 16000 and w["n_channels"] == 1
    assert np.array_equal(w["samples"], s)

    # splice an odd-sized LIST chunk between WAVE and fmt: a naive
    # offset-based reader breaks, a chunk walker skips it
    raw = make_wav(s)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad to even
    spliced = raw[:12] + extra + raw[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    w2 = parse_wav(spliced)
    assert np.array_equal(w2["samples"], s)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_wav(b"\x89PNG not riff at all padding padding")


def test_bmp_codec_roundtrip_topdown_and_stride():
    """parse_bmp must honor stride padding, bottom-up AND top-down
    (negative height) row order, and reject non-24bpp payloads."""
    import struct

    import numpy as np
    import pytest as _pytest

    from gmt_dbt_spark.operators.codecs import bmp_pixels_for, make_bmp, parse_bmp

    px = bmp_pixels_for(7)  # w=15 -> 45-byte rows, stride 48 (padding real)
    raw = make_bmp(px)
    assert np.array_equal(parse_bmp(raw), px)

    # flip to top-down (negative height) and reverse the stored rows:
    # decoded image must be identical
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    offset = struct.unpack("<I", raw[10:14])[0]
    rows = [raw[offset + i * stride : offset + (i + 1) * stride] for i in range(h)]
    topdown = (
        raw[:14]
        + struct.pack("<Iii", 40, w, -h)
        + raw[26:offset]
        + b"".join(reversed(rows))
    )
    assert np.array_equal(parse_bmp(topdown), px)

    bad = raw[:28] + struct.pack("<H", 8) + raw[30:]  # claim 8bpp
    with _pytest.raises(NotImplementedError):
        parse_bmp(bad)


def test_decode_media_sniffs_and_rejects():
    """decode_media dispatches on magic bytes and refuses to fake
    formats it cannot actually parse."""
    import pytest as _pytest

    from gmt_dbt_spark.operators.codecs import (
        bmp_payload_for,
        decode_media,
        wav_payload_for,
    )

    a = decode_media(wav_payload_for(3))
    assert a["kind"] == "audio/wav" and a["n_samples"] == 800 + 3 * 160
    i = decode_media(bmp_payload_for(3))
    assert i["kind"] == "image/bmp" and (i["width"], i["height"]) == (11, 9)
    with _pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff\xe0 jpeg soi header ...")


def test_codec_edge_contracts():
    """r2 review fixes pinned: truncated data chunks fail loudly,
    non-WAVE RIFF containers raise NotImplementedError (the stub
    seam's skip signal), and a 0×0 BMP decodes to width 0 and zero
    channel sums."""
    import struct

    import pytest as _pytest

    from gmt_dbt_spark.operators.codecs import (
        decode_media,
        make_wav,
        parse_wav,
        wav_samples_for,
    )

    raw = make_wav(wav_samples_for(1))
    with _pytest.raises(ValueError, match="truncated"):
        parse_wav(raw[: len(raw) - 100])

    webp_ish = b"RIFF" + struct.pack("<I", 12) + b"WEBPVP8 ...."
    with _pytest.raises(NotImplementedError):
        decode_media(webp_ish)

    import numpy as np

    from gmt_dbt_spark.operators.codecs import make_bmp

    empty = make_bmp(np.zeros((0, 0, 3), dtype=np.uint8))
    d = decode_media(empty)
    assert d["width"] == 0
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (0, 0, 0)


def test_pca_power_invariant_to_partitioning(spark):
    """embed_pca_power's claim — integer micro-unit arithmetic makes
    the iteration bit-reproducible on ANY cluster topology — tested
    by running the same query under different shuffle-partition
    counts and pre-repartitioned input paths; every component must
    be IDENTICAL (float power iteration would drift with partial-sum
    order)."""
    from gmt_dbt_spark.operators.embeddings import embed_pca_power
    from tests.conftest import SF_DIR

    def comps(n_shuffle):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
            rows = embed_pca_power(spark, SF_DIR).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return {r["dim_idx"]: r["comp"] for r in rows}

    a = comps(2)
    b = comps(17)
    assert a == b and len(a) == 64


def test_spatial_grid_matches_naive_theta(spark):
    """The grid-binned join must find EXACTLY the pairs the naive
    distance theta-join finds — the 3x3 neighborhood can neither miss
    (cell edge == radius) nor over-count (residual filter)."""
    from tests.conftest import SF_DIR
    from gmt_dbt_spark.operators.spatial import join_spatial_grid, _R2
    from gmt_dbt_spark.catalog import table
    from pyspark.sql import functions as F

    got = {
        (r["c_custkey"], r["n_nearby"], r["min_d2"])
        for r in join_spatial_grid(spark, SF_DIR).collect()
    }
    cust = table(spark, SF_DIR, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 18000 - 9000).alias("y"),
        ((F.col("c_custkey") * 104729) % 36000 - 18000).alias("x"),
    )
    supp = table(spark, SF_DIR, "supplier").select(
        ((F.col("s_suppkey") * 7919 + 4321) % 18000 - 9000).alias("sy"),
        ((F.col("s_suppkey") * 104729 + 12345) % 36000 - 18000).alias("sx"),
    )
    d2 = (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy")) + (
        F.col("x") - F.col("sx")
    ) * (F.col("x") - F.col("sx"))
    naive = {
        (r["c_custkey"], r["n_nearby"], r["min_d2"])
        for r in cust.crossJoin(supp)
        .filter(d2 <= F.lit(_R2))
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_nearby"), F.min(d2).alias("min_d2"))
        .collect()
    }
    assert got == naive and len(got) > 0


def test_gini_in_unit_interval(spark):
    """Gini of a non-degenerate positive distribution lies in (0, 1),
    and num/den are consistent with the ratio."""
    from tests.conftest import SF_DIR
    from gmt_dbt_spark.registry import all_queries

    (row,) = all_queries()["mart_gini"](spark, SF_DIR).collect()
    assert 0.0 < row["gini"] < 1.0
    assert abs(row["gini"] - row["gini_num"] / row["gini_den"]) < 1e-12
    assert row["n_customers"] > 0 and row["total_rev"] > 0


def test_tokenization_parity_on_adversarial_unicode(spark, tmp_path):
    """The Spark tokenizer and the DuckDB oracle recipe must agree on
    NON-fixture text too — the fixture is pure lowercase ASCII, so
    the full-registry sweep alone would never catch a Unicode divergence.
    r3 fuzzing found one: with the old lower-then-strip order, JVM
    lower('İ') yields 'i' + COMBINING DOT while DuckDB yields 'i'
    ('İstanbul' → ['i','stanbul'] vs ['istanbul']). The recipe now
    strips to ASCII FIRST, so only ASCII reaches lower() and the
    engines cannot disagree; this test pins that on the cases that
    did or could diverge (Turkish İ, ligatures, fullwidth forms,
    final-sigma Greek, combining marks, emoji, control whitespace)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.operators.dedup import tokens_col

    texts = [
        "héllo wörld ÄÖÜ", "ABC  def\tGhi", "aaaaa", "", "123 456-789",
        "ß sharp", "İstanbul", "ΣΊΣΥΦΟΣ", "ǅungla", "ﬁ ligature",
        "ＦＵＬＬｗｉｄｔｈ", "emoji 😀 text", "tab\tnewline\nmix", "ĳ", "ŉ",
        "İ dot above", "café COMBINING é", "MIXED Case WORDS 42",
    ]
    # plus a seeded random-unicode corpus: codepoints drawn across the
    # BMP (skipping surrogates), interleaved with ASCII — one batched
    # pass through both engines covers far more of the case-mapping /
    # whitespace / category space than the curated list alone
    import random

    rng = random.Random(20260814)
    for _ in range(300):
        n = rng.randint(0, 30)
        chars = []
        for _c in range(n):
            if rng.random() < 0.5:
                chars.append(chr(rng.randint(32, 126)))
            else:
                cp = rng.randint(0x20, 0xFFFF)
                if 0xD800 <= cp <= 0xDFFF:
                    cp = 0x20
                chars.append(chr(cp))
        texts.append("".join(chars))
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": list(range(len(texts))), "text": texts}), path
    )
    sdf = spark.read.parquet(path)
    sp = {
        r.doc_id: list(r.toks)
        for r in sdf.select(
            "doc_id",
            tokens_col(F.col("text")).alias("toks"),  # raw: empties drop inside
        ).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    du = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT doc_id, list_filter(string_split(trim(lower("
            "regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g'))), ' '),"
            " t -> t <> '') FROM documents"
        ).fetchall()
    }
    for k in sp:
        assert sp[k] == du[k], (texts[k], sp[k], du[k])


def test_unimax_plan_invariants(spark, sf_dir):
    """Water-filling correctness properties that hold at ANY scale
    (the oracle sweep pins exact values; this pins the algebra):
    allocations never exceed caps, the budget is never overspent,
    capped sources receive exactly their cap, and uncapped sources
    receive within-1 equal shares of what remains (integer floors)."""
    from gmt_dbt_spark.operators.curation import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        sample_mixture_unimax,
    )

    rows = sample_mixture_unimax(spark, sf_dir).collect()
    assert len(rows) > 1
    total = sum(r.n_tokens for r in rows)
    budget = total * UNIMAX_BUDGET_NUM // UNIMAX_BUDGET_DEN
    assert all(0 <= r.alloc_tokens <= r.cap_tokens for r in rows)
    for r in rows:
        if r.is_capped:
            assert r.alloc_tokens == r.cap_tokens
    uncapped = [r.alloc_tokens for r in rows if not r.is_capped]
    if uncapped:
        # a single water level, remainder spread one token apiece
        assert max(uncapped) - min(uncapped) <= 1
        # budget is spent exactly when capacity covers it
        assert sum(r.alloc_tokens for r in rows) == budget
        # the level sits strictly between capped and uncapped caps
        capped_caps = [r.cap_tokens for r in rows if r.is_capped]
        if capped_caps:
            assert max(capped_caps) <= min(uncapped) + 1
    else:
        assert sum(r.alloc_tokens for r in rows) <= budget


def test_unimax_materialize_matches_plan(spark, sf_dir):
    """The realized corpus must agree with the plan: every document
    repeats floor(epochs) or floor(epochs)+1 times, a full-epoch
    (capped, ppm == 1e6) source keeps every document exactly once,
    and rep_idx is a dense 0..n_rep-1 sequence."""
    from gmt_dbt_spark.operators.curation import (
        pipeline_mixture_materialize,
        sample_mixture_unimax,
    )

    plan = {r.source: r for r in sample_mixture_unimax(spark, sf_dir).collect()}
    mat = (
        pipeline_mixture_materialize(spark, sf_dir)
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_rep"),
            F.min("rep_idx").alias("lo"),
            F.max("rep_idx").alias("hi"),
        )
        .collect()
    )
    assert mat
    for r in mat:
        ppm = plan[r.source].epochs_ppm
        assert r.lo == 0 and r.hi == r.n_rep - 1  # dense sequence
        assert r.n_rep in (ppm // 10**6, ppm // 10**6 + 1)
        if ppm == 10**6:
            assert r.n_rep == 1


def test_unimax_token_count_ignores_empty_normalizations(spark):
    """A document whose text normalizes to nothing (punctuation-only,
    or non-ASCII-only under the strip-before-lower recipe) must count
    ZERO tokens in the mixture plan — `split('')` yields [''] (one
    phantom token) unless empties are filtered, and the DuckDB oracle
    filters them (review finding, r3)."""
    from gmt_dbt_spark.operators.curation import _unimax_plan

    docs = spark.createDataFrame(
        [
            (1, "hello world", "s0"),
            (2, "!!! ???", "s0"),  # normalizes to '' → 0 tokens
            (3, "общий текст", "s1"),  # non-ASCII-only → 0 tokens
            (4, "a b c", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r.n_tokens for r in _unimax_plan(docs).collect()}
    assert got == {"s0": 2, "s1": 3}


def test_unimax_edge_cases(spark):
    """Water-fill algebra on corners the fixture never exercises:
    budget above total capacity (all capped), a single corpus, a
    zero-token corpus (div-by-zero guard — ANSI mode raises where
    DuckDB NULLs), and exact ties in capacity."""
    import gmt_dbt_spark.operators.curation as cur

    def plan(rows, num=None, den=None):
        saved = (cur.UNIMAX_BUDGET_NUM, cur.UNIMAX_BUDGET_DEN)
        try:
            if num is not None:
                cur.UNIMAX_BUDGET_NUM, cur.UNIMAX_BUDGET_DEN = num, den
            df = spark.createDataFrame(
                rows, "doc_id long, text string, source string"
            )
            return {r.source: r for r in cur._unimax_plan(df).collect()}
        finally:
            cur.UNIMAX_BUDGET_NUM, cur.UNIMAX_BUDGET_DEN = saved

    # budget = 2x total capacity → every source capped at its cap
    p = plan(
        [(1, "a b c", "s0"), (2, "d e", "s1")], num=2, den=1
    )
    assert all(r.is_capped and r.alloc_tokens == r.cap_tokens for r in p.values())
    assert p["s0"].epochs_ppm == 10**6 and p["s1"].epochs_ppm == 10**6

    # single corpus: gets the whole budget, uncapped
    p = plan([(1, "a b c d e f g h i j", "s0")])
    assert not p["s0"].is_capped
    assert p["s0"].alloc_tokens == 10 * 9 // 10

    # zero-token corpus: capped at 0, epochs 0, no division error
    p = plan([(1, "a b c d", "s0"), (2, "!!! ???", "s1")])
    assert p["s1"].n_tokens == 0 and p["s1"].alloc_tokens == 0
    assert p["s1"].epochs_ppm == 0 and p["s1"].is_capped
    assert p["s0"].alloc_tokens == 4 * 9 // 10

    # exact capacity ties: allocations within 1, budget spent exactly
    p = plan(
        [(1, "a b c d e", "s0"), (2, "f g h i j", "s1"), (3, "k l m n o", "s2")]
    )
    allocs = [r.alloc_tokens for r in p.values()]
    assert max(allocs) - min(allocs) <= 1
    assert sum(allocs) == 15 * 9 // 10


def test_simhash_signature_size_unbounded(spark):
    """The 64-sum signature build has NO per-doc size limit (the
    packed-lane alternative needed a 32,767-distinct-token truncation
    guard; it was measured slower and rejected in r5 — this pins that
    the shipped build handles a 40,000-distinct-token doc exactly,
    with no overflow and no truncation)."""
    from gmt_dbt_spark.operators.dedup import simhash_signature

    n_tok = 40000
    text = " ".join(f"tok{i}" for i in range(n_tok))
    docs = spark.createDataFrame([(1, text), (2, "a small doc")], ["doc_id", "text"])
    rows = {r.doc_id: r.simhash for r in simhash_signature(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1] is not None and rows[1] != 0


def test_nb_classifier_learns_planted_signal(spark, tmp_path):
    """The other half of text_nb_classifier's calibration story: the
    main fixture's lang label is UNLEARNABLE (shared 31-token vocab →
    audit ≈ majority class, honestly). On a corpus where the label
    DOES have lexical signal, the same trained plan must reach
    accuracy 1.0 — proving the near-chance fixture audit measures the
    label, not a broken learner."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    en_words = ["quantum", "flux", "lattice", "entropy", "boson"]
    fr_words = ["tomate", "jardin", "fromage", "baguette", "soleil"]
    rows = []
    for i in range(40):
        pos = i % 2 == 0
        words = (en_words if pos else fr_words) * 6
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(words[i % 5 :] + words[: i % 5]),
                "lang": "en" if pos else "fr",
                "source": f"src{i % 3}",
                "n_chars": 0,
            }
        )
    d = tmp_path / "planted_nb"
    d.mkdir()
    pq.write_table(
        pa.table({k: [r[k] for r in rows] for k in rows[0]}),
        str(d / "documents.parquet"),
    )
    out = all_queries()["text_nb_classifier"](spark, str(d)).collect()
    assert len(out) == 40
    assert all(r.correct for r in out), [r for r in out if not r.correct][:3]
    # and the evidence is one-sided: en docs see zero fr-class mass
    # for their tokens beyond smoothing, so every vote agrees
    assert all(
        (r.votes_pos == r.n_tok) == r.label_pos for r in out
    )


def test_bpe_train_matches_hand_computed_merges(spark, tmp_path):
    """Pin the trainer on the classic Sennrich toy corpus
    (low×5, lower×2, newest×6, widest×3), hand-computed:
    step 1: (e,s) 9  [newest 6 + widest 3]
    step 2: (es,t) 9
    step 3: (l,o) 7  [low 5 + lower 2]
    step 4: (lo,w) 7
    Ties break (count desc, then lexicographic) — e.g. step 1 ties
    (e,s) with (s,t) at 9 and (e,s) wins lexicographically; step 3
    ties (l,o),(lo? no),(o,w)... (l,o) beats (o,w) at 7."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    rows = [
        {"doc_id": i, "text": w, "lang": "en", "source": "s", "n_chars": len(w)}
        for i, w in enumerate(words)
    ]
    d = tmp_path / "bpe_toy"
    d.mkdir()
    pq.write_table(
        pa.table({k: [r[k] for r in rows] for k in rows[0]}),
        str(d / "documents.parquet"),
    )
    out = {
        r.step: (r.a, r.b, r.n)
        for r in all_queries()["text_bpe_train"](spark, str(d)).collect()
    }
    assert out[1] == ("e", "s", 9)
    assert out[2] == ("es", "t", 9)
    assert out[3] == ("l", "o", 7)
    assert out[4] == ("lo", "w", 7)
    assert len(out) == 8  # enough pairs exist for all N_MERGES steps


def test_bpe_exhaustion_truncates_merges_keeps_vocab(spark, tmp_path):
    """A corpus whose words fuse completely before N_MERGES steps:
    'ab'×3 and 'cd'×2 exhaust after 2 merges (a+b, c+d; 4 symbols →
    2 single-symbol words). The merge table must TRUNCATE to 2 rows —
    and text_bpe_encode must still see the intact trained vocab (the
    left-join chain; a cross join would annihilate it and encode
    would return zero rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    words = ["ab"] * 3 + ["cd"] * 2
    rows = [
        {"doc_id": i, "text": w, "lang": "en", "source": "s", "n_chars": 2}
        for i, w in enumerate(words)
    ]
    d = tmp_path / "bpe_exhaust"
    d.mkdir()
    pq.write_table(
        pa.table({k: [r[k] for r in rows] for k in rows[0]}),
        str(d / "documents.parquet"),
    )
    qs = all_queries()
    merges = {r.step: (r.a, r.b, r.n) for r in qs["text_bpe_train"](spark, str(d)).collect()}
    assert merges == {1: ("a", "b", 3), 2: ("c", "d", 2)}
    enc = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in qs["text_bpe_encode"](spark, str(d)).collect()}
    assert len(enc) == 5
    assert all(v == (1, 1) for v in enc.values())  # each word = 1 merged token


def _python_bpe(word_counts, k):
    """Pure-Python reference BPE trainer (mirrors tokenizer.py:
    greedy left-to-right merge, argmax by (count, then lexicographic
    pair), merge table truncates on pair exhaustion)."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(k):
        counts = {}
        for w, syms in vocab.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, n))
        for w, syms in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference_randomized(spark, tmp_path):
    """Randomized algorithm pin: 4 seeded corpora of random words over
    a 4-letter alphabet, the Spark trainer's merge table AND the
    encode budgets must equal a pure-Python reference BPE exactly
    (same greedy fold, same (count desc, lexicographic) tie-break,
    same exhaustion truncation). Random corpora hit tie-breaks and
    repeated-letter runs ('aaab') that curated fixtures miss."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.functions.tokenizer import N_MERGES
    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in range(4):
        rng = random.Random(1000 + seed)
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(5, 25))
        ]
        counts = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        ref_merges, ref_vocab = _python_bpe(counts, N_MERGES)

        d = tmp_path / f"bpe_rand_{seed}"
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": list(range(len(words))),
                    "text": words,
                    "lang": ["en"] * len(words),
                    "source": ["s"] * len(words),
                    "n_chars": [len(w) for w in words],
                }
            ),
            str(d / "documents.parquet"),
        )
        got = [
            (r.a, r.b, r.n)
            for r in sorted(
                qs["text_bpe_train"](spark, str(d)).collect(),
                key=lambda r: r.step,
            )
        ]
        assert got == ref_merges, f"seed {seed}: {got} != {ref_merges}"
        enc = {
            r.doc_id: r.n_bpe_tokens
            for r in qs["text_bpe_encode"](spark, str(d)).collect()
        }
        want = {i: len(ref_vocab[w]) for i, w in enumerate(words)}
        assert enc == want, f"seed {seed}: encode budgets diverge"


def _write_docs(tmp_path, name, words):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(words))),
                "text": words,
                "lang": ["en"] * len(words),
                "source": ["s"] * len(words),
                "n_chars": [len(w) for w in words],
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_bpe_batched_trainer_bit_identical(spark, tmp_path):
    """The r5 VERDICT item-6 experiment gate: `_train_chain_batched`
    must emit a merge table AND final vocabulary BIT-IDENTICAL to the
    sequential trainer on every corpus — the exactness theorem
    (tokenizer.py) in test form. Corpora chosen to hit each branch:
    the Sennrich toy (chained merges — es/est share symbols, batch
    trims to 1), pair exhaustion, a 3-disjoint-pair corpus (the
    batch-win case: one round replaces three), a blocker-trim corpus
    (disjoint runner-up at the SAME count as a sharing blocker must
    be trimmed — strictness matters), self-pair runs ('aaaa'), and 12
    randomized corpora (two alphabets; the 2-letter one stresses
    self-pairs and overlap greed) cross-checked against the
    pure-Python reference too."""
    import random

    from gmt_dbt_spark.catalog import table as cat_table
    from gmt_dbt_spark.functions.tokenizer import (
        N_MERGES,
        _train_chain,
        _train_chain_batched,
    )

    corpora = {
        "toy": ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3,
        "exhaust": ["ab"] * 3 + ["cd"] * 2,
        "batchwin": ["ab"] * 9 + ["cd"] * 8 + ["ef"] * 7,
        "trim": ["qr"] * 9 + ["xab"] * 8,
        "selfpair": ["aaaa"] * 4 + ["baab"] * 3,
        # the r6 review counterexample: batching [(a,a),(ac,ac),(b,b)]
        # diverged because (ac,ac)'s OWN merge over ac·ac·ac creates
        # (acac,ac) bounded by the member's count, not the blocker —
        # the self-pair-terminates-batch rule exists for this corpus
        "review_ce": ["c", "a", "acacacaa", "acc", "babbb", "bacacac",
                      "caaaa"],
    }
    for seed in range(8):
        rng = random.Random(2000 + seed)
        alpha = "abcd" if seed % 2 == 0 else "ab"
        corpora[f"rand{seed}"] = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10)))
            for _ in range(rng.randint(5, 25))
        ]
    # post-review hardening: longer words over a 2-3 letter alphabet
    # breed the self-adjacent runs (acacac, aaaa) the original seeds
    # mostly missed — the class the review's fuzzer caught
    for seed in range(8, 16):
        rng = random.Random(3000 + seed)
        alpha = "ab" if seed % 2 == 0 else "abc"
        corpora[f"rand{seed}"] = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 14)))
            for _ in range(rng.randint(4, 30))
        ]

    for name, words in corpora.items():
        d = _write_docs(tmp_path, f"bpe_batch_{name}", words)
        docs = cat_table(spark, d, "documents")
        seq_steps, seq_vocab = _train_chain(docs)
        seq_table = []
        for p in seq_steps:
            seq_table.extend((r.step, r.a, r.b, r.n) for r in p.collect())
        seq_table.sort()
        bat_table, bat_vocab = _train_chain_batched(docs)
        assert bat_table == seq_table, (
            f"{name}: merge tables diverge\nbatched={bat_table}\nseq={seq_table}"
        )
        sv = {r.word: r.syms for r in seq_vocab.collect()}
        bv = {r.word: r.syms for r in bat_vocab.collect()}
        assert bv == sv, f"{name}: final vocab diverges"
        # randomized corpora also pin against the pure-Python reference
        if name.startswith("rand"):
            counts = {}
            for w in words:
                counts[w] = counts.get(w, 0) + 1
            ref_merges, _ = _python_bpe(counts, N_MERGES)
            got = [(a, b, n) for (_s, a, b, n) in bat_table]
            assert got == ref_merges, f"{name}: batched != python ref"


def test_select_batch_collision_guard():
    """r6 ADVICE guard, pinned synthetically: a member whose concat
    string equals an already-occupied symbol (a prior round's learned
    merge, or an earlier member's symbol/concat) TERMINATES its batch
    — its created occurrences would ADD to pre-existing pair counts,
    voiding the created≤blocker bound for members after it. Natural
    corpora reaching this are vanishingly rare (r7: 320k fuzz corpora
    produced zero firings and zero unguarded divergences), so the
    guard is pinned on constructed ranked lists, not a corpus."""
    from collections import namedtuple

    from gmt_dbt_spark.functions.tokenizer import BATCH_TOPK, _select_batch

    P = namedtuple("P", "a b n")
    # (x,y)'s concat "xy" collides with a PRIOR round's learned symbol
    ranked = [P("x", "y", 9), P("c", "d", 7), P("e", "f", 5)]
    got = _select_batch(ranked, BATCH_TOPK, frozenset({"xy"}))
    assert got == [ranked[0]], "learned-collision must terminate the batch"
    # same ranked list without the collision: full disjoint batch
    # (floor = 0 because len(ranked) < saw_k)
    assert _select_batch(ranked, BATCH_TOPK, frozenset()) == ranked
    # the colliding member is still exact ITSELF (its count is
    # untouched and earlier members' risers are blocker-bounded), so
    # it is accepted and the batch ends AFTER it
    ranked2 = [P("a", "b", 9), P("c", "d", 7), P("e", "f", 5)]
    got2 = _select_batch(ranked2, BATCH_TOPK, frozenset({"cd"}))
    assert got2 == ranked2[:2], (
        "colliding member is accepted but terminates the batch"
    )
    # collision with an EARLIER MEMBER's concat, multi-char symbols:
    # member 1 (ab,cd) creates "abcd"; member 2 (a,bcd)'s concat is
    # the same string via a different split — double-contributed
    # created occurrences, must terminate at member 2
    ranked5 = [P("ab", "cd", 9), P("a", "bcd", 7), P("e", "f", 5)]
    got5 = _select_batch(ranked5, BATCH_TOPK, frozenset())
    assert got5 == ranked5[:2], (
        "same-concat different-split member must end the batch"
    )
    # blocker strictness across the termination: the colliding member
    # folds the NEXT ranked count (7) into the blocker, and the trim
    # is STRICT — so the member itself, also at 7, must be trimmed
    # (a created pair can tie-break-beat it) and only q1 survives
    ranked3 = [P("a", "b", 9), P("c", "d", 7), P("e", "f", 7)]
    got3 = _select_batch(ranked3, BATCH_TOPK, frozenset({"cd"}))
    assert got3 == ranked3[:1], got3
    # self-pair termination unchanged by the new parameter
    ranked4 = [P("p", "p", 9), P("c", "d", 7)]
    assert _select_batch(ranked4, BATCH_TOPK, frozenset()) == ranked4[:1]


def test_lloyd_centroids_empty_raises(spark):
    """r6 ADVICE: lloyd_centroids on an EMPTY embeddings relation must
    raise an explicit ValueError, not an opaque IndexError — it is
    shared by two registered queries (embed_kmeans, dedup_semdedup).
    Fewer-than-K behavior (k' = n_rows centroids, oracle-mirrored) is
    documented in the docstring and already exercised by the tiny
    adversarial corpus."""
    from gmt_dbt_spark.operators.embeddings import lloyd_centroids

    empty = spark.createDataFrame([], "vec_id bigint, qv array<bigint>")
    with pytest.raises(ValueError, match="empty"):
        lloyd_centroids(empty.localCheckpoint(eager=True))


# ---- unigram-LM trainer (r7): pure-Python reference pin ------------


def _python_unigram(word_counts):
    """Pure-Python reference of the unigram hard-EM trainer — an
    INDEPENDENT implementation of the tokenizer.py contract (same
    constants, reimplemented arithmetic), the BPE evidence standard."""
    from gmt_dbt_spark.functions.tokenizer import (
        UNI_MAXLEN,
        UNI_SEED_MULTI,
        UNI_TARGET_MULTI,
        UNI_LOG_SCALE,
    )

    def ilog2(x):
        f = x.bit_length() - 1
        return UNI_LOG_SCALE * f + ((x - (1 << f)) * UNI_LOG_SCALE) // (1 << f)

    def scores_of(counts):
        tot = sum(counts.values())
        return {p: ilog2(c) - ilog2(tot) for p, c in counts.items()}

    def segment(word, scores):
        dp = [(0, 0)]
        for j in range(1, len(word) + 1):
            cands = []
            for l in range(1, min(UNI_MAXLEN, j) + 1):
                piece = word[j - l : j]
                if piece in scores:
                    cands.append((dp[j - l][0] + scores[piece], l))
            dp.append(max(cands))  # ties -> longer piece
        out, j = [], len(word)
        while j > 0:
            l = dp[j][1]
            out.append(word[j - l : j])
            j -= l
        return out[::-1]

    sub = {}
    for w, c in word_counts.items():
        for l in range(1, UNI_MAXLEN + 1):
            for i in range(len(w) - l + 1):
                sub[w[i : i + l]] = sub.get(w[i : i + l], 0) + c
    chars = {p: c for p, c in sub.items() if len(p) == 1}
    multi = dict(
        sorted(
            ((p, c) for p, c in sub.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_SEED_MULTI]
    )
    if not chars:
        return [], {}
    s0 = scores_of({**chars, **multi})
    c1 = {}
    for w, c in word_counts.items():
        for p in segment(w, s0):
            c1[p] = c1.get(p, 0) + c
    chars1 = {p: max(c1.get(p, 0), 1) for p in chars}
    multi1 = dict(
        sorted(
            ((p, c1[p]) for p in multi if c1.get(p, 0) >= 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:UNI_TARGET_MULTI]
    )
    s1 = scores_of({**chars1, **multi1})
    c2 = {}
    segs = {}
    for w, c in word_counts.items():
        segs[w] = segment(w, s1)
        for p in segs[w]:
            c2[p] = c2.get(p, 0) + c
    return sorted((p, c2.get(p, 0), s1[p]) for p in s1), segs


def test_unigram_train_matches_python_reference_randomized(spark, tmp_path):
    """Randomized algorithm pin (the BPE standard applied to the
    unigram trainer): seeded corpora over two alphabets — the Spark
    trainer's full piece table (piece, n_uses, score) AND the encode
    budgets must equal the pure-Python reference exactly. The 2-letter
    alphabet stresses overlapping-substring seeds and score ties; the
    4-letter one stresses the prune cut."""
    import random

    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in range(6):
        rng = random.Random(5000 + seed)
        alpha = "ab" if seed % 2 == 0 else "abcd"
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(4, 30))
        ]
        counts = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        ref_rows, ref_segs = _python_unigram(counts)

        d = _write_docs(tmp_path, f"uni_rand_{seed}", words)
        got = sorted(
            (r.piece, r.n_uses, r.score)
            for r in qs["text_unigram_train"](spark, d).collect()
        )
        assert got == ref_rows, f"seed {seed}:\n{got}\n!=\n{ref_rows}"
        enc = {
            r.doc_id: (r.n_words, r.n_pieces, r.max_word_pieces)
            for r in qs["text_unigram_encode"](spark, d).collect()
        }
        want = {
            i: (1, len(ref_segs[w]), len(ref_segs[w]))
            for i, w in enumerate(words)
        }
        assert enc == want, f"seed {seed}: encode budgets diverge"


def test_unigram_learns_planted_piece(spark, tmp_path):
    """Structural sanity on a constructed corpus: the whole word
    'abab' dominates its char decomposition (count 5 beats per-char
    products), so the trained vocabulary must contain piece 'abab'
    with n_uses 5 and every 'abab' doc must encode to ONE piece; the
    rare word 'cd' still encodes (chars are never pruned)."""
    from gmt_dbt_spark.registry import all_queries

    words = ["abab"] * 5 + ["cd"] * 2
    d = _write_docs(tmp_path, "uni_toy", words)
    qs = all_queries()
    vocab = {r.piece: r for r in qs["text_unigram_train"](spark, d).collect()}
    assert "abab" in vocab and vocab["abab"].n_uses == 5, vocab
    enc = {r.doc_id: r for r in qs["text_unigram_encode"](spark, d).collect()}
    for i in range(5):
        assert enc[i].n_pieces == 1, enc[i]
    for i in (5, 6):
        assert enc[i].n_words == 1 and enc[i].n_pieces >= 1, enc[i]


def test_ppl_filter_and_fertility_match_python_reference(spark, tmp_path):
    """The two unigram-consumer surfaces pinned against the same
    pure-Python reference as the trainer: per-doc CCNet tercile bands
    (floor-milli average piece score, rank by (score desc, doc_id),
    (rank-1)*3 vs n comparisons) and per-lang fertility — plus the
    'empty' band for a punctuation-only doc that normalizes to zero
    tokens."""
    import random

    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in range(3):
        rng = random.Random(7000 + seed)
        alpha = "ab" if seed % 2 == 0 else "abc"
        words_pool = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 9)))
            for _ in range(12)
        ]
        texts = [
            " ".join(rng.choice(words_pool) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 14))
        ]
        texts.append("!!! ... ???")  # normalizes to zero tokens -> 'empty'
        rows = [
            (i, t, "en" if i % 2 == 0 else "fr", "srcx")
            for i, t in enumerate(texts)
        ]
        import pyarrow as pa
        import pyarrow.parquet as pq

        dd = tmp_path / f"ppl_rand_{seed}"
        dd.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "lang": [r[2] for r in rows],
                    "source": [r[3] for r in rows],
                    "n_chars": [len(r[1]) for r in rows],
                }
            ),
            str(dd / "documents.parquet"),
        )
        d = str(dd)

        wc = {}
        for _i, t, _l, _s in rows:
            for w in t.split():
                w2 = "".join(c for c in w.lower() if c.isalnum())
                if w2:
                    wc[w2] = wc.get(w2, 0) + 1
        _, segs = _python_unigram(wc)
        from gmt_dbt_spark.functions.tokenizer import (
            _uni_ilog2,
            UNI_TARGET_MULTI,
        )
        # rebuild s1 exactly as the reference does (needs scores for
        # the per-piece sum) — reuse _python_unigram internals by
        # recomputing: score of each used piece can be read back from
        # the registered trainer surface instead (already pinned equal
        # to the reference by the trainer test)
        piece_scores = {
            r.piece: r.score
            for r in qs["text_unigram_train"](spark, d).collect()
        }
        # python per-doc expectation
        per = {}
        for i, t, lang, _s in rows:
            toks = []
            for w in t.split():
                w2 = "".join(c for c in w.lower() if c.isalnum())
                if w2:
                    toks.append(w2)
            if not toks:
                continue
            np_ = sum(len(segs[w]) for w in toks)
            ts = sum(piece_scores[p] for w in toks for p in segs[w])
            per[i] = (len(toks), np_, (ts * 1000) // np_)  # python // floors
        order = sorted(per, key=lambda i: (-per[i][2], i))
        n = len(order)
        want = {}
        for rk, i in enumerate(order):
            band = (
                "head" if rk * 3 < n else ("middle" if rk * 3 < 2 * n else "tail")
            )
            want[i] = (*per[i], band, rk * 3 < 2 * n)
        for i, *_rest in rows:
            if i not in want:
                want[i] = (0, 0, None, "empty", False)

        got = {
            r.doc_id: (r.n_words, r.n_pieces, r.score_milli, r.band, r.keep)
            for r in qs["text_ppl_filter"](spark, d).collect()
        }
        assert got == want, f"seed {seed}:\n{got}\n!=\n{want}"

        # fertility: per-lang aggregates from the same segmentations
        fert = {}
        for i, t, lang, _s in rows:
            for w in t.split():
                w2 = "".join(c for c in w.lower() if c.isalnum())
                if not w2:
                    continue
                nw, npcs, nsp, mx = fert.get(lang, (0, 0, 0, 0))
                k = len(segs[w2])
                fert[lang] = (nw + 1, npcs + k, nsp + (1 if k > 1 else 0),
                              max(mx, k))
        gotf = {
            r.lang: (r.n_words, r.n_pieces, r.n_split_words,
                     r.max_word_pieces)
            for r in qs["text_unigram_fertility"](spark, d).collect()
        }
        assert gotf == fert, f"seed {seed}: fertility diverges"


# ---- WordPiece trainer + greedy runtime (r7): reference pins --------


def _python_wordpiece(word_counts, k):
    """Pure-Python reference WordPiece trainer (mirrors wordpiece.py:
    argmax of exact fixed-point likelihood floor(n<<32 / (m_a*m_b)),
    ties (n desc, a, b); greedy left-to-right merge application;
    truncation on pair exhaustion). Arbitrary-precision ints — the
    engine-neutral ground truth."""
    from gmt_dbt_spark.functions.wordpiece import WP_SCALE

    vocab = {w: list(w) for w in word_counts}
    merges = []
    for step in range(1, k + 1):
        pc, sc = {}, {}
        for w, syms in vocab.items():
            c = word_counts[w]
            for x in syms:
                sc[x] = sc.get(x, 0) + c
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        if not pc:
            break
        scored = {
            p: (n * WP_SCALE) // (sc[p[0]] * sc[p[1]]) for p, n in pc.items()
        }
        (a, b), n = min(
            pc.items(), key=lambda kv: (-scored[kv[0]], -kv[1], kv[0])
        )
        merges.append((step, a, b, n, scored[(a, b)]))
        for w, syms in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def _python_wp_encode(word, vocab, probe_max=12):
    """Greedy longest-match-first: (n_pieces, is_unk)."""
    j, np_ = 0, 0
    while j < len(word):
        for l in range(min(probe_max, len(word) - j), 0, -1):
            if word[j : j + l] in vocab:
                np_ += 1
                j += l
                break
        else:
            return 1, True
    return np_, False


def test_wordpiece_diverges_from_bpe_on_planted_corpus(spark, tmp_path):
    """The likelihood-vs-frequency planted corpus: pair (a,b) has the
    HIGHEST count (10) but its symbols are everywhere (m_a=m_b=60),
    while (x,y) occurs only 3 times but its symbols occur ONLY
    together (m_x=m_y=3, score 1/3). BPE must learn (a,b) first;
    WordPiece must learn (x,y) first — the defining difference of the
    two algorithms, pinned on one corpus."""
    from gmt_dbt_spark.registry import all_queries

    words = (
        ["ab"] * 10 + ["a"] * 50 + ["b"] * 50 + ["xy"] * 3
    )
    d = _write_docs(tmp_path, "wp_vs_bpe", words)
    qs = all_queries()
    wp1 = qs["text_wordpiece_train"](spark, d).orderBy("step").first()
    bpe1 = qs["text_bpe_train"](spark, d).orderBy("step").first()
    assert (wp1.a, wp1.b, wp1.n) == ("x", "y", 3)
    # exact fixed-point score: floor(3 * 2^32 / (3*3))
    assert wp1.score == (3 * 4294967296) // 9
    assert (bpe1.a, bpe1.b, bpe1.n) == ("a", "b", 10)


def test_wordpiece_train_matches_python_reference_randomized(spark, tmp_path):
    """Randomized algorithm pin (the BPE evidence standard): seeded
    corpora of random words over a 4-letter alphabet; the Spark
    trainer's merge table — steps, pairs, counts, AND exact
    fixed-point scores — must equal the pure-Python reference, and
    the per-doc greedy encode budgets must equal a pure-Python greedy
    encode under the reference's vocab."""
    import random

    from gmt_dbt_spark.functions.wordpiece import WP_MERGES
    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in range(4):
        rng = random.Random(7000 + seed)
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(5, 25))
        ]
        counts = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        ref_merges, _ = _python_wordpiece(counts, WP_MERGES)

        d = _write_docs(tmp_path, f"wp_rand_{seed}", words)
        got = [
            (r.step, r.a, r.b, r.n, r.score)
            for r in qs["text_wordpiece_train"](spark, d).orderBy("step").collect()
        ]
        assert got == ref_merges, f"seed {seed}:\n{got}\n!=\n{ref_merges}"

        vocab = set("".join(words)) | {a + b for _, a, b, _, _ in ref_merges}
        want = {}
        for i, w in enumerate(words):
            np_, unk = _python_wp_encode(w, vocab)
            want[i] = (1, np_, 1 if unk else 0, np_)
        enc = {
            r.doc_id: (r.n_words, r.n_wp_tokens, r.n_unk_words, r.max_word_pieces)
            for r in qs["text_wordpiece_encode"](spark, d).collect()
        }
        assert enc == want, f"seed {seed}: encode diverges"


def test_wordpiece_greedy_differs_from_train_segmentation(spark, tmp_path):
    """Greedy longest-match is the RUNTIME, not a training replay —
    pinned on a corpus where they PROVABLY differ (found by search,
    verified below): on {'aaaab','bbac','abb','baaa','ccc'} the
    merge replay segments 'aaaab' as ['aa','aa','b'] (3 pieces) while
    greedy longest-match-first takes a longer prefix piece and lands
    on 2. The engine must follow the GREEDY reference on every doc —
    and the divergence assertion keeps this test from going vacuous
    if the corpus ever changes."""
    from gmt_dbt_spark.functions.wordpiece import WP_MERGES
    from gmt_dbt_spark.registry import all_queries

    words = ["aaaab", "bbac", "abb", "baaa", "ccc"]
    d = _write_docs(tmp_path, "wp_greedy", words)
    counts = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    ref_merges, ref_vocab = _python_wordpiece(counts, WP_MERGES)
    vocab = set("".join(words)) | {a + b for _, a, b, _, _ in ref_merges}
    # the divergence is real: greedy and replay disagree on >= 1 word
    diverged = [
        w
        for w in counts
        if not _python_wp_encode(w, vocab)[1]
        and _python_wp_encode(w, vocab)[0] != len(ref_vocab[w])
    ]
    assert diverged, "corpus no longer separates greedy from replay"
    qs = all_queries()
    enc = {
        r.doc_id: r.n_wp_tokens
        for r in qs["text_wordpiece_encode"](spark, d).collect()
    }
    for i, w in enumerate(words):
        np_, unk = _python_wp_encode(w, vocab)
        assert not unk
        assert enc[i] == np_, (w, enc[i], np_)


def test_wordpiece_unk_planted_positive_and_negative(spark):
    """Direct-semantics pin of the [UNK] path (unreachable through
    the registered query, which is alphabet-closed by construction):
    under a RESTRICTED vocab, a word with an uncovered character MUST
    collapse to one [UNK] token (planted positive), and a fully
    covered word must NEVER be flagged (planted negative). Also pins
    the short-tail guard: vocab {'ab','a'} (no 'b') on word 'ab'
    matches 'ab'; on word 'b' alone it must go UNK, not false-match
    the 2-char probe against a shorter suffix. An [UNK] word is the
    single piece [UNK]."""
    from gmt_dbt_spark.functions.wordpiece import wp_pieces

    words = spark.createDataFrame(
        [("abz",), ("ab",), ("b",), ("aab",)], "word string"
    )
    got = {
        r.word: list(r.pieces)
        for r in wp_pieces(words, {"ab", "a"}).collect()
    }
    assert got["abz"] == ["[UNK]"]   # planted positive: 'z' uncovered
    assert got["ab"] == ["ab"]       # planted negative: one piece
    assert got["b"] == ["[UNK]"]     # short-tail guard: no false 'ab' match
    assert got["aab"] == ["a", "ab"]  # greedy: 'a' + 'ab'


def test_wordpiece_exhaustion_truncates(spark, tmp_path):
    """Single-char words exhaust pairs immediately: empty merge table,
    encode still works (every word = 1 piece via the alphabet)."""
    from gmt_dbt_spark.registry import all_queries

    d = _write_docs(tmp_path, "wp_exhaust", ["a", "b", "c", "a b c"])
    qs = all_queries()
    assert qs["text_wordpiece_train"](spark, d).count() == 0
    enc = {
        r.doc_id: (r.n_words, r.n_wp_tokens, r.n_unk_words)
        for r in qs["text_wordpiece_encode"](spark, d).collect()
    }
    assert enc == {0: (1, 1, 0), 1: (1, 1, 0), 2: (1, 1, 0), 3: (3, 3, 0)}


# ---- PII redaction (r7): rewrite-and-rehash planted tests -----------


def test_pii_redact_planted_positive_and_negative(spark, tmp_path):
    """Direct-semantics pin independent of the oracle: planted PII of
    every pattern class MUST be counted and rewritten (positives, with
    the md5 of the HAND-REDACTED text derived via hashlib), and a
    clean document's hash MUST equal the md5 of its original text
    (negative — redaction touched nothing). Includes the sequencing
    edge (a digit run inside an email counts in n_long_ids but is
    consumed by the earlier email redaction) and near-miss negatives
    (8-digit run, 5-octet dotted run is IP + trailing-digit, TLD-less
    email candidate)."""
    import hashlib

    from gmt_dbt_spark.registry import all_queries

    texts = [
        # planted positives: one per class, one combined
        "mail me at alice.w+spam@corp-mail.io today",
        "server 192.168.0.254 rebooted",
        "account 1234567890 flagged",
        "bob@x.org met carol@y.co.uk at 10.0.0.1 re 999888777666",
        # sequencing edge: digits-in-email counted but consumed
        "reach 123456789@relay.example.net soon",
        # planted negatives: near-misses that must NOT match
        "order 12345678 shipped to v1.2.3 build 1.2.3.4.5",
        "plain prose with no identifiers at all",
    ]
    want = []
    red = [
        "mail me at <EMAIL> today",
        "server <IP> rebooted",
        "account <ID> flagged",
        "<EMAIL> met <EMAIL> at <IP> re <ID>",
        "reach <EMAIL> soon",
        "order 12345678 shipped to v1.2.3 build <IP>.5",
        "plain prose with no identifiers at all",
    ]
    counts = [
        (1, 0, 0),
        (0, 1, 0),
        (0, 0, 1),
        (2, 1, 1),
        (1, 0, 1),  # the digit run counts on RAW text
        (0, 1, 0),  # 1.2.3.4 inside 1.2.3.4.5 is a boundary IP match
        (0, 0, 0),
    ]
    for r, (ne, ni, nl) in zip(red, counts):
        want.append((ne, ni, nl, hashlib.md5(r.encode()).hexdigest()))
    d = _write_docs(tmp_path, "pii_planted", texts)
    got = {
        r.doc_id: (r.n_emails, r.n_ips, r.n_long_ids, r.redacted_md5)
        for r in all_queries()["text_pii_redact"](spark, d).collect()
    }
    for i, w in enumerate(want):
        assert got[i] == w, (i, texts[i], got[i], w)


# ---- scalar-quantization audit (r7): brute-force + planted flip -----


def _write_embeddings(tmp_path, name, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": list(range(len(vecs))),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
                "label": [i % 10 for i in range(len(vecs))],
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def _python_sq_audit(vecs, n_queries=8, k=10, shift=8192):
    """Brute-force reference of the exact embed_sq_audit spec:
    micro = floor(float64(cell) * 1e6); coarse = floor(micro/shift)
    (true floor, negatives included); both rankings (dot desc,
    neighbor_id asc); overlap/top-1/id-sums per query."""
    import math

    import numpy as np

    micro = [
        [math.floor(float(np.float64(np.float32(x))) * 1e6) for x in v]
        for v in vecs
    ]
    coarse = [[math.floor(c / shift) for c in m] for m in micro]
    out = {}
    for qid in range(min(n_queries, len(vecs))):
        rows = []
        for nid, (m, c) in enumerate(zip(micro, coarse)):
            if nid == qid:
                continue
            df = sum(a * b for a, b in zip(micro[qid], m))
            ds = sum(a * b for a, b in zip(coarse[qid], c))
            rows.append((nid, df, ds))
        f = sorted(rows, key=lambda r: (-r[1], r[0]))[:k]
        t = sorted(rows, key=lambda r: (-r[2], r[0]))[:k]
        fs, ts = {r[0] for r in f}, {r[0] for r in t}
        out[qid] = (
            len(fs & ts),
            sum(fs),
            sum(ts),
            f[0][0] == t[0][0],
        )
    return out


def test_sq_audit_matches_brute_force_randomized(spark, tmp_path):
    """Randomized pin: 2 seeded float32 corpora (24 vecs x 6 dims,
    values in [-1, 1]) — the Spark audit must equal the pure-Python
    brute force on every column, including float32->micro flooring
    on NEGATIVE cells (floor, not trunc)."""
    import random

    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in (11, 12):
        rng = random.Random(seed)
        vecs = [
            [rng.uniform(-1, 1) for _ in range(6)] for _ in range(24)
        ]
        d = _write_embeddings(tmp_path, f"sq_rand_{seed}", vecs)
        want = _python_sq_audit(vecs)
        got = {
            r.query_id: (r.n_overlap, r.full_id_sum, r.sq_id_sum, r.top1_match)
            for r in qs["embed_sq_audit"](spark, d).collect()
        }
        assert got == want, f"seed {seed}:\n{got}\n!=\n{want}"


def test_sq_audit_planted_ranking_flip(spark, tmp_path):
    """Planted positive: a corpus where coarsening INVERTS a ranking.
    Query [1, 1]; neighbor 1 sits just BELOW a 2^13 micro boundary in
    both dims (loses ~8191 micro per dim to the floor), neighbor 2
    exactly ON boundaries with a smaller true dot (loses nothing) —
    full ranking says 1 beats 2, coarse ranking says 2 beats 1. The
    audit MUST report the top-1 mismatch (and the brute force agrees
    by construction). Planted negative: a well-separated corpus where
    coarsening changes nothing and top1_match stays true."""
    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    # constructed in MICRO space (the +0.5/1e6 offset makes the
    # float32->micro floor land exactly on the chosen integer; f32
    # rounding error at 0.5 magnitude is ~0.06 micro): the coarse
    # boundary is 61*8192 = 499712. n1 = [499711, 499711] micro ->
    # coarse [60, 60]; n2 = [499712, 491520] -> coarse [61, 60].
    # Full dots: n1 999422e6 > n2 991232e6; coarse dots: n1 14640 <
    # n2 14762 — a true inversion from accumulated floor loss.
    n1 = [(499711 + 0.5) / 1e6] * 2
    n2 = [(499712 + 0.5) / 1e6, (491520 + 0.5) / 1e6]
    vecs = [[1.0, 1.0], n1, n2] + [[-1.0, -1.0]] * 6
    d = _write_embeddings(tmp_path, "sq_flip", vecs)
    want = _python_sq_audit(vecs)
    got = {
        r.query_id: (r.n_overlap, r.full_id_sum, r.sq_id_sum, r.top1_match)
        for r in qs["embed_sq_audit"](spark, d).collect()
    }
    assert got == want
    # the planted flip IS real — strict on both reference and engine
    assert want[0][3] is False
    assert got[0][3] is False

    # planted negative: spread-out corpus, coarsening is harmless
    vecs2 = [[1.0, 1.0], [0.75, 0.75], [0.25, 0.25], [-0.5, -0.5]] + [
        [0.0, 0.0]
    ] * 5
    d2 = _write_embeddings(tmp_path, "sq_clean", vecs2)
    want2 = _python_sq_audit(vecs2)
    got2 = {
        r.query_id: (r.n_overlap, r.full_id_sum, r.sq_id_sum, r.top1_match)
        for r in qs["embed_sq_audit"](spark, d2).collect()
    }
    assert got2 == want2
    assert got2[0][3] is True  # negative: no flip on the clean corpus


# ---- DSIR importance selection (r7): reference + planted tests ------


def _write_docs_src(tmp_path, name, rows):
    """rows: [(doc_id, text, source)]"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": [len(r[1] or "") for r in rows],
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def _python_dsir(rows, buckets=1024, keep_den=4):
    """Pure-Python reference of the exact pipeline_dsir spec."""
    import hashlib
    import re

    from gmt_dbt_spark.functions.tokenizer import _uni_ilog2

    def toks(t):
        t = re.sub(r"[^a-zA-Z0-9 ]", " ", t or "").lower().strip()
        return [w for w in t.split() if w]

    def bkt(w):
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        return (h % 2147483647) % buckets

    srcs = [s for _, _, s in rows if s is not None]
    if not srcs:
        return {}
    tgt = min(srcs)
    tc, sc = {}, {}
    for _, t, s in rows:
        if s is None:
            continue
        for w in toks(t):
            b = bkt(w)
            d = tc if s == tgt else sc
            d[b] = d.get(b, 0) + 1
    tn = sum(tc.values()) + buckets
    sn = sum(sc.values()) + buckets
    ltn, lsn = _uni_ilog2(tn), _uni_ilog2(sn)

    def w_of(b):
        return (
            _uni_ilog2(tc.get(b, 0) + 1)
            - ltn
            - _uni_ilog2(sc.get(b, 0) + 1)
            + lsn
        )

    scored = {}
    pool = []
    for did, t, s in rows:
        if s is None or s == tgt:
            continue
        pool.append(did)
        tk = toks(t)
        if tk:
            scored[did] = (len(tk), sum(w_of(bkt(w)) for w in tk))
    ranked = sorted(scored.items(), key=lambda kv: (-kv[1][1], kv[0]))
    n = len(ranked)
    out = {}
    for r, (did, (ntk, s)) in enumerate(ranked, 1):
        out[did] = (ntk, s, r, keep_den * r <= n + keep_den - 1)
    for did in pool:
        if did not in out:
            out[did] = (0, None, None, False)
    return out


def test_dsir_selects_target_like_docs(spark, tmp_path):
    """Planted semantics: target domain = source 'a_wiki' (lexicographic
    min) talks about chemistry; the pool has chemistry-like docs and
    sports docs. The chemistry-like pool docs MUST outscore and be
    kept (positives); the sports docs must rank below (negatives);
    the exact scores/ranks/keeps equal the pure-Python reference.
    Also pins: zero-token pool doc (score NULL, keep false), and the
    tie-break by doc_id."""
    from gmt_dbt_spark.registry import all_queries

    rows = [
        (0, "atoms bond into molecules in reactions", "a_wiki"),
        (1, "molecules and atoms form crystals", "a_wiki"),
        (2, "atoms molecules reactions crystals bond", "z_web"),
        (3, "molecules bond in atoms", "z_web"),
        (4, "football score goal referee stadium", "z_web"),
        (5, "referee goal football match", "z_web"),
        (6, "!!! ...", "z_web"),  # empty-normalizing pool doc
        (7, "atoms bond reactions", "z_web"),
        (8, "stadium crowd cheering goal", "z_web"),
    ]
    d = _write_docs_src(tmp_path, "dsir_plant", rows)
    want = _python_dsir(rows)
    got = {
        r.doc_id: (r.n_tokens, r.score_fp, r.rn, r.keep)
        for r in all_queries()["pipeline_dsir"](spark, d).collect()
    }
    assert got == want, f"\n{got}\n!=\n{want}"
    # the planted semantics really hold: chemistry docs outrank sports
    chem = {2, 3, 7}
    sport = {4, 5, 8}
    assert max(got[i][2] for i in chem) < min(got[i][2] for i in sport)
    # top quartile of 7 scored docs = ceil(7/4) = 2 keeps, both chem
    kept = {i for i, v in got.items() if v[3]}
    assert len(kept) == 2 and kept <= chem
    # zero-token doc: present, unscored, not kept
    assert got[6] == (0, None, None, False)


def test_dsir_single_source_pool_is_empty(spark, tmp_path):
    """Degenerate corpus (one source): the pool is empty and the
    result must be empty on the engine (the oracle mirrors)."""
    from gmt_dbt_spark.registry import all_queries

    rows = [(0, "only one source here", "s"), (1, "more of it", "s")]
    d = _write_docs_src(tmp_path, "dsir_single", rows)
    assert all_queries()["pipeline_dsir"](spark, d).count() == 0


# ---- Kneser-Ney bigram LM (r7): reference + planted tests -----------


def _python_kn(texts):
    """Pure-Python reference of the exact text_kn_logprob spec:
    31-bit md5 token hashes, interpolated KN with D=3/4 in rational
    form, fixed-point ilog2 scores. Returns {doc_id: (n_bigrams,
    score_fp_or_None)} plus the stats for property checks."""
    import hashlib
    import re

    from gmt_dbt_spark.functions.tokenizer import _uni_ilog2

    def toks(t):
        t = re.sub(r"[^a-zA-Z0-9 ]", " ", t or "").lower().strip()
        return [w for w in t.split() if w]

    def h(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 2147483647

    streams = {i: [h(w) for w in toks(t)] for i, t in texts.items()}
    bg = {}
    for hs in streams.values():
        for v, w in zip(hs, hs[1:]):
            bg[(v, w)] = bg.get((v, w), 0) + 1
    cv, n1p, n1c = {}, {}, {}
    for (v, w), c in bg.items():
        cv[v] = cv.get(v, 0) + c
        n1p[v] = n1p.get(v, 0) + 1
        n1c[w] = n1c.get(w, 0) + 1
    n11 = len(bg)
    out = {}
    for i, hs in streams.items():
        pairs = list(zip(hs, hs[1:]))
        if not pairs:
            out[i] = (0, None)
            continue
        s = 0
        for v, w in pairs:
            num = (4 * bg[(v, w)] - 3) * n11 + 3 * n1p[v] * n1c[w]
            den = 4 * cv[v] * n11
            s += _uni_ilog2(num) - _uni_ilog2(den)
        out[i] = (len(pairs), s)
    return out, (bg, cv, n1p, n1c, n11)


def test_kn_spec_is_a_true_distribution():
    """Spec-level property (Fractions, no engines): for every seen
    context v, sum over the seen vocabulary of P(w|v) is EXACTLY 1 —
    the discount mass is fully redistributed by the continuation
    term. This is what makes the score a genuine LM log-prob."""
    from fractions import Fraction

    texts = {0: "a b a b c d", 1: "b c a d d", 2: "a b", 3: "d a"}
    _, (bg, cv, n1p, n1c, n11) = _python_kn(texts)
    for v in cv:
        s = sum(
            Fraction(
                (4 * bg.get((v, w), 0) - 3) * n11 * (1 if (v, w) in bg else 0)
                + 3 * n1p[v] * n1c[w],
                4 * cv[v] * n11,
            )
            for w in n1c
        )
        assert s == 1, (v, s)


def test_kn_logprob_matches_python_reference(spark, tmp_path):
    """Hand-sized planted corpus + randomized corpora, every doc's
    (n_bigrams, score_fp) pinned against the pure-Python reference —
    including the short-doc NULL-score edge and hash-identical
    token reduction."""
    import random

    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    cases = [["a b a b c", "b c a", "a b", "solo", ""]]
    for seed in (21, 22):
        rng = random.Random(seed)
        cases.append(
            [
                " ".join(
                    rng.choice("abcd") for _ in range(rng.randint(0, 12))
                )
                for _ in range(rng.randint(6, 20))
            ]
        )
    for ci, words in enumerate(cases):
        texts = dict(enumerate(words))
        want, _ = _python_kn(texts)
        d = _write_docs(tmp_path, f"kn_{ci}", words)
        got = {
            r.doc_id: (r.n_bigrams, r.score_fp)
            for r in qs["text_kn_logprob"](spark, d).collect()
        }
        assert got == want, f"case {ci}:\n{got}\n!=\n{want}"
    # the planted corpus hits both edges: scored docs AND NULL docs
    want0, _ = _python_kn(dict(enumerate(cases[0])))
    assert want0[3] == (0, None) and want0[0][0] == 4


# ---- group-aware split (r7): leakage planted tests ------------------


def test_group_split_duplicates_never_straddle(spark, tmp_path):
    """Planted positive: byte-identical documents MUST land in the
    same split (the structural guarantee — doc-id hashing gives ~20%
    straddle odds per dup pair). Planted negative/coverage: on a
    40-doc corpus both splits are populated and sized by the 8/2
    bucket rule computed independently via hashlib. NULL and ''
    texts merge into one group by spec."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    texts = [f"unique document number {i} body" for i in range(36)]
    texts += ["the duplicated text"] * 2 + [None, ""]
    d = tmp_path / "gsplit"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
                "n_chars": [len(t or "") for t in texts],
            }
        ),
        str(d / "documents.parquet"),
    )
    got = {
        r.doc_id: (r.fpn, r.n_group, r.split)
        for r in all_queries()["pipeline_group_split"](spark, str(d)).collect()
    }
    # independent expectation (hashlib, no oracle)
    def want(t):
        fpn = hashlib.md5((t or "").encode()).hexdigest()
        b = int(hashlib.md5(("split:" + fpn).encode()).hexdigest()[:8], 16)
        return fpn, "train" if b % 10 < 8 else "test"

    for i, t in enumerate(texts):
        fpn, sp = want(t)
        assert got[i][0] == fpn and got[i][2] == sp, (i, got[i], fpn, sp)
    # dup pair: same split, group size 2
    assert got[36] == got[37] and got[36][1] == 2
    # NULL and '' merged into one group of 2, same split
    assert got[38] == got[39] and got[38][1] == 2
    # both splits populated on this corpus
    assert {v[2] for v in got.values()} == {"train", "test"}


def test_tokenizer_families_agree_on_word_counts(spark, tmp_path):
    """Cross-family invariant: BPE, unigram, and WordPiece encode
    surfaces all join the SAME normalized token stream, so per doc
    n_words must be identical across the three — and every family's
    piece budget is bounded below by n_words' piece-per-word minimum
    of 1 (no family can emit fewer pieces than words). A join bug,
    vocab-coverage hole, or stream divergence in any one family
    breaks this even while its own oracle stays green (the
    mirrored-bug doctrine applied across families)."""
    from gmt_dbt_spark.registry import all_queries

    words = [
        "the quick brown fox jumps over the lazy dog",
        "aaa bbb aaa ccc",
        "unicode stripped ünïcode here",
        "!!!",
        "single",
    ]
    d = _write_docs(tmp_path, "tok_families", words)
    qs = all_queries()
    bpe = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in qs["text_bpe_encode"](spark, d).collect()
    }
    uni = {
        r.doc_id: (r.n_words, r.n_pieces)
        for r in qs["text_unigram_encode"](spark, d).collect()
    }
    wp = {
        r.doc_id: (r.n_words, r.n_wp_tokens)
        for r in qs["text_wordpiece_encode"](spark, d).collect()
    }
    # the empty-normalizing doc (id 3) drops from all three alike
    assert set(bpe) == set(uni) == set(wp) == {0, 1, 2, 4}
    for i in bpe:
        assert bpe[i][0] == uni[i][0] == wp[i][0], (i, bpe[i], uni[i], wp[i])
        for fam, (nw, np_) in (("bpe", bpe[i]), ("uni", uni[i]), ("wp", wp[i])):
            assert np_ >= nw, (i, fam, nw, np_)


# ---- NFD no-split packing audit (r7): planted + reference -----------


def test_pack_nfd_planted_and_reference(spark, tmp_path):
    """Hand-packable planted corpus at budget 2048 (one source):
    docs of tok sizes built from space counts — [1500, 1200, 900,
    600, 400, 40] NFD-sorted pack as [1500+400+40=1940 | 1200+600=
    1800 | 900]: 3 bins, lb=ceil(4640/2048)=3, waste=(2048-1940)+
    (2048-1800)+(2048-900)=1504. Plus an oversize doc (tok 3000) in
    a second source: own bin, zero waste contribution, n_oversize=1.
    Expectations derived by hand AND cross-checked by an independent
    pure-Python NFD; the bins/lb sandwich lb <= bins is asserted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    def doc(n_tok):
        return "w" + " w" * (n_tok - 1)  # exactly n_tok whitespace tokens

    rows = [
        (0, doc(1500), "a"), (1, doc(1200), "a"), (2, doc(900), "a"),
        (3, doc(600), "a"), (4, doc(400), "a"), (5, doc(40), "a"),
        (6, doc(3000), "b"), (7, doc(100), "b"), (8, None, "b"),
    ]
    d = tmp_path / "nfd"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": [len(r[1] or "") for r in rows],
            }
        ),
        str(d / "documents.parquet"),
    )
    got = {
        r.source: (r.n_docs, r.total_tok, r.bins_nfd, r.lb_bins,
                   r.waste_tok, r.n_oversize)
        for r in all_queries()["pack_nfd_audit"](spark, str(d)).collect()
    }
    assert got["a"] == (6, 4640, 3, 3, 1504, 0), got["a"]
    # source b: 3000 opens bin 1 (over budget, waste 0 on close),
    # 100 opens bin 2 (waste 2048-100 at end); NULL doc excluded
    assert got["b"] == (2, 3100, 2, 2, 1948, 1), got["b"]
    for src, (_, tot, bins, lb, _, _) in got.items():
        assert lb <= bins, (src, lb, bins)

    # independent NFD reference on the same sizes
    def nfd(sizes, b=2048):
        cur = bins = waste = 0
        for t in sorted(sizes, reverse=True):
            if bins == 0 or cur + t > b:
                if bins > 0:
                    waste += max(b - cur, 0)
                bins += 1
                cur = t
            else:
                cur += t
        return bins, waste + (max(b - cur, 0) if bins else 0)

    assert nfd([1500, 1200, 900, 600, 400, 40]) == (3, 1504)
    assert nfd([3000, 100]) == (2, 1948)


# ---- tokenizer decode round-trips (r8): losslessness pins -----------


def test_tokenizer_roundtrip_lossless_planted(spark, tmp_path):
    """All three families must decode every doc back to its exact
    normalized token stream: rebuilt_md5 equals the hashlib md5 of
    the Python-side normalization (strip non-alnum → lower → split),
    ok=true everywhere, n_pieces >= n_words, and the
    empty-normalizing doc rebuilds to '' (md5 of the empty string).
    The expectation is derived OUTSIDE both engines — a piece-order
    bug (the r8 unigram backtrack reversal this op caught the day it
    was written), a dropped piece, or a vocab-coverage hole breaks
    the hash even while piece COUNTS stay plausible."""
    import re

    from gmt_dbt_spark.registry import all_queries

    words = [
        "the quick brown fox jumps over the lazy dog",
        "aaa bbb aaa ccc aaa",
        "unicode stripped ünïcode here",
        "!!!",        # normalizes to '' → empty rebuild
        "repetition repetition repetition",
    ]
    d = _write_docs(tmp_path, "rt_planted", words)

    def norm_stream(t):
        toks = [
            w
            for w in re.sub("[^a-zA-Z0-9 ]", " ", t).lower().strip().split()
            if w
        ]
        return " ".join(toks), len(toks)

    qs = all_queries()
    for op in (
        "text_bpe_roundtrip",
        "text_unigram_roundtrip",
        "text_wordpiece_roundtrip",
    ):
        got = {r.doc_id: r for r in qs[op](spark, d).collect()}
        assert set(got) == set(range(len(words))), op
        for i, w in enumerate(words):
            stream, nw = norm_stream(w)
            r = got[i]
            assert r.ok is True, (op, i)
            assert r.n_words == nw, (op, i)
            assert r.n_pieces >= r.n_words, (op, i)
            assert r.rebuilt_md5 == hashlib.md5(stream.encode()).hexdigest(), (
                op,
                i,
            )
        assert got[3].n_words == 0 and got[3].n_pieces == 0


def test_wordpiece_roundtrip_unk_is_lossy(spark):
    """The deliberately-lossy WordPiece path, direct-tested with a
    RESTRICTED vocab (unreachable through the registered op — its
    trained vocab is alphabet-closed): a word containing a character
    outside the vocab decodes to the literal [UNK] with n_pieces=1,
    and the rebuilt-vs-original comparison surfaces ok=false; clean
    words in the same doc still decode exactly."""
    from pyspark.sql import functions as F

    from gmt_dbt_spark.functions.tokenizer_roundtrip import _rebuild_surface
    from gmt_dbt_spark.functions.wordpiece import wp_pieces

    it = spark.createDataFrame(
        [("cat",), ("dog",), ("qat",)], "word string"
    )
    # vocab lacks 'q': 'qat' must [UNK]; 'cat'/'dog' split clean
    pieces = wp_pieces(it, {"c", "a", "t", "d", "o", "g", "ca", "do"})
    rows = {r.word: list(r.pieces) for r in pieces.collect()}
    assert rows["cat"] == ["ca", "t"]  # greedy: 'ca' + 't'
    assert rows["dog"] == ["do", "g"]
    assert rows["qat"] == ["[UNK]"]
    docs = spark.createDataFrame(
        [(0, "cat dog"), (1, "qat cat")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in _rebuild_surface(docs, pieces).collect()}
    assert out[0].ok is True and out[0].n_pieces == 4
    assert out[1].ok is False  # [UNK] broke the rebuild
    assert out[1].rebuilt_md5 == hashlib.md5(b"[UNK] cat").hexdigest()


def test_unigram_segmentation_is_word_ordered(spark, tmp_path):
    """The r8 backtrack fix pinned directly: every word's Viterbi
    segmentation must CONCATENATE back to the word (piece order =
    word order, not reverse). Uses words whose multi-piece splits
    are asymmetric, so a reversed ps would concatenate to a
    different string and fail."""
    from gmt_dbt_spark.functions.tokenizer import _uni_train
    from gmt_dbt_spark.operators.dedup import tokens_col  # noqa: F401

    words = [
        "abcd efgh abcd efgh",
        "abab cdcd abab",
        "xyz xyz abcabc",
    ]
    d = _write_docs(tmp_path, "uni_order", words)
    docs = spark.read.parquet(d + "/documents.parquet")
    _, s1, seg = _uni_train(docs)
    assert s1
    for r in seg.collect():
        assert "".join(r.ps) == r.word, (r.word, r.ps)


def test_tokenizer_surfaces_on_a_zero_token_corpus(spark, tmp_path):
    """A corpus with no token trains no vocabulary, and every apply
    surface still answers from the empty (word, pieces) relation: the
    six encode/fertility surfaces are empty with their columns and
    types, every doc round-trips to '' with ok=true, and
    text_ppl_filter bands every doc 'empty' with a NULL score."""
    from gmt_dbt_spark.registry import all_queries

    d = _write_docs(tmp_path, "zero_tok", ["!!! ???", "...", ""])
    qs = all_queries()
    budget = {
        "text_bpe_encode": "doc_id:bigint n_words:bigint n_bpe_tokens:bigint"
        " max_word_pieces:int",
        "text_bpe_fertility": "lang:string n_words:bigint n_bpe_tokens:bigint"
        " n_split_words:bigint max_word_pieces:int",
        "text_unigram_encode": "doc_id:bigint n_words:bigint n_pieces:bigint"
        " max_word_pieces:int",
        "text_unigram_fertility": "lang:string n_words:bigint n_pieces:bigint"
        " n_split_words:bigint max_word_pieces:int",
        "text_wordpiece_encode": "doc_id:bigint n_words:bigint"
        " n_wp_tokens:bigint n_unk_words:bigint max_word_pieces:int",
        "text_wordpiece_fertility": "lang:string n_words:bigint"
        " n_wp_tokens:bigint n_split_words:bigint n_unk_words:bigint"
        " max_word_pieces:int",
    }
    for op, cols in budget.items():
        df = qs[op](spark, d)
        assert " ".join(f"{c}:{t}" for c, t in df.dtypes) == cols, op
        assert df.collect() == [], op
    empty = hashlib.md5(b"").hexdigest()
    for op in (
        "text_bpe_roundtrip",
        "text_unigram_roundtrip",
        "text_wordpiece_roundtrip",
    ):
        got = {
            r.doc_id: (r.n_words, r.n_pieces, r.rebuilt_md5, r.ok)
            for r in qs[op](spark, d).collect()
        }
        assert got == {i: (0, 0, empty, True) for i in range(3)}, op
    ppl = qs["text_ppl_filter"](spark, d)
    assert ppl.columns == [
        "doc_id", "n_words", "n_pieces", "score_milli", "band", "keep"
    ]
    assert sorted(tuple(r) for r in ppl.collect()) == [
        (i, 0, 0, None, "empty", False) for i in range(3)
    ]


def test_token_entropy_matches_python_reference(spark, tmp_path):
    """text_token_entropy (r8) pinned against an independent Python
    ilog2 implementation on planted distributions: a constant-token
    doc scores exactly 0; a 4-unique-token doc scores exactly
    4·ilog2(4) = 2.000 bits (power-of-two counts make the fixed
    point EXACT, so entropy_milli == 2000 precisely); a skewed doc
    matches the reference sum; an empty-normalizing doc surfaces
    NULL entropy."""
    from gmt_dbt_spark.registry import all_queries

    S = 4096

    def ilog2(x):
        bl = x.bit_length()
        p = 1 << (bl - 1)
        return S * (bl - 1) + ((x - p) * S) // p

    def href(tokens):
        from collections import Counter

        c = Counter(tokens)
        n = len(tokens)
        return sum(v * (ilog2(n) - ilog2(v)) for v in c.values()), n, len(c)

    words = [
        "same same same same",                # H = 0
        "alpha bravo charlie delta",          # 2 bits exactly
        "x x x x x x y z",                    # skewed
        "???",                                # empty → NULL
    ]
    d = _write_docs(tmp_path, "entropy", words)
    got = {
        r.doc_id: (r.n_tokens, r.n_types, r.h_fp, r.entropy_milli)
        for r in all_queries()["text_token_entropy"](spark, d).collect()
    }
    for i, w in enumerate(words[:3]):
        toks = w.split()
        h, n, ty = href(toks)
        assert got[i] == (n, ty, h, (h * 1000) // (n * S)), i
    assert got[0][3] == 0
    assert got[1][3] == 2000  # exact: power-of-two uniform
    assert got[3] == (0, 0, 0, None)


def test_source_overlap_planted(spark, tmp_path):
    """pipeline_source_overlap on planted vocabularies: sources A and
    B carry the SAME shingle set (identical doc text) → non-full
    sketches are exact → jaccard_milli == 1000 and est_inter ==
    est_union; source C is lexically disjoint → n_common == 0 and
    jaccard_milli == 0 against both. A <3-token doc must contribute
    nothing (full-3-gram gating)."""
    from gmt_dbt_spark.registry import all_queries

    shared = "alpha bravo charlie delta echo foxtrot golf"
    rows = [
        (0, shared, "en", "srcA"),
        (1, shared, "en", "srcB"),
        (2, "one two", "en", "srcB"),  # <3 tokens → no shingles
        (3, "kilo lima mike november oscar papa quebec", "en", "srcC"),
    ]
    d = _write_docs(tmp_path, "overlap", [r[1] for r in rows])
    # rewrite with per-row sources (the helper writes a single source)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": [len(r[1]) for r in rows],
            }
        ),
        d + "/documents.parquet",
    )
    got = {
        (r.src_a, r.src_b): r
        for r in all_queries()["pipeline_source_overlap"](spark, d).collect()
    }
    ab = got[("srcA", "srcB")]
    assert ab.est_a == ab.est_b == 5  # 7 tokens → 5 distinct 3-grams
    assert ab.n_common == 5 and ab.est_union == 5 and ab.est_inter == 5
    assert ab.jaccard_milli == 1000
    for pair in (("srcA", "srcC"), ("srcB", "srcC")):
        r = got[pair]
        assert r.n_common == 0 and r.est_inter == 0 and r.jaccard_milli == 0


def test_sort_order_audit_planted_nulls_and_ties(spark, tmp_path):
    """The order-sensitive sort twin on planted corners the fixture
    never exercises: NULL acctbal must land LAST within its segment
    (desc_nulls_last), equal acctbals break by custkey, and segments
    order lexically. Expected positions derived by an independent
    Python sort."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    rows = [
        # (custkey, name, acctbal, segment)
        (1, "a", 50.0, "AUTO"),
        (2, "b", None, "AUTO"),     # null → last within AUTO
        (3, "c", 900.0, "AUTO"),
        (4, "d", 50.0, "AUTO"),     # tie with 1 → custkey breaks
        (5, "e", -10.0, "AUTO"),
        (6, "f", None, "AUTO"),     # second null → custkey breaks
        (7, "g", 1e9, "BUILDING"),  # later segment despite max bal
    ]
    d = tmp_path / "sortaudit"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "c_custkey": [r[0] for r in rows],
                "c_name": [r[1] for r in rows],
                "c_acctbal": pa.array(
                    [r[2] for r in rows], type=pa.float64()
                ),
                "c_mktsegment": [r[3] for r in rows],
            }
        ),
        str(d / "customer.parquet"),
    )

    def key(r):
        return (
            r[3],
            (1, 0.0) if r[2] is None else (0, -r[2]),
            r[0],
        )

    want = {r[0]: i + 1 for i, r in enumerate(sorted(rows, key=key))}
    got = {
        r.c_custkey: r.rn
        for r in all_queries()["sort_order_audit"](spark, str(d)).collect()
    }
    assert got == want
    assert want == {3: 1, 1: 2, 4: 3, 5: 4, 2: 5, 6: 6, 7: 7}


def test_badwords_broadcast_variant_matches_literal(spark):
    """The documented large-blocklist production swap (r9 ADVICE):
    the exploded-stream broadcast-join variant must produce EXACTLY
    the registered literal gate's output on the fixture — same rows,
    same counts, same keep decisions — and its plan must actually
    broadcast the blocklist relation (the claim being documented)."""
    import io
    import contextlib

    from gmt_dbt_spark.catalog import table as cat_table
    from gmt_dbt_spark.functions.text import (
        BADWORDS,
        badwords_filter_broadcast,
    )
    from gmt_dbt_spark.registry import all_queries
    from tests.conftest import SF_DIR

    lit = {
        r.doc_id: (r.n_tokens, r.n_bad, r.keep)
        for r in all_queries()["text_badwords_filter"](spark, SF_DIR).collect()
    }
    docs = cat_table(spark, SF_DIR, "documents")
    bc_df = badwords_filter_broadcast(docs, list(BADWORDS))
    bc = {
        r.doc_id: (r.n_tokens, r.n_bad, r.keep) for r in bc_df.collect()
    }
    assert bc == lit
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bc_df.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_bpe_and_wp_fertility_match_python_reference(spark, tmp_path):
    """r9 drill finding: a MIRRORED bug in the BPE/WordPiece fertility
    aggregates (e.g. n_split counting >=1 pieces, planted on a scratch
    tree) survived every existing test — the unigram fertility had a
    pure-Python pin (which caught the same planted bug instantly),
    these two only had the parity oracle. This is that missing pin:
    seeded random bilingual corpora, per-lang (n_words, piece totals,
    split/unk counts, max pieces) computed from the INDEPENDENT
    _python_bpe / _python_wordpiece + _python_wp_encode references."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.functions.tokenizer import N_MERGES
    from gmt_dbt_spark.functions.wordpiece import WP_MERGES, WP_PROBE_MAX
    from gmt_dbt_spark.registry import all_queries

    qs = all_queries()
    for seed in range(3):
        rng = random.Random(4200 + seed)
        pool = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            for _ in range(10)
        ]
        texts = [
            " ".join(rng.choice(pool) for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(6, 12))
        ]
        rows = [
            (i, t, "en" if i % 2 == 0 else "fr") for i, t in enumerate(texts)
        ]
        dd = tmp_path / f"fert_rand_{seed}"
        dd.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "lang": [r[2] for r in rows],
                    "source": ["s"] * len(rows),
                    "n_chars": [len(r[1]) for r in rows],
                }
            ),
            str(dd / "documents.parquet"),
        )
        d = str(dd)

        counts = {}
        for _i, t, _l in rows:
            for w in t.split():
                counts[w] = counts.get(w, 0) + 1

        # --- BPE expected: vocab from the reference trainer ----------
        _, bpe_vocab = _python_bpe(counts, N_MERGES)
        expect_bpe = {}
        for _i, t, lang in rows:
            for w in t.split():
                n_sub = len(bpe_vocab[w])
                e = expect_bpe.setdefault(lang, [0, 0, 0, 0])
                e[0] += 1
                e[1] += n_sub
                e[2] += 1 if n_sub > 1 else 0
                e[3] = max(e[3], n_sub)
        got = {
            r.lang: [r.n_words, r.n_bpe_tokens, r.n_split_words,
                     r.max_word_pieces]
            for r in qs["text_bpe_fertility"](spark, d).collect()
        }
        assert got == expect_bpe, f"seed {seed}: bpe fertility diverges"

        # --- WordPiece expected: trained vocab + greedy encode -------
        wp_merges, _ = _python_wordpiece(counts, WP_MERGES)
        alphabet = {c for w in counts for c in w}
        wp_vocab = alphabet | {a + b for _s, a, b, _n, _sc in wp_merges}
        expect_wp = {}
        for _i, t, lang in rows:
            for w in t.split():
                n_p, unk = _python_wp_encode(w, wp_vocab, WP_PROBE_MAX)
                e = expect_wp.setdefault(lang, [0, 0, 0, 0, 0])
                e[0] += 1
                e[1] += n_p
                e[2] += 1 if n_p > 1 else 0
                e[3] += 1 if unk else 0
                e[4] = max(e[4], n_p)
        got = {
            r.lang: [r.n_words, r.n_wp_tokens, r.n_split_words,
                     r.n_unk_words, r.max_word_pieces]
            for r in qs["text_wordpiece_fertility"](spark, d).collect()
        }
        assert got == expect_wp, f"seed {seed}: wp fertility diverges"


def test_pretrain_corpus_funnel_planted(spark, tmp_path):
    """r9 drill follow-up: pipeline_pretrain_corpus had NO
    construction-derived pin — only oracle parity (blind to mirrored
    bugs) and a plan guard. (The drill's first mutation — dropping
    the q gate from the keeper window — turned out semantically
    EQUIVALENT because q is a function of text alone and fp groups
    share text; recorded, not a bug.) This test pins every stage
    transition on a hand corpus with the expectations computed by a
    PURE-PYTHON replay of the funnel (hashlib md5 + the same _AB
    constants — independent of both engines):

      d0=A keeper · d1=A exact-dup · d2,d6 near-dups of A (fuzzy,
      verified ≥8/12 by the python replay) · d3 fails quality ·
      d4 clean survivor · d5 contaminated (first-5 tokens shared
      with an eval doc) — chosen so |fdup∩keepers| != |contam∩
      keepers| (a stage-order bug cannot produce the same counts).
    """
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.operators.curation import (
        EVAL_SRC_LIST,
        MIN_CHARS,
        MIN_TOKENS,
        _PIPE_FUZZY_MIN_MATCH,
    )
    from gmt_dbt_spark.operators.dedup import _AB, _BANDS, _P
    from gmt_dbt_spark.registry import all_queries

    A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    A2 = A.replace("kappa", "lambda")
    A3 = A.replace("kappa", "mu")
    B = "one two three four five six seven eight nine ten words"
    C = "red green blue cyan magenta extra tokens here now"
    rows = [
        (0, A, "s_train"), (1, A, "s_train"), (2, A2, "s_train"),
        (3, "tiny", "s_train"), (4, B, "s_train"), (5, C, "s_train"),
        (6, A3, "s_train"),
        (100, " ".join(C.split()[:5]) + " different tail", EVAL_SRC_LIST[0]),
    ]
    d = tmp_path / "funnel"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": [len(r[1]) for r in rows],
            }
        ),
        str(d / "documents.parquet"),
    )

    # ---- pure-python replay -----------------------------------------
    def toks(t):
        return [
            w
            for w in "".join(
                c if c.isalnum() or c == " " else " " for c in t
            ).lower().split()
            if w
        ]

    def shingles(t):
        tk = toks(t)
        if len(tk) >= 3:
            return [" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)]
        return [" ".join(tk)]

    def sig(t):
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % _P
            for s in shingles(t)
        ]
        return [min((h * a + b) % _P for h in hs) for a, b in _AB]

    def bands(sg):
        per = len(_AB) // _BANDS
        out = []
        for b in range(_BANDS):
            joined = ",".join(str(x) for x in sg[b * per : (b + 1) * per])
            out.append((b, int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)))
        return out

    train = [(i, t) for i, t, s in rows if s == "s_train"]
    q = {i: len(toks(t)) >= MIN_TOKENS and len(t) >= MIN_CHARS for i, t in train}
    fp = {i: hashlib.md5(t.encode()).hexdigest() for i, t in train}
    keepers = sorted(
        i for i, t in train
        if q[i] and i == min(j for j, _ in train if fp[j] == fp[i] and q[j])
    )
    sigs = {i: sig(dict(train)[i]) for i in keepers}
    fdup = set()
    for ia in keepers:
        for ib in keepers:
            if ia < ib and set(bands(sigs[ia])) & set(bands(sigs[ib])):
                n_match = sum(x == y for x, y in zip(sigs[ia], sigs[ib]))
                if n_match >= _PIPE_FUZZY_MIN_MATCH:
                    fdup.add(ib)
    eval_fp5 = {
        hashlib.md5(" ".join(t.split(" ")[:5]).encode()).hexdigest()
        for i, t, s in rows
        if s in EVAL_SRC_LIST
    }
    contam = {
        i
        for i, t in train
        if hashlib.md5(" ".join(t.split(" ")[:5]).encode()).hexdigest()
        in eval_fp5
    }
    # construction sanity: both near-dups flagged, exactly d5 contam,
    # and the two drop sets differ in size on keepers
    assert fdup == {2, 6} and contam == {5}
    final = [i for i in keepers if i not in fdup and i not in contam]
    expect = (
        len(train),
        sum(q.values()),
        len(keepers),
        len([i for i in keepers if i not in fdup]),
        len(final),
        sum(len(toks(dict(train)[i])) for i in final),
    )
    assert expect == (7, 6, 5, 3, 2, 21)

    got = {
        r.source: (r.n_raw, r.n_quality, r.n_exact, r.n_fuzzy,
                   r.n_final, r.total_tokens)
        for r in all_queries()["pipeline_pretrain_corpus"](
            spark, str(d)
        ).collect()
    }
    assert got == {"s_train": expect}


# --------------------------------------------------------------------
# r10: sim_rrf_fusion — pure-Python reference on a hand corpus whose
# tokenization is trivially exact (lowercase alnum + single spaces →
# split()), covering: multi-term docs, term-free docs, empty text,
# the zero vector, a sub-milli-resolution vector (quantizes to all
# zeros → excluded like the zero vector), and a negative-cosine
# candidate (the signed cos² key must rank it LAST, not by |cos|).

_RRF_DOCS = [
    (1, "vector vector hash stream data"),
    (2, "vector pipeline"),
    (3, "hash hash hash join"),
    (4, "no query terms here"),
    (5, "stream stream"),
    (6, ""),
]
_RRF_VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0]),
    (2, [0.7, 0.7, 0.0]),
    (3, [0.9, 0.1, 0.0]),
    (4, [0.0, 0.0, 0.0]),      # zero vector -> no cosine, excluded
    (5, [-1.0, 0.0, 0.0]),     # negative cosine vs query 0
    (6, [0.0005, 0.0, 0.0]),   # quantizes to all-zero -> excluded
    (7, [0.3, 0.2, 0.9]),
]


def _py_rrf():
    import math

    from gmt_dbt_spark.operators.similarity import (
        _RRF_TERMS,
        RRF_K,
        RRF_SCALE,
        RRF_TOPK,
    )

    sp = {}
    for qi, term in enumerate(_RRF_TERMS):
        scored = []
        for did, text in _RRF_DOCS:
            toks = text.split()
            if not toks:
                continue
            tf = toks.count(term)
            if tf:
                scored.append((-tf, len(toks), did))
        scored.sort()
        for r, (_, _, did) in enumerate(scored[:RRF_TOPK], start=1):
            sp[(qi, did)] = r
    dn = {}
    import numpy as np

    # quantize from the FLOAT32-stored value (the parquet column is
    # float32; both engines widen it to double before *1000) — a
    # float64 literal like 0.9 differs in the 3rd milli digit
    vq = {
        vid: [math.floor(float(np.float32(x)) * 1000.0) for x in vec]
        for vid, vec in _RRF_VECS
    }
    n2 = {vid: sum(x * x for x in q) for vid, q in vq.items()}
    for qi in range(len(_RRF_TERMS)):
        assert n2[qi] > 0
        scored = []
        for vid, q in vq.items():
            if vid == qi or n2[vid] == 0:
                continue
            d = sum(a * b for a, b in zip(vq[qi], q))
            key = (d * d) // n2[vid]
            if d < 0:
                key = -key
            scored.append((-key, vid))
        scored.sort()
        for r, (_, vid) in enumerate(scored[:RRF_TOPK], start=1):
            dn[(qi, vid)] = r
    out = {}
    for k in set(sp) | set(dn):
        rs, rd = sp.get(k), dn.get(k)
        fp = (RRF_SCALE // (RRF_K + rs) if rs else 0) + (
            RRF_SCALE // (RRF_K + rd) if rd else 0
        )
        out[k] = (rs, rd, fp)
    fused = {}
    for qi in range(len(_RRF_TERMS)):
        rows = sorted(
            ((-v[2], k[1]) for k, v in out.items() if k[0] == qi)
        )
        for fr, (_, did) in enumerate(rows, start=1):
            rs, rd, fp = out[(qi, did)]
            fused[(qi, did)] = (rs, rd, fp, fr)
    return fused


def test_rrf_fusion_matches_python_reference(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmt_dbt_spark.registry import all_queries

    d = tmp_path / "rrf_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in _RRF_DOCS],
                "text": [r[1] for r in _RRF_DOCS],
                "lang": ["en"] * len(_RRF_DOCS),
                "source": ["s"] * len(_RRF_DOCS),
                "n_chars": [len(r[1]) for r in _RRF_DOCS],
            }
        ),
        str(d / "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(
                    [r[0] for r in _RRF_VECS], type=pa.int64()
                ),
                "embedding": pa.array(
                    [r[1] for r in _RRF_VECS],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(_RRF_VECS), type=pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    out = all_queries()["sim_rrf_fusion"](spark, str(d))
    got = {
        (r.query_id, r.doc_id): (
            r.rank_sparse, r.rank_dense, r.rrf_fp, r.fused_rank
        )
        for r in out.collect()
    }
    want = _py_rrf()
    assert got == want, (got, want)
    # construction spot-pins: the zero and sub-milli vectors never
    # appear in any dense list; the negative-cosine candidate ranks
    # strictly below every non-negative one for query 0
    assert all(k[1] not in (4, 6) or got[k][1] is None for k in got)
    dense0 = {k[1]: v[1] for k, v in got.items() if k[0] == 0 and v[1]}
    assert dense0[5] == max(dense0.values())


def test_one_trained_tokenizer_contract():
    """Source-level gate: each tokenizer family hands its apply
    surfaces one (word, pieces) relation. The second copies of the
    WordPiece greedy fold, its wrappers, the hand-typed empty surface
    and the driver-side WordPiece trainer are gone, and no encode,
    fertility or round-trip builder explodes the token stream,
    aggregates or builds a frame itself (`piece_budget` and
    `_rebuild_surface` do)."""
    import ast
    import re

    package = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmt_dbt_spark"
    )
    gone = (
        "_wp_greedy",
        "_wp_greedy_dec",
        "_wp_word_dec",
        "_wp_word_pieces",
        "_empty_surface",
        "wp_train_driver_fold",
        "_wp_fold_local",
        "WP_DRIVER_FOLD_AFTER",
        "WP_COLLECT_MAX_WORDS",
    )
    offenders, builders = [], []
    for root, _, files in os.walk(package):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = f.read()
            rel = os.path.relpath(path, package)
            offenders += [f"{rel} has {g}" for g in gone if re.search(rf"\b{g}\b", text)]
            for fn in ast.walk(ast.parse(text)):
                if not isinstance(fn, ast.FunctionDef) or not re.fullmatch(
                    r"text_\w+_(encode|fertility|roundtrip)", fn.name
                ):
                    continue
                builders.append(fn.name)
                for call in ast.walk(fn):
                    if not isinstance(call, ast.Call):
                        continue
                    f = call.func
                    callee = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if callee in ("tokens_col", "groupBy", "createDataFrame"):
                        offenders.append(f"{fn.name} calls {callee}")
    assert len(builders) == 9, sorted(builders)
    assert not offenders, offenders


def test_one_media_row_seam():
    """Source-level gate: every per-blob computation in multimodal.py
    crosses the one Arrow seam `map_rows` (its only `mapInPandas(`),
    whose batches carry positional columns named by the DDL schema (no
    `columns=` list restating them), and no function in the package
    takes the test-only `stub` switch (the stub codec is
    `decode_payload`, the real one `codecs.decode_media`)."""
    import ast

    package = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmt_dbt_spark"
    )
    with open(os.path.join(package, "operators", "multimodal.py")) as f:
        text = f.read()
    assert text.count("mapInPandas(") == 1
    assert "columns=" not in text
    stub_params = []
    for root, _, files in os.walk(package):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    tree = ast.parse(f.read())
                stub_params += [
                    f"{name}:{fn.name}"
                    for fn in ast.walk(tree)
                    if isinstance(fn, ast.FunctionDef)
                    and any(
                        a.arg == "stub"
                        for a in fn.args.args + fn.args.kwonlyargs + fn.args.posonlyargs
                    )
                ]
    assert not stub_params, stub_params
