"""The vector-arithmetic kit (`operators/vectors.py`) against plain
Python references, and the source gate that keeps the embedding
operators building their folds through it, plus the gate that keeps
one MinHash-LSH path in `operators/dedup.py`."""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from gmt_dbt_spark.operators.vectors import (
    EMBED_DIMS,
    argmin,
    idot,
    isqdist,
    isum,
    isumsq,
    micro,
    nearest,
    sqdist,
    unrolled_idot,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmt_dbt_spark"
)
M = 1_000_000  # micro-unit components are bounded by 10^6 in magnitude


def _pairs() -> list[tuple[list[int], list[int]]]:
    """Seeded random EMBED_DIMS-wide bigint pairs plus the extremes of
    the micro-unit range (every component at ±10^6)."""
    rng = random.Random(20261018)
    pairs = [
        ([rng.randint(-M, M) for _ in range(EMBED_DIMS)],
         [rng.randint(-M, M) for _ in range(EMBED_DIMS)])
        for _ in range(40)
    ]
    top, bottom, zero = [M] * EMBED_DIMS, [-M] * EMBED_DIMS, [0] * EMBED_DIMS
    return pairs + [(top, top), (top, bottom), (bottom, bottom), (zero, top)]


def test_integer_folds_match_python(spark):
    pairs = _pairs()
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<bigint>, b array<bigint>",
    )
    got = df.select(
        "i",
        isum("a").alias("sum"),
        isumsq("a").alias("sumsq"),
        idot("a", "b").alias("dot"),
        isqdist("a", "b").alias("sqdist"),
        unrolled_idot("a", "b").alias("unrolled"),
    ).collect()
    assert len(got) == len(pairs)
    for r in got:
        a, b = pairs[r.i]
        want_dot = sum(x * y for x, y in zip(a, b))
        assert r.sum == sum(a)
        assert r.sumsq == sum(x * x for x in a) == sqdist(a)
        assert r.dot == want_dot
        assert r.sqdist == sum((x - y) ** 2 for x, y in zip(a, b)) == sqdist(a, b)
        assert r.unrolled == want_dot
    # the magnitude bound: 64 · (2·10^6)² still fits int64 exactly
    top, bottom = [M] * EMBED_DIMS, [-M] * EMBED_DIMS
    assert sqdist(top, bottom) == EMBED_DIMS * (2 * M) ** 2 < 2**63


def test_argmin_and_nearest_break_ties_to_lowest_index(spark):
    rng = random.Random(7)
    cases = [[5, 3, 3, 7], [4, 4, 4], [9], [2, 1, 0, 0, 1]]
    cases += [[rng.randint(0, 5) for _ in range(8)] for _ in range(20)]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(cases)], "i int, d array<bigint>"
    )
    for r in df.select("i", argmin("d").alias("k")).collect():
        d = cases[r.i]
        assert r.k == d.index(min(d)), d

    # centroids 0 and 2 are the same point, so every vector ties there
    cents = [[rng.randint(-M, M) for _ in range(EMBED_DIMS)] for _ in range(3)]
    cents[2] = list(cents[0])
    vecs = [a for a, _ in _pairs()] + cents
    vdf = spark.createDataFrame(
        [(i, v, cents) for i, v in enumerate(vecs)],
        "i int, qv array<bigint>, cents array<array<bigint>>",
    )
    for r in vdf.select("i", nearest("qv", F.col("cents")).alias("k")).collect():
        want = min((sqdist(vecs[r.i], c), j) for j, c in enumerate(cents))[1]
        assert r.k == want != 2


def test_micro_floors_toward_negative_infinity(spark):
    xs = [0.1234567, -0.1234567, -0.5, 0.9999999, -1.0, 0.0]
    row = spark.createDataFrame([(xs,)], "v array<double>").select(
        micro("v").alias("u"), micro("v", 1000.0).alias("m")
    ).first()
    assert row.u == [math.floor(x * 1e6) for x in xs]
    assert row.m == [math.floor(x * 1000.0) for x in xs]


def test_sqdist_rejects_mismatched_widths():
    with pytest.raises(ValueError):
        sqdist([1, 2, 3], [1, 2])


def test_vector_folds_live_in_one_module():
    """Source-level gate: the embedding operators build their folds,
    distances, argmins and unrolled dots through vectors.py instead of
    spelling them out again."""
    rules = ("F.aggregate(", "F.zip_with(", "array_position(", "range(EMBED_DIMS)")
    offenders = []
    for name in ("embeddings.py", "similarity.py", "ml_sql.py"):
        with open(os.path.join(PACKAGE, "operators", name)) as f:
            text = f.read()
        offenders += [f"{name} has {rule}" for rule in rules if rule in text]
    assert not offenders, offenders


def test_one_minhash_path():
    """Source-level gate: the MinHash-LSH algebra has one hash (md5)
    and no settable switch, and the band self-join and the signature
    agreement sum are spelled out only in dedup.py."""
    import inspect

    from gmt_dbt_spark.operators import dedup

    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                text = f.read()
            rel = os.path.relpath(path, PACKAGE)
            if "spark.gmt_dbt." in text:
                offenders.append(f"{rel} reads a spark.gmt_dbt. conf")
            if rel != os.path.join("operators", "dedup.py"):
                offenders += [
                    f"{rel} has {rule}" for rule in ("l.band_hash", "mh{j}") if rule in text
                ]
    with open(os.path.join(PACKAGE, "operators", "dedup.py")) as f:
        text = f.read()
    offenders += [f"dedup.py has {rule}" for rule in ("_hash_family", "xxhash64") if rule in text]
    for fn in (
        dedup.shingle_hash,
        dedup.minhash_signature,
        dedup.sig_from_rows,
        dedup.banded_sig,
        dedup.lsh_candidates,
        dedup.lsh_candidate_ids,
    ):
        if "family" in inspect.signature(fn).parameters:
            offenders.append(f"{fn.__name__} takes a family")
    assert not offenders, offenders
