"""Pins for the r10 semdedup pair-stage optimization.

The blocked self-join + unrolled-dot rewrite rests on two facts:

1. EMBED_DIMS is a real table contract — every embeddings row at
   every shipped sf is exactly 64 wide. The unrolled Σ qa[i]·qb[i]
   yields NULL (and silently drops the pair) on a shorter array, so
   the contract must be pinned, not assumed.
2. Blocking never changes the pair set: with B blocks, side A
   explodes over all blocks and side B tags pmod(id, B), so each
   (a, b) pair matches exactly once for ANY B. Pin blocks=1 (zero
   replication) ≡ blocks=8 (the default) on the full surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmt_dbt_spark.operators.embeddings import EMBED_DIMS
from gmt_dbt_spark.registry import all_queries

SF_DIRS = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embeddings_fixed_width_contract(spark, sf_dir):
    widths = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.size("embedding").alias("w"))
        .distinct()
        .collect()
    )
    assert [r["w"] for r in widths] == [EMBED_DIMS], widths


@pytest.fixture(scope="module")
def narrow_emb_dir(tmp_path_factory):
    """Embeddings fixture with ONE planted 32-dim row among 64-dim
    rows — the off-contract input the unrolled dot paths must reject
    loudly (VERDICT r10 item 8: GetArrayItem past the end is NULL, so
    without the runtime assert the row's pairs silently vanish)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(20260818)
    d = tmp_path_factory.mktemp("narrow_emb")
    vecs = [
        [round(rng.uniform(-0.5, 0.5), 4) for _ in range(64)] for _ in range(12)
    ]
    vecs[7] = vecs[7][:32]  # the planted off-contract row
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


@pytest.mark.parametrize("name", ["dedup_semdedup", "dedup_embed_cosine"])
def test_unrolled_dot_raises_on_off_contract_width(spark, narrow_emb_dir, name):
    """A 32-dim row must RAISE (assert_embed_dims), never silently
    drop its pairs."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match="EMBED_DIMS contract violated",
    ):
        all_queries()[name](spark, narrow_emb_dir).collect()


def test_assert_embed_dims_names_null_vector(spark):
    """A NULL vector raises with the contract message (size -1), not
    with a NULL message."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from gmt_dbt_spark.operators.embeddings import assert_embed_dims

    df = spark.createDataFrame([(1, None)], "vec_id bigint, qv array<bigint>")
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match=r"EMBED_DIMS contract violated: size\(qv\) = -1",
    ):
        assert_embed_dims(df).collect()


def test_semdedup_block_factor_invariant(spark, monkeypatch):
    """blocks=1 and blocks=8 produce the identical surface."""
    from gmt_dbt_spark.operators import embeddings

    q = all_queries()["dedup_semdedup"]
    sf = "/root/testdata/sf0.01"

    def rows(blocks: int):
        monkeypatch.setattr(embeddings, "SEMDEDUP_BLOCKS", blocks)
        # the sentinel row carries NULLs — sort None-safely
        return sorted(
            (tuple(r) for r in q(spark, sf).collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    assert rows(1) == rows(8)
