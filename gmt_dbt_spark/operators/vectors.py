"""Embedding vector arithmetic: the one module that builds every
fold, distance and nearest-centroid pick over embedding columns.

The vector contract: an embedding is EMBED_DIMS components wide
(`assert_embed_dims` enforces it at runtime). Exact operators
quantize each component to integer MICRO-UNITS, floor(x·10^6) as
bigint (`micro`): float→decimal casts round the last ulp differently
across engines (Spark and DuckDB disagree on ~2% of float32
components at scale 6), while double multiply and floor are exactly
specified by IEEE-754, and bigint sums are order-free. Components are
below 10^6 in magnitude, so a 64-term bigint dot stays below 6.4e13,
far inside int64.

Two evaluation forms, and the caller picks one:

- Higher-order folds (`isum`, `idot`, `isumsq`, `isqdist`, `dot`,
  `norm`, `cosine`, `nearest`): `aggregate` over `zip_with` or
  `transform`. They work at any width. They are CodegenFallback
  expressions, evaluated interpreted per element, but the stage
  around them stays in whole-stage codegen.
- `unrolled_idot`: Σ a[i]·b[i] as EMBED_DIMS literal terms in one
  `F.expr` string, which whole-stage codegen can compile. It reads
  a[i] for every i < EMBED_DIMS, and an index past the end of a
  narrower array is NULL, which would silently drop the row from a
  comparison. Use it only on a fixed-width pair stage behind
  `assert_embed_dims`. Unrolling is bounded by Janino's 64 KB limit
  per generated method, and a stage that passes it loses whole-stage
  codegen as a whole: unrolling 16 hyperplane dots (1024 terms) in
  `dedup_embed_cosine` made the query go from 3.6 to 5.1 s. A lone
  64-term dot compiles. The pair-verify stages of
  `dedup_embed_cosine` and `dedup_semdedup` do not: the optimizer
  copies the dot into both the join condition and the projection,
  ANSI mode adds a bounds check to every a[i], and Spark logs "Code
  grows beyond 64 KB" and runs the stage without whole-stage codegen.

`sqdist` is the exact plain-Python twin for model math done on the
driver (probe lists, centroid norms).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The embeddings table's vector width — a TABLE CONTRACT, not a
# guess: embedding models emit a fixed dimensionality, the fixture
# ships 64 everywhere (MRL_DIMS documents 16-of-64 truncation), and
# tests/test_embed_dims.py pins it at every sf.
EMBED_DIMS = 64


def assert_embed_dims(df: DataFrame, col: str = "qv") -> DataFrame:
    """Runtime enforcement of the EMBED_DIMS table contract: the
    unrolled codegen dot products read ``col[i]`` for i < EMBED_DIMS,
    and a NARROWER array silently yields NULL (GetArrayItem past the
    end is NULL; NULL poisons the sum), which would DROP pairs instead
    of failing. This filter is an identity on on-contract rows
    (assert_true returns NULL on success, coalesced to TRUE — no row
    is ever removed), and raises SparkRuntimeException naming the
    offending width the moment a foreign-width vector reaches an
    unrolled consumer. Cost: one size() compare per row, inside the
    same codegen stage."""
    # a NULL vector reports size -1, so it too gets the message
    size = F.coalesce(F.size(F.col(col)), F.lit(-1))
    return df.filter(
        F.coalesce(
            F.assert_true(
                size == EMBED_DIMS,
                F.concat(
                    F.lit(f"EMBED_DIMS contract violated: size({col}) = "),
                    size.cast("string"),
                    F.lit(f" != {EMBED_DIMS} (embeddings table contract)"),
                ),
            ),
            F.lit(True),
        )
    )


def micro_cell(x: Column, scale: float | Column = 1e6) -> Column:
    """floor(x·scale) as bigint, for one component."""
    return F.floor(x.cast("double") * scale).cast("bigint")


def micro(col: str | Column, scale: float | Column = 1e6) -> Column:
    """The vector quantized component-wise by `micro_cell`: micro-units
    by default, milli-units with ``scale=1000.0``; a Column scale
    gives each row its own."""
    return F.transform(col, lambda x: micro_cell(x, scale))


def _fold(arr: str | Column, zero: Column) -> Column:
    return F.aggregate(arr, zero, lambda acc, x: acc + x)


def isum(arr: str | Column) -> Column:
    """Exact bigint Σ arr[i]."""
    return _fold(arr, F.lit(0).cast("bigint"))


def isumsq(a: str | Column) -> Column:
    """Exact bigint Σ a[i]² (the squared L2 norm)."""
    return isum(F.transform(a, lambda x: x * x))


def idot(a: str | Column, b: str | Column) -> Column:
    """Exact bigint Σ a[i]·b[i]."""
    return isum(F.zip_with(a, b, lambda x, y: x * y))


def isqdist(a: str | Column, b: str | Column) -> Column:
    """Exact bigint Σ (a[i] − b[i])² (the squared L2 distance)."""
    return isum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def dot(a: Column, b: Column) -> Column:
    """Double Σ a[i]·b[i], summed left to right."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0))


def norm(a: Column) -> Column:
    """Double L2 norm √Σ a[i]²."""
    return F.sqrt(_fold(F.transform(a, lambda x: x * x), F.lit(0.0)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def argmin(dists: Column) -> Column:
    """0-based index of the smallest element; ties go to the lowest
    index (array_position returns the FIRST match)."""
    return F.array_position(dists, F.array_min(dists)) - 1


def nearest(v: str | Column, cents: Column) -> Column:
    """Index (int) of the centroid in the array ``cents`` nearest to
    ``v`` by exact squared distance, ties to the lowest index."""
    return argmin(F.transform(cents, lambda c: isqdist(v, c))).cast("int")


def unrolled_idot(a: str, b: str) -> Column:
    """Σ a[i]·b[i] over i < EMBED_DIMS, unrolled (see the module
    docstring for when a caller may use it). Integer addition is
    order-free, so on bigint vectors it equals `idot`."""
    return F.expr(" + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(EMBED_DIMS)))


def sqdist(a: Sequence[int], b: Sequence[int] | None = None) -> int:
    """Σ (a[i] − b[i])² in exact Python ints; without ``b`` it is
    Σ a[i]², the squared norm. Vectors of different widths raise
    ValueError."""
    if b is None:
        return sum(x * x for x in a)
    return sum((x - y) * (x - y) for x, y in zip(a, b, strict=True))
