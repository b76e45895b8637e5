"""Z-order (Morton) clustered writes — multi-dimensional data layout.

The reference configures no partitioning or clustering at all
(absence: `dbt_project.yml:25-31`, `main.py:314-349`); at 100 TB a
fact table queried by MORE THAN ONE selective column needs a layout
where parquet min/max stats prune on every such column. Linear sort
gives perfect pruning on the leading column and none on the rest;
interleaving the bits of both keys (the Morton / z-order curve) gives
good pruning on each — the technique behind Delta OPTIMIZE ZORDER and
ClickHouse's mortonEncode.

Everything here is built-in expressions (shift/mask/or): the bit
spread runs inside whole-stage codegen, no UDF, so the z-value
computation adds one narrow projection to the write job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmt_dbt_spark.sources.sinks import sink_overwrite


def _spread_bits_16(c: Column) -> Column:
    """Spread a 16-bit int's bits to even positions of a 32-bit int
    (classic Morton magic numbers: 0x0000FFFF → interleavable)."""
    x = c.cast("long")
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def morton2(a16: Column, b16: Column) -> Column:
    """Interleave two 16-bit values into one 32-bit z-value."""
    return _spread_bits_16(a16).bitwiseOR(F.shiftleft(_spread_bits_16(b16), 1))


def _scale_16(c: Column, mn: int, mx: int) -> Column:
    """Min-max scale an integer column into [0, 65535]. (Truncating
    double division: bucket-edge rounding only shifts a value by one
    z-bucket — it affects layout quality by at most one row group,
    never read correctness.)"""
    if mx <= mn:
        return F.lit(0).cast("long")
    return ((c.cast("long") - F.lit(mn)) * F.lit(65535) / F.lit(mx - mn)).cast("long")


def zorder_write(
    df: DataFrame, cols: tuple[str, str], path: str, n_files: int = 16
) -> None:
    """Write `df` as parquet clustered on the z-curve of two integer
    columns: scale each to 16 bits (one min/max pass), compute the
    Morton value, range-partition + sort by it, drop the helper
    column. Each output file then covers a compact z-curve segment —
    a small rectangle in (a, b) space — so min/max stats prune reads
    filtered on EITHER column. Cost at scale: one extra narrow
    projection and the same single range-shuffle a sorted write pays
    anyway."""
    a, b = cols
    bounds = df.agg(
        F.min(a).alias("amn"), F.max(a).alias("amx"),
        F.min(b).alias("bmn"), F.max(b).alias("bmx"),
    ).collect()[0]
    z = morton2(
        _scale_16(F.col(a), bounds.amn, bounds.amx),
        _scale_16(F.col(b), bounds.bmn, bounds.bmx),
    )
    sink_overwrite(
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z"),
        path,
    )


# ---------------------------------------------------------------- driver query

from pyspark.sql import SparkSession  # noqa: E402

from gmt_dbt_spark.catalog import read_parquet, table  # noqa: E402
from gmt_dbt_spark.registry import query  # noqa: E402
from gmt_dbt_spark.session import scratch_dir  # noqa: E402


@query(
    "sink_zorder",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 140 AND l_suppkey BETWEEN 10 AND 30
""",
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through a z-ordered layout: write lineitem
    clustered on the (l_partkey, l_suppkey) Morton curve, read back
    through a rectangle filter on BOTH dimensions. Values must match
    the straight filter on the source exactly (layout changes where
    rows live, never what they are); the pruning-quality property —
    few files overlap the rectangle — is pinned separately in
    tests/test_zorder.py via parquet footer stats."""
    li = table(spark, sf_dir, "lineitem")
    with scratch_dir("zorder_lineitem") as path:
        zorder_write(li, ("l_partkey", "l_suppkey"), path, n_files=16)
        out = (
            read_parquet(spark, path)
            .filter(F.col("l_partkey").between(100, 140))
            .filter(F.col("l_suppkey").between(10, 30))
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        )
        return out.localCheckpoint(eager=True)
