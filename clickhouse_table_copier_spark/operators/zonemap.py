"""Data-layout optimization: Z-order keys and file-level zone maps.

Partition pruning only helps predicates on partition columns. For the
OTHER frequently-filtered columns the lakehouse answer is:

- :func:`z_order_key` — interleave the bits of 2+ normalized columns into
  one sort key; clustering files by it makes every participating column's
  per-file min/max range narrow, so row-group/file skipping works for
  predicates on ANY of them (classic Z-order, expression-only).
- :func:`zone_map` — the file-level (min, max, count) manifest per column,
  computed from ``_metadata.file_path`` in one scan. A planner (or
  :func:`prune_files`) consults it to produce the file list a predicate
  actually needs — the engine-side analogue of ClickHouse's sparse
  primary index over parts.

Both compose with ``operators.compact`` (cluster_by=z-key at rewrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

Z_BITS = 21  # bits per dimension; 2 dims -> 42-bit key fits a bigint


def _normalize_to_bits(col: Column, lo: Column, hi: Column, bits: int = Z_BITS) -> Column:
    """Map a numeric column to [0, 2^bits) by linear scaling — exact
    integer output, monotone, so z-order locality is preserved."""
    span = (hi - lo).cast("double")
    scaled = F.when(
        span <= 0, F.lit(0)
    ).otherwise(
        F.least(
            F.lit(2**bits - 1),
            F.floor(((col.cast("double") - lo) / span) * (2**bits - 1)).cast("bigint"),
        )
    )
    return scaled.cast("bigint")


def z_order_key(a_bits: Column, b_bits: Column, bits: int = Z_BITS) -> Column:
    """Interleave two bit-normalized columns into one z-value.

    Expression-only bit interleave: Σ over i of (bit_i(a) << 2i+1) +
    (bit_i(b) << 2i). Compact enough for codegen at 21 bits.
    """
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        a_bit = F.shiftright(a_bits, i).bitwiseAND(F.lit(1))
        b_bit = F.shiftright(b_bits, i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(a_bit, 2 * i + 1) + F.shiftleft(b_bit, 2 * i)
    return z


def with_z_order(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Append a ``__z`` column over (col_a, col_b), bounds from the data.

    One tiny agg for the global min/max per column (the scaling anchors),
    then the pure-expression interleave. Sort by ``__z`` before writing
    (or hand it to compact's cluster_by) to get the multi-column skipping
    layout.
    """
    bounds = df.agg(
        F.min(col_a).alias("a_lo"), F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"), F.max(col_b).alias("b_hi"),
    ).collect()[0]
    a = _normalize_to_bits(F.col(col_a), F.lit(bounds["a_lo"]), F.lit(bounds["a_hi"]))
    b = _normalize_to_bits(F.col(col_b), F.lit(bounds["b_lo"]), F.lit(bounds["b_hi"]))
    return df.withColumn("__z", z_order_key(a, b))


def zone_map(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """File-level (min, max, n_rows) manifest for the given columns."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.select(F.col("_metadata.file_path").alias("file_path"), *cols)
        .groupBy("file_path")
        .agg(*aggs)
    )


def prune_files(
    zmap: DataFrame, col: str, lo, hi
) -> list[str]:
    """Files whose [min, max] for ``col`` intersects [lo, hi] — the list a
    zone-map-aware read would load (pass to spark.read.parquet(*files))."""
    hit = zmap.where(
        (F.col(f"max_{col}") >= F.lit(lo)) & (F.col(f"min_{col}") <= F.lit(hi))
    )
    return [r["file_path"] for r in hit.select("file_path").collect()]
