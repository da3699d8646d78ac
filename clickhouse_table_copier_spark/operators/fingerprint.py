"""Order-insensitive partition fingerprints (SURVEY §2.4 A1-A3).

The reference's signature operator: per partition it computes
``SELECT groupBitXor(cityHash64(*)) FROM (SELECT cols … WHERE partition)``
(``/root/reference/database/database.go:509-551``) — one round-trip per
partition per side, sequentially from a driver loop.

The Spark-first formulation computes ALL partitions' fingerprints in one
grouped aggregation per side, and this module is the only one that knows
its algebra (the row hash, the per-group count and sum, :func:`combine`):

    df.groupBy(partition_cols).agg(count(*), sum64(xxhash64(cols…)))

The fingerprint is the sum of the row hashes mod 2^64, not the reference's
XOR, under which a row and its copy cancel (``{r, r}`` and ``{s, s}`` would
match). A sum is order- and partitioning-insensitive and composes: the
fingerprints of any split of the rows (files, partitions) combine into the
whole's. Spark runs it as a partial (map-side) aggregate and a final one
per key; only the partials cross the network (#partitions × 24 bytes).

Hash-comparability contract (SURVEY §7.5): both sides must hash
identically-ordered, identically-typed columns. Callers pass the aligned
column list (plans.casting.align on the source side) so the bytes hashed
match what the destination stores — mirroring how the reference hashes
*cast* values via destinationValues (copy/copy.go:221).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.functions.scalars import row_hash
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec

# 1 was the XOR of row hashes; 2 is their sum mod 2^64. Stored fingerprints
# (operators.manifest) carry it, so values of two algebras are never compared.
VERSION = 2

_LOW = 0xFFFFFFFF


def _sum64(values: Column) -> Column:
    """Aggregate: the sum of 64-bit ``values`` mod 2^64, NULL for none.
    ANSI mode makes ``sum(bigint)`` raise on overflow, so the 32-bit halves
    are summed apart (exact below 2^31 values) and folded by a shift, which
    wraps, after the low half's carry is added to the high sum."""
    low = F.sum(values.bitwiseAND(F.lit(_LOW)))
    high = F.sum(F.shiftrightunsigned(values, 32))
    return F.shiftleft(high + F.shiftright(low, 32), 32).bitwiseOR(low.bitwiseAND(F.lit(_LOW)))


def combine(rows: Column, fingerprint: Column) -> tuple[Column, Column]:
    """Aggregates folding (rows, fingerprint) partials into the (rows,
    fingerprint) of their union: per-file values into a partition's,
    per-partition values into a table's. NULL inputs are skipped, and a
    group of only NULLs stays NULL."""
    return F.sum(rows), _sum64(fingerprint)


def _fingerprint(df: DataFrame, keys: list[Column | str], names: list[str], cols: list[str]) -> DataFrame:
    """(names…, rows, fingerprint): ``keys`` selected as ``names``, one
    group per distinct key, and the hash of ``cols`` per row."""
    # one select, not withColumn: every Dataset transformation eagerly
    # re-analyzes the plan JVM-side (~25 ms each on the growing diff lineage)
    return (
        df.select(*keys, row_hash(*cols).alias("__h"))
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("rows"), _sum64(F.col("__h")).alias("fingerprint"))
    )


def table_fingerprint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A3 over the whole table: one row, columns (rows, fingerprint)."""
    return _fingerprint(df, [], [], cols or df.columns)


def file_fingerprints(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-physical-file (rows, fingerprint) — the ``use_virtual_column``
    mode (C7): the reference's ``WHERE _part='…'`` unit of work
    (copy/copy.go:207-211) mapped to Spark's ``_metadata.file_path``.

    File-granular fingerprints let a sync skip at file level even when the
    logical partition is coarse — useful when partitions are huge and
    files are the real unit of re-copy. :func:`combine` folds them into
    the partition's or the table's fingerprint.
    """
    path = F.col("_metadata.file_path").alias("file_path")
    return _fingerprint(df, [path], ["file_path"], cols or df.columns)


def partition_fingerprints(
    df: DataFrame,
    spec: PartitionSpec,
    cols: list[str] | None = None,
) -> DataFrame:
    """A2+A3 for every partition at once: (partition…, rows, fingerprint).

    The set-oriented replacement for the reference's per-partition
    GetPartitionHashAsync loop (database.go:532-551, copy/copy.go:217-232).
    """
    # a pre-existing __h would make the appended hash column ambiguous
    assert "__h" not in df.columns, "input already has a __h column"
    return _fingerprint(spec.with_partition_columns(df), ["*"], list(spec.names), cols or df.columns)
