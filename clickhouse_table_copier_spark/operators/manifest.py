"""Fingerprint manifests — offline partition diff across clusters.

The in-process diff (``operators.diff``) needs both tables reachable from
one session. Real fleets often can't co-read (separate clusters, air
gaps, cost): each side instead EXPORTS a manifest — the per-partition
(rows, fingerprint) table, metadata-sized at any data scale — and the
diff runs anywhere, on manifests alone. This is the ops form of the
reference's workflow: its ``--info`` output serialized and compared
later, instead of recomputed per run.

Manifests are plain parquet, so they travel over anything and classify
with the SAME verdict aggregation as the live path
(``operators.diff.classify_fingerprints`` — one code path for both). Each
row carries the ``fingerprint.VERSION`` it was computed under, and a
manifest of another version (or of none: the XOR fingerprints of old
manifests) is refused, never compared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.diff import classify_fingerprints
from clickhouse_table_copier_spark.operators.fingerprint import VERSION, partition_fingerprints
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec


def write_fingerprint_manifest(
    df: DataFrame,
    spec: PartitionSpec,
    path: str,
    cols: list[str] | None = None,
) -> None:
    """Export (partition keys, rows, fingerprint, fingerprint_version) —
    one row per partition.

    The aggregation is the same map-side-combined fingerprint pass the
    live diff uses; the output is metadata-sized (#partitions rows)
    regardless of table size, so the manifest write is effectively free
    next to the scan.
    """
    src_parts = spec.with_partition_columns(df)
    partition_fingerprints(src_parts, PartitionSpec.bare(*spec.names), cols).select(
        "*", F.lit(VERSION).alias("fingerprint_version")
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest at ``path``; ValueError unless every row is of this
    ``VERSION``."""
    df = spark.read.parquet(path)
    found = {1}  # written before manifests carried a version
    if "fingerprint_version" in df.columns:
        found = {r[0] for r in df.select("fingerprint_version").distinct().collect()}
    if found - {VERSION}:
        raise ValueError(f"{path}: fingerprint version {sorted(found)}, not {VERSION}; rewrite the manifest")
    return df


def diff_manifests(
    spark: SparkSession,
    src_manifest: str,
    dest_manifest: str,
    spec_names: list[str],
    check_hashes: bool = True,
) -> DataFrame:
    """Verdict per partition from two manifests — no table access at all."""
    return classify_fingerprints(
        _read_manifest(spark, src_manifest),
        _read_manifest(spark, dest_manifest),
        spec_names,
        check_hashes,
    )
