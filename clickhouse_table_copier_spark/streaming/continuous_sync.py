"""Continuous sync: streaming change detection driving targeted repairs.

The reference's incremental story is "re-run the tool, fingerprints skip
clean partitions" — still a full fingerprint scan of BOTH sides per run
(copy/copy.go:194-271). This module does better using the file-source
checkpoint: each run,

1. an ``availableNow`` stream over the SOURCE directory processes only
   files added since the last run and emits the partition values they
   touch (no full scan of the source);
2. only those partitions are re-fingerprinted and re-synced (the sync
   scan is pruned to the touched partitions).

Unchanged partitions cost ZERO I/O — neither side reads them. At 100 TB
with append-mostly sources this turns every sync after the first into
work proportional to the delta, not the table.
"""

from __future__ import annotations

from contextlib import closing
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_table_copier_spark.operators.sync import SyncOptions, SyncResult, sync, where_keys
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec


@dataclass
class ContinuousSyncResult:
    touched_partitions: list
    sync_result: SyncResult | None  # None when nothing changed


def _marker(spark: SparkSession, staging_dir: str):
    """The ledger's "repaired through batch N" file and its file system;
    Spark's reads of the ledger skip ``_`` files."""
    path = spark._jvm.org.apache.hadoop.fs.Path(staging_dir, "_repaired_through")
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


def _touched_partitions(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    spec: PartitionSpec,
    checkpoint_dir: str,
    staging_dir: str,
) -> tuple[list, int]:
    """Partition values of the staged batches no sync has repaired yet,
    after staging the files added since the last run; and the last staged
    batch id."""
    # stateless: per micro-batch, record the DISTINCT partition keys of the
    # new rows (no streaming aggregation state — 'complete'/'update' modes
    # would re-emit or accumulate history)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "128")
        .parquet(source_dir)
    )
    keyed = spec.with_partition_columns(stream).select(*spec.names)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.distinct().withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(staging_dir)

    q = (
        keyed.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        staged = spark.read.parquet(staging_dir)
    except Exception:
        return [], -1  # no batches ever written
    path, fs = _marker(spark, staging_dir)
    repaired = -1
    if fs.exists(path):
        with closing(fs.open(path)) as f:
            repaired = f.readLong()
    rows = (
        staged.where(F.col("batch_id") > repaired)
        .groupBy(*spec.names)
        .agg(F.max("batch_id").alias("batch_id"))
        .collect()
    )
    through = max((r["batch_id"] for r in rows), default=-1)
    return [tuple(r[n] for n in spec.names) for r in rows], through


def incremental_sync(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dest_path: str,
    spec: PartitionSpec,
    checkpoint_dir: str,
    staging_dir: str,
    options: SyncOptions = SyncOptions(),
) -> ContinuousSyncResult:
    """One continuous-sync tick: detect touched partitions, repair them.

    The source read for the repair is FILTERED to the touched partitions
    before sync — pruning both the fingerprint pass and the write. A
    never-before-seen checkpoint (first run) touches everything, which
    degenerates to a plain full sync: correct bootstrap behavior.

    The ledger records the repair only after ``sync`` returns, and never
    on a dry run: partitions staged by a run whose repair crashed, or was
    a dry run, are touched again by the next run.
    """
    touched, through = _touched_partitions(
        spark, source_dir, schema, spec, checkpoint_dir, staging_dir
    )
    if not touched:
        return ContinuousSyncResult(touched_partitions=[], sync_result=None)

    src_parts = spec.with_partition_columns(spark.read.parquet(source_dir))
    pruned = where_keys(src_parts, spec.names, touched)
    # hand sync a plain source frame: drop only DERIVED partition columns
    # (bare-column keys ARE data columns and must stay)
    derived = [f.name for f in spec.fields if f.expr != f.name]
    if derived:
        pruned = pruned.drop(*derived)
    result = sync(spark, pruned, dest_path, spec, options)
    if not options.dry_run:
        path, fs = _marker(spark, staging_dir)
        with closing(fs.create(path, True)) as f:
            f.writeLong(through)
    return ContinuousSyncResult(touched_partitions=touched, sync_result=result)
