"""The sync engine (SURVEY §2.7 D1-D2, §2.9 C5-C7): make dest match source.

Reference algorithm (``/root/reference/copy/copy.go:139-271``): per source
partition — probe the destination, compare fingerprints, then delete
(``ALTER TABLE … DELETE``, database.go:463-484) and re-copy
(``INSERT … SELECT … FROM remote(…)``, database.go:486-507) according to the
``skip_delete`` / ``skip_reimport`` / ``check_hashes`` flags
(config/config.go:34-37).

One pipeline serves both kinds of destination, a hive-partitioned parquet
directory and a JDBC table:

1. Probe whether the destination exists (``sources.catalog.table_exists``).
2. Build the per-partition report. An absent destination makes every
   source partition a ``copy``, counted from the source. Otherwise the
   destination is loaded, the source projected onto its columns by
   ``plans.casting.align`` (matched by name case-insensitively: Derby/
   Oracle fold identifiers to upper case; cast to the destination's
   types), and ``diff_partitions`` classifies every partition in one
   grouped pass per side.
3. Derive each partition's ``action`` from its verdict and the flags.
4. A dry run returns that report uncollected — the reference's
   Info()/Copy() split (copy/copy.go:12 vs :139).
5. Otherwise the report is collected once, before anything is changed
   (it lazily reads the destination about to be rewritten), and the key
   lists per action come from those rows.
6. The destination's apply step gets the lists:
   - parquet (here): ONE write of every partition needing data —
     dynamic partition overwrite, the reference's delete+reinsert fused
     into an atomic-per-partition step, or an append under
     ``skip_delete`` — then the delete-only directory removals;
   - JDBC (``operators.sync_jdbc``): ONE ``DELETE`` of every partition
     being replaced or dropped, then ONE distributed append.

Comparison runs in the DESTINATION's type domain (SURVEY §7.5), the
direction the reference hashes: the source goes through the same
dest-type casts it is written with (copy/copy.go:217-221) and the
destination is hashed raw. The other direction diverges under any lossy
cast — a just-repaired partition would re-hash 'inconsistent' on every
run and sync would never converge. Destination partition columns are
re-cast to the source's key types so the diff groups both sides by one key.

At scale: the data write shuffles once (read → filter partitions →
REBALANCE → write partitioned, see ``_apply_parquet``), and the key
filter prunes the scan of a partition-laid-out source.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators import sync_jdbc
from clickhouse_table_copier_spark.operators.diff import Verdict, diff_partitions
from clickhouse_table_copier_spark.plans.casting import align, apply_semantic
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec
from clickhouse_table_copier_spark.plans.predicates import sql_literal
from clickhouse_table_copier_spark.sources.catalog import table_exists
from clickhouse_table_copier_spark.sources.table import TableRef, load_table


@dataclass(frozen=True)
class SyncOptions:
    """The reference's four behavior flags (config/config.go:34-37)."""

    check_hashes: bool = True  # C6: fingerprint vs row-count compare
    skip_delete: bool = False  # C5: don't delete inconsistent partitions
    skip_reimport: bool = False  # C5: don't re-copy after delete
    dry_run: bool = False  # C11: --info mode — report only


@dataclass
class SyncResult:
    report: DataFrame  # partition, src_rows, dest_rows, verdict, action
    copied_partitions: int
    deleted_partitions: int
    rows: list[Row] | None = None  # the collected report; None on dry runs


def where_keys(df: DataFrame, names: list[str], keys: list[tuple]) -> DataFrame:
    """Rows of ``df`` whose partition key (``names``) is one of ``keys``,
    as one ``named_struct(…) IN (named_struct(…), …)`` text parsed once.

    Each literal is cast to its key column's type; backslashes are
    escaped, as Spark's parser reads them as escapes. A collected
    ``timestamp`` is naive local time: it gets its UTC offset, so the
    session time zone does not shift it; ``timestamp_ntz`` stays
    wall-clock text. A NULL key part matches NULL."""
    types = dict(df.dtypes)
    fields = [sql_literal(n, True) for n in names]

    def struct(values) -> str:
        return f"named_struct({', '.join(f'{f}, {v}' for f, v in zip(fields, values))})"

    def cast(n: str, v) -> str:
        v = v.astimezone() if types[n] == "timestamp" and v is not None else v
        return f"CAST({sql_literal(v, True)} AS {types[n]})"

    column = struct("`" + n.replace("`", "``") + "`" for n in names)
    values = ", ".join(struct(cast(n, v) for n, v in zip(names, k)) for k in keys)
    return df.where(F.expr(f"{column} IN ({values})" if keys else "false"))


def _delete_partition_dirs(
    spark: SparkSession, path: str, names: list[str], types: dict[str, str], keys: list[tuple]
) -> list[tuple]:
    """Remove the directories holding ``keys`` — the engine's ``ALTER
    TABLE … DELETE WHERE partition`` for the delete-only path.

    Directories come from the files Spark wrote (``_metadata.file_path``),
    so NULL keys (``__HIVE_DEFAULT_PARTITION__``) and escaped values
    (``a/b`` → ``a%2Fb``) resolve exactly as Spark named them. Returns the
    keys whose directory was actually removed."""
    if not keys:
        return []
    files = spark.read.parquet(path).select(
        *[F.col(n).cast(types[n]).alias(n) for n in names],
        F.regexp_replace("_metadata.file_path", "/[^/]*$", "").alias("dir"),
    )
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    removed = []
    for r in where_keys(files, names, keys).distinct().collect():
        # file_path is a URI string: escapes such as %2F arrive as %252F
        if fs.delete(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r["dir"])), True):
            removed.append(tuple(r[n] for n in names))
    return removed


def _apply_parquet(
    spark: SparkSession, dest: TableRef, write: DataFrame, names: list[str], keys: dict
) -> list[tuple]:
    """Parquet apply step; returns the keys whose partitions were deleted.

    The rows are rebalanced by the partition keys before the partitioned
    write, so each partition is written by one task, or by a few when
    adaptive execution splits one above the advisory size. Without it
    every write task opens a file in every partition it holds;
    ``repartition`` gives one file per partition too, but never splits a
    skewed one.

    Files are written with zstd, which stores lineitem-shaped data in
    about a quarter fewer bytes than Spark's default snappy and costs no
    more to read back when the next run fingerprints the destination.
    The codec is an option of this writer, not a session default, so the
    caller's other writes keep theirs; the destination's ``options`` come
    after it (``compression: snappy`` for an old reader) and
    ``partitionOverwriteMode`` last. It is given as ``parquet.compression``,
    which Spark ranks below ``compression`` and above the session's codec,
    so a destination naming its codec under either key gets it."""
    if keys["written"]:
        writer = (
            write.hint("rebalance", *[F.col(n) for n in names])
            .write.partitionBy(*names)
            .option("parquet.compression", "zstd")
        )
        for k, v in dest.options.items():
            writer = writer.option(k, str(v))
        # skip_delete turns every replacement into an append; 'copied'
        # partitions are absent from dest, so one append covers them too
        if keys["appended"]:
            writer.mode("append").parquet(dest.location)
        else:
            # partitionOverwriteMode is forced per write (overrides the
            # session conf): under Spark's default STATIC mode this
            # overwrite would delete every partition not in the written set
            # — silent data loss for callers who built their own session.
            writer.option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
                dest.location
            )
    return _delete_partition_dirs(spark, dest.location, names, dict(write.dtypes), keys["deleted"])


def sync(
    spark: SparkSession,
    src: DataFrame,
    dest: str | TableRef,
    spec: PartitionSpec,
    options: SyncOptions = SyncOptions(),
    semantic: dict | None = None,
) -> SyncResult:
    """Make ``dest`` — a parquet directory path or a :class:`TableRef`
    (parquet or jdbc) — match ``src`` partition-wise.

    Returns the per-partition report (the --info output, C11) plus action
    counts. ``semantic`` canonicalizes UUID/IP/JSON source columns before
    hashing and writing (cast-before-hash, copy/copy.go:221).
    """
    if isinstance(dest, str):
        dest = TableRef(location=dest)
    if dest.fmt not in ("parquet", "jdbc"):
        raise ValueError("sync destination must be a parquet path or a jdbc endpoint")
    src = apply_semantic(src, semantic)
    names = spec.names
    src_parts = spec.with_partition_columns(src)

    if not table_exists(spark, dest):
        # Destination absent → everything is a 'copy' (copy.go:262-266).
        write = src_parts
        report = (
            src_parts.groupBy(*names)
            .agg(F.count(F.lit(1)).alias("src_rows"))
            .withColumn("dest_rows", F.lit(None).cast("bigint"))
            .withColumn("verdict", F.lit(Verdict.COPY.value))
        )
    else:
        dest_df = load_table(spark, dest)
        # What is compared is what gets WRITTEN — the reference's S6
        # insert: the common columns cast to the DESTINATION's types
        # (INSERT INTO dest (cols) SELECT castExprs, database.go:486-507).
        # Source-only columns are not copied; dest-only columns are absent
        # from rewritten partitions (readers see NULLs via schema merging).
        write = align(src_parts, dest_df, keys=names)
        common = write.columns[len(names):]
        by_lower = {c.lower(): c for c in dest_df.columns}
        src_types = dict(src_parts.dtypes)
        dest_norm = dest_df.select(
            *[F.col(by_lower[n.lower()]).cast(src_types[n]).alias(n) for n in names],
            *[F.col(by_lower[c.lower()]).alias(c) for c in common],
        )
        report = diff_partitions(
            write, dest_norm, PartitionSpec.bare(*names),
            cols=common, check_hashes=options.check_hashes,
        )

    # README parity: both skip flags leave an inconsistent partition alone
    inconsistent = {
        (False, False): "overwritten",
        (True, False): "appended",
        (False, True): "deleted",
    }.get((options.skip_delete, options.skip_reimport), "none")
    action = F.lit("none") if options.dry_run else (
        F.when(F.col("verdict") == Verdict.COPY.value, "copied")
        .when(F.col("verdict") == Verdict.INCONSISTENT.value, inconsistent)
        .otherwise("none")
    )
    report = report.withColumn("action", action)
    if options.dry_run:
        return SyncResult(report=report, copied_partitions=0, deleted_partitions=0)

    # Metadata-sized (the reference collects the same lists from
    # system.parts, database.go:390-417), and collected BEFORE mutation.
    rows = report.collect()
    key = lambda r: tuple(r[n] for n in names)  # noqa: E731
    keys = {a: [key(r) for r in rows if r["action"] == a]
            for a in ("copied", "overwritten", "appended", "deleted")}
    keys["written"] = keys["copied"] + keys["overwritten"] + keys["appended"]
    if len(keys["written"]) < len(rows):  # else all is written: no filter
        write = where_keys(write, names, keys["written"])

    apply = sync_jdbc.apply if dest.fmt == "jdbc" else _apply_parquet
    removed = set(apply(spark, dest, write, names, keys))
    # never report a delete that did not happen
    rows = [
        Row(**{**r.asDict(), "action": "none"})
        if r["action"] == "deleted" and key(r) not in removed else r
        for r in rows
    ]
    return SyncResult(
        report=spark.createDataFrame(rows, report.schema),
        copied_partitions=len(keys["written"]),
        deleted_partitions=len(removed),
        rows=rows,
    )
