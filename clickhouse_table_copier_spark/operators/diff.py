"""Partition diff — the consistency verdict aggregation (SURVEY §2.3 J2, §2.9 C5).

The reference classifies each source partition against the destination in a
driver loop (``/root/reference/copy/copy.go:194-266``): probe the dest count
(``:215``), then paired async fingerprints (``:217-232``), then the verdict
state machine (``:237-266``). This engine expresses the whole classification
as ONE aggregation over the union of the two sides' fingerprint tables:

    (src_fp ∪ dest_fp) GROUP BY partition_keys  →  per-side columns, verdict

Both fingerprint tables have one row per partition (tiny — thousands of
rows even at 100 TB), and the union keeps each side's hash partitioning on
the keys, so the verdict costs no shuffle of its own; all the heavy
lifting happened in the two grouped aggregations that produced them.

Verdicts (the C5 state machine, minus its known WaitGroup bug):
- ``copy``          dest partition absent or empty (copy.go:262-266, :241-245)
- ``identical``     fingerprints match → skip (copy.go:258-260)
- ``inconsistent``  fingerprints differ → delete+recopy per flags (:246-257)
- ``extra``         partition exists only on dest (reference warns when dest
                    has more data, copy.go:162-168; surfaced as a verdict)
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.fingerprint import combine, partition_fingerprints
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec


class Verdict(str, Enum):
    COPY = "copy"
    IDENTICAL = "identical"
    INCONSISTENT = "inconsistent"
    EXTRA = "extra"


def diff_partitions(
    src: DataFrame,
    dest: DataFrame,
    spec: PartitionSpec,
    cols: list[str] | None = None,
    check_hashes: bool = True,
) -> DataFrame:
    """Classify every partition in one pass per side + one tiny aggregation.

    ``check_hashes=False`` degrades the comparison to row counts only — the
    reference's ``check_hashes`` toggle (config/config.go:34, C6).
    Returns: partition keys + src_rows, dest_rows, src_fingerprint,
    dest_fingerprint, verdict — the report the reference's ``--info`` mode
    prints (copy/copy.go:12-137), as a DataFrame.
    """
    src_fp = partition_fingerprints(src, spec, cols)
    dest_fp = partition_fingerprints(dest, spec, cols)
    return classify_fingerprints(src_fp, dest_fp, list(spec.names), check_hashes)


def classify_fingerprints(
    src_fp: DataFrame,
    dest_fp: DataFrame,
    names: list[str],
    check_hashes: bool = True,
) -> DataFrame:
    """The verdict aggregation over two pre-aggregated (keys, rows,
    fingerprint) tables — shared by the live diff and the offline manifest
    diff (operators.manifest): one row per partition in, one verdict row out.

    Each side is tagged, the two are unioned, and one ``groupBy(keys)``
    splits the rows and fingerprint back into per-side columns. No join:
    the union keeps each side's ``hashpartitioning(keys)``, so each side's
    final fingerprint aggregate feeds the verdict aggregate without another
    shuffle (a null-safe join re-shuffles both sides on ``coalesce(k, 0),
    isnull(k)``); ``fingerprint.combine`` gives each side's columns.
    ``groupBy`` makes a NULL key one group — a NULL partition value is a real
    partition (hive's ``__HIVE_DEFAULT_PARTITION__``), not a phantom
    copy+extra pair. A side without the partition stays NULL."""
    side = F.col("__src")
    both = src_fp.select(*names, "rows", "fingerprint", F.lit(True).alias("__src")).unionByName(
        dest_fp.select(*names, "rows", "fingerprint", F.lit(False).alias("__src"))
    )
    src_rows, dest_rows = F.col("src_rows"), F.col("dest_rows")
    if check_hashes:
        same_fp = F.col("src_fingerprint").eqNullSafe(F.col("dest_fingerprint"))
        equal = same_fp & src_rows.eqNullSafe(dest_rows)
    else:
        equal = src_rows.eqNullSafe(dest_rows)
    verdict = (
        F.when(src_rows.isNull(), F.lit(Verdict.EXTRA.value))
        .when(dest_rows.isNull() | (dest_rows == 0), F.lit(Verdict.COPY.value))
        .when(equal, F.lit(Verdict.IDENTICAL.value))
        .otherwise(F.lit(Verdict.INCONSISTENT.value))
    )
    per_side = []
    for prefix, on in (("src", side), ("dest", ~side)):
        rows, fingerprint = combine(F.when(on, F.col("rows")), F.when(on, F.col("fingerprint")))
        per_side += [rows.alias(f"{prefix}_rows"), fingerprint.alias(f"{prefix}_fingerprint")]
    return (
        both.groupBy(*names)
        .agg(*per_side)
        .select(
            *names,
            "src_rows",
            "src_fingerprint",
            "dest_rows",
            "dest_fingerprint",
            verdict.alias("verdict"),
        )
    )
