"""Partition predicate generation (SURVEY §2.2 P3-P5).

The reference's ``GenerateWhere`` (``/root/reference/database/
sidefunctions.go:194-236``) builds WHERE text per partition:

- equality per key component, AND-joined for tuple keys (``:218-224``,
  ``:227-231``) — note the reference's ``tmp = +1`` bug breaks AND-joining
  beyond two keys; this engine implements the *intended* any-arity AND.
- a time-range branch for Date/DateTime keys using the partition's min/max
  bounds (``:215-220``), with an epoch-zero sentinel that hardcodes
  ``+03:00`` (``:216``) — replaced here by honest NULL-bound handling under
  the session timezone.
- a ``_part='…'`` virtual-column mode (``copy/copy.go:207-211``) — mapped to
  Spark's ``_metadata.file_path`` pseudo-column.

The predicates are Columns, so Catalyst pushes them into the parquet/JDBC
scan; ``sql_literal`` renders key values as text for sync's filter/DELETE.
"""

from __future__ import annotations

import math
from decimal import Decimal
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec


def sql_literal(value, backslash_escapes: bool = False) -> str:
    """A partition-key value as SQL literal text (GenerateWhere's values,
    sidefunctions.go:194-236). Dates, datetimes, NaN and ±inf are quoted
    text for the reader to cast. ``backslash_escapes`` is for readers in
    which ``\\`` escapes inside string literals (Spark, ClickHouse, MySQL)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, Decimal):  # a plain numeric literal, never '1.50'
        return format(value, "f")
    if isinstance(value, int) or (isinstance(value, float) and math.isfinite(value)):
        return str(value)
    s = str(value)
    if backslash_escapes:
        s = s.replace("\\", "\\\\")
    return "'" + s.replace("'", "''") + "'"


def equality_predicate(spec: PartitionSpec, values: list) -> Column:
    """P3: ``key1=v1 AND key2=v2 AND …`` for any key arity.

    Fixes the reference's two-key limit (sidefunctions.go:231 ``tmp = +1``).
    """
    if len(values) != len(spec.fields):
        raise ValueError(
            f"partition value arity {len(values)} != key arity {len(spec.fields)}"
        )
    preds = [F.expr(f.expr).eqNullSafe(F.lit(v)) for f, v in zip(spec.fields, values)]
    return reduce(lambda a, b: a & b, preds)


def time_range_predicate(
    field: PartitionField, min_time, max_time
) -> Column:
    """P4: ``src_col >= min AND src_col <= max`` for temporal partition keys.

    The reference emits ``key >= toDateTime(min) AND key <= toDateTime(max)``
    from the partition's recorded bounds (sidefunctions.go:215-218), falling
    back to equality on the raw key expression when bounds are the epoch-zero
    sentinel (``:216``, with its hardcoded ``+03:00`` bug). Here: if either
    bound is NULL/None the caller falls back to equality_predicate on the
    derived key — no timezone-dependent sentinel.
    """
    if field.source_col is None:
        raise ValueError(f"field {field.name} has no raw source column for range predicate")
    c = F.col(field.source_col)
    return (c >= F.lit(min_time).cast("timestamp_ntz")) & (
        c <= F.lit(max_time).cast("timestamp_ntz")
    )


def virtual_column_predicate(part_file: str) -> Column:
    """P5: the ``WHERE _part='name'`` mode (copy/copy.go:207-211).

    Spark's physical-file pseudo-column is ``_metadata.file_path``; matching
    on suffix tolerates absolute-vs-relative path rendering.
    """
    return F.col("_metadata.file_path").endswith(part_file)
