"""Partition-key specification.

The reference parses ClickHouse partition keys out of
``system.tables.partition_key`` text: bare column names
(the reference's ``database/sidefunctions.go:17-32``) and raw
function-of-column expressions like ``toYYYYMM(ts)`` (``:34-50``). A
partition key may therefore be:

- one or more bare columns                → equality predicates (P3)
- a function of a Date/DateTime column    → time-range predicates (P4)

This module is the engine's typed replacement: a :class:`PartitionSpec` is a
list of named fields, each with an explicit Spark SQL expression, so the
"strip the outer function by regex" fragility disappears — the expression is
carried whole and evaluated by Catalyst on both the stats side and the
predicate side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PartitionField:
    """One component of a (possibly tuple) partition key.

    ``name``       output column name of the derived partition value.
    ``expr``       Spark SQL expression over source columns, e.g.
                   ``"l_returnflag"`` or ``"month(l_shipdate)"`` —
                   the typed analogue of ``toYYYYMM(ts)`` keys.
    ``source_col`` the underlying raw column, when the expression wraps one
                   (used for time-range predicates, P4); None for bare keys.
    ``is_temporal``True when ``source_col`` is a Date/DateTime column, which
                   selects the range-predicate branch of GenerateWhere
                   (sidefunctions.go:215-220).
    """

    name: str
    expr: str
    source_col: str | None = None
    is_temporal: bool = False

    def column(self) -> Column:
        return F.expr(self.expr).alias(self.name)


@dataclass(frozen=True)
class PartitionSpec:
    fields: tuple[PartitionField, ...]

    @staticmethod
    def of(*fields: PartitionField) -> "PartitionSpec":
        return PartitionSpec(tuple(fields))

    @staticmethod
    def bare(*names: str) -> "PartitionSpec":
        """Bare-column key(s) — sidefunctions.go:17-32 case."""
        return PartitionSpec(tuple(PartitionField(n, n) for n in names))

    @property
    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def columns(self) -> list[Column]:
        return [f.column() for f in self.fields]

    def with_partition_columns(self, df: DataFrame) -> DataFrame:
        """Materialize derived partition-value columns onto a DataFrame."""
        out = df
        for f in self.fields:
            if f.expr != f.name or f.name not in df.columns:
                out = out.withColumn(f.name, F.expr(f.expr))
        return out
