"""Schema alignment + cast planning (SURVEY §2.2 P1-P2, §1.3 type matrix).

The reference supports copying between tables with DIFFERENT schemas
(``/root/reference/README.md:6``): it intersects column names
(``ReturnValuesString``, ``database/sidefunctions.go:78-97``; order = source
order) and emits a per-column cast expression for every common column whose
types differ (``ReturnDestValues``, ``sidefunctions.go:112-192``).

This module is the typed Spark replacement. The ClickHouse-type → Spark-type
mapping (§1.3) is carried as a table so job specs may still *name* CH types;
:func:`align`, the projection ``sync`` compares and writes, works on Spark
types (whatever the source/dest DataFrames actually carry) — all JVM-side,
codegen-eligible casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_table_copier_spark.functions.scalars import (
    canonical_ipv6,
    ipv4_to_long,
    to_json_string,
    to_uuid_or_zero,
)

# ---------------------------------------------------------------------------
# §1.3 ClickHouse → Spark type mapping (ReturnDestValues' vocabulary).
# Int128/Int256/UInt64 exceed Spark's numeric ranges → decimal(38,0), a
# documented narrowing (SURVEY §7.5). LowCardinality(...) is an encoding,
# not a logical type → unwrap. IPv4/IPv6/UUID/JSON have no native Spark
# type → canonical representations (see functions.scalars).
# ---------------------------------------------------------------------------
CLICKHOUSE_TO_SPARK: dict[str, T.DataType] = {
    "String": T.StringType(),
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "Int128": T.DecimalType(38, 0),
    "Int256": T.DecimalType(38, 0),
    "UInt8": T.ShortType(),
    "UInt16": T.IntegerType(),
    "UInt32": T.LongType(),
    "UInt64": T.DecimalType(38, 0),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "Date": T.DateType(),
    "DateTime": T.TimestampNTZType(),
    "UUID": T.StringType(),
    "IPv4": T.LongType(),
    "IPv6": T.StringType(),
    "JSON": T.StringType(),
}


def clickhouse_type_to_spark(ch_type: str) -> T.DataType:
    """Map a ClickHouse type name (as a job spec would write it) to Spark."""
    ch = ch_type.strip()
    if ch.startswith("LowCardinality(") and ch.endswith(")"):
        return clickhouse_type_to_spark(ch[len("LowCardinality(") : -1])
    if ch.startswith("Nullable(") and ch.endswith(")"):
        return clickhouse_type_to_spark(ch[len("Nullable(") : -1])
    if ch.startswith("Array(") and ch.endswith(")"):
        return T.ArrayType(clickhouse_type_to_spark(ch[len("Array(") : -1]))
    if ch.startswith("Decimal(") and ch.endswith(")"):
        p, s = (int(x) for x in ch[len("Decimal(") : -1].split(","))
        return T.DecimalType(p, s)
    if ch in CLICKHOUSE_TO_SPARK:
        return CLICKHOUSE_TO_SPARK[ch]
    raise ValueError(f"unmapped ClickHouse type: {ch_type!r}")


def common_columns(src: DataFrame, dest: DataFrame) -> list[str]:
    """P1: source∩destination column names, in SOURCE order.

    Mirrors ReturnValuesString (sidefunctions.go:78-97) — the INSERT column
    list. O(n) set probe instead of the reference's O(n·m) nested loop.
    """
    dest_set = set(dest.columns)
    return [c for c in src.columns if c in dest_set]


# Semantic casts a job spec can request by CH type name on the destination.
_SEMANTIC_CASTS = {
    "UUID": to_uuid_or_zero,
    "IPv4": ipv4_to_long,
    "IPv6": canonical_ipv6,
}


def apply_semantic(df: DataFrame, semantic: dict[str, str] | None) -> DataFrame:
    """Canonicalize named columns in place (UUID/IPv4/IPv6/JSON) — applied
    to the SOURCE before hashing and writing so fingerprints compare like
    the reference's cast-before-hash (copy/copy.go:221)."""
    if not semantic:
        return df
    out = df
    for col, t in semantic.items():
        if col not in df.columns:
            continue
        if t == "JSON":
            if not isinstance(df.schema[col].dataType, T.StringType):
                out = out.withColumn(col, to_json_string(F.col(col)))
        else:
            out = out.withColumn(col, _SEMANTIC_CASTS[t](F.col(col)))
    return out


def align(
    src: DataFrame,
    dest: DataFrame,
    semantic: dict[str, str] | None = None,
    keys: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Project src onto the columns it shares with dest, each cast to
    dest's type — what sync compares and writes.

    This is the SELECT side of the reference's
    ``INSERT INTO dest (cols) SELECT castExprs FROM remote(…)``
    (database.go:486-507) as one declarative projection. Names match
    case-insensitively (Derby/Oracle fold identifiers to upper case) and
    keep the source's spelling and order; source-only columns are
    dropped. ``semantic`` canonicalizes columns first
    (:func:`apply_semantic`), and the result is cast like any other
    column. ``keys`` (partition columns) lead the projection in the
    SOURCE's types and must exist in dest.
    """
    by_lower = {c.lower(): c for c in dest.columns}
    missing = [k for k in keys if k.lower() not in by_lower]
    if missing:
        raise ValueError(f"dest table lacks partition columns: {missing}")
    src = apply_semantic(src, semantic)
    dest_types = dict(dest.dtypes)
    return src.select(
        *keys,
        *[
            F.col(c).cast(dest_types[by_lower[c.lower()]]).alias(c)
            for c in src.columns
            if c not in keys and c.lower() in by_lower
        ],
    )
