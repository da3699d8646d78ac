"""ClickHouse SQL dialect shim — run reference users' SQL nearly verbatim.

The reference's users speak ClickHouse SQL (``toInt32``, ``toDate``,
``cityHash64``, ``formatReadableSize`` …). Spark 4's SQL scalar functions
(``CREATE FUNCTION … RETURN <expression>``) let the engine register those
names as PURE EXPRESSIONS — inlined by Catalyst, codegen'd, no UDF tax —
so a query written for the reference runs on this engine after
:func:`register_clickhouse_functions`.

Semantics notes (each matches the §1.3 cast matrix / SURVEY §2.6 policy):

- ``toIntN``: CAST truncation-toward-zero, same as ClickHouse for the
  in-range domain; ``toUIntN`` registers as the WIDENED signed type.
- ``cityHash64`` → ``xxhash64``: a stable 64-bit hash with the same role,
  NOT the same values as ClickHouse's cityHash (F1 policy — fingerprints
  compare within one engine, never across).
- ``formatReadableSize``: exact integer math (floor to hundredths), the
  same body :func:`functions.scalars.format_readable_size` uses — the SQL
  text is plain ANSI (CASE/CAST/CONCAT/LPAD) and is reused verbatim as
  the DuckDB oracle rendering.
- SQL scalar functions are monomorphic: each name is registered with its
  most common ClickHouse argument type; ANSI implicit casts cover the
  standard widenings.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

ZERO_UUID = "00000000-0000-0000-0000-000000000000"
UUID_RE = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

_UNITS = ["B", "KiB", "MiB", "GiB", "TiB", "PiB"]


def readable_size_sql(x: str) -> str:
    """ANSI SQL text for formatReadableSize(x) — valid in Spark AND DuckDB.

    Exact integer math for the FULL nonnegative BIGINT domain: every
    divisor is a power of two (1024^i = 2^(10i)), so the floor division
    is a bit shift — hundredths = (x >> 10i)*100 + ((x % 2^10i)*100 >> 10i)
    — and no intermediate exceeds 2^57 (the earlier x*100 rendering
    wrapped BIGINT above ~82 PiB). Both engines parse ``>>`` on BIGINT.
    """

    def render(i: int) -> str:
        d = 1024**i
        xb = f"CAST({x} AS BIGINT)"
        h = f"((({xb} >> {10 * i}) * 100) + ((({xb} % {d}) * 100) >> {10 * i}))"
        whole = f"CAST(CAST(({h} - {h} % 100) / 100 AS BIGINT) AS STRING)"
        frac = f"LPAD(CAST({h} % 100 AS STRING), 2, '0')"
        return f"CONCAT({whole}, '.', {frac}, ' {_UNITS[i]}')"

    expr = render(len(_UNITS) - 1)
    for i in range(len(_UNITS) - 2, -1, -1):
        expr = (
            f"CASE WHEN CAST({x} AS BIGINT) < {1024 ** (i + 1)} "
            f"THEN {render(i)} ELSE {expr} END"
        )
    return expr


_FUNCTIONS: list[tuple[str, str]] = [
    # toIntN carry BIGINT parameters so integer inputs stay exact end-to-end
    # (a DOUBLE parameter silently corrupted BIGINTs above 2^53, e.g.
    # toInt64(cityHash64(x))); DOUBLE arguments still coerce with the same
    # truncation-toward-zero a direct double cast had.
    ("toInt8", "(x BIGINT) RETURNS TINYINT RETURN CAST(x AS TINYINT)"),
    ("toInt16", "(x BIGINT) RETURNS SMALLINT RETURN CAST(x AS SMALLINT)"),
    ("toInt32", "(x BIGINT) RETURNS INT RETURN CAST(x AS INT)"),
    ("toInt64", "(x BIGINT) RETURNS BIGINT RETURN x"),
    # unsigned → widened signed (§1.3)
    ("toUInt8", "(x BIGINT) RETURNS SMALLINT RETURN CAST(x AS SMALLINT)"),
    ("toUInt16", "(x BIGINT) RETURNS INT RETURN CAST(x AS INT)"),
    ("toUInt32", "(x BIGINT) RETURNS BIGINT RETURN x"),
    ("toFloat64", "(x STRING) RETURNS DOUBLE RETURN CAST(x AS DOUBLE)"),
    ("toDate", "(x STRING) RETURNS DATE RETURN CAST(x AS DATE)"),
    ("toDateTime", "(x STRING) RETURNS TIMESTAMP RETURN CAST(x AS TIMESTAMP)"),
    ("toString", "(x STRING) RETURNS STRING RETURN x"),
    ("cityHash64", "(x STRING) RETURNS BIGINT RETURN xxhash64(x)"),
    (
        "toUUIDOrZero",
        f"(x STRING) RETURNS STRING RETURN CASE WHEN x RLIKE '{UUID_RE}' "
        f"THEN lower(x) ELSE '{ZERO_UUID}' END",
    ),
    (
        "IPv4NumToString",
        "(x BIGINT) RETURNS STRING RETURN CONCAT("
        "CAST(x DIV 16777216 % 256 AS STRING), '.', "
        "CAST(x DIV 65536 % 256 AS STRING), '.', "
        "CAST(x DIV 256 % 256 AS STRING), '.', "
        "CAST(x % 256 AS STRING))",
    ),
    ("formatReadableSize", f"(x BIGINT) RETURNS STRING RETURN {readable_size_sql('x')}"),
    # partition-key staples — the expressions real configs PARTITION BY
    ("toYYYYMM", "(x DATE) RETURNS INT RETURN year(x) * 100 + month(x)"),
    (
        "toYYYYMMDD",
        "(x DATE) RETURNS INT RETURN year(x) * 10000 + month(x) * 100 + day(x)",
    ),
    ("toStartOfMonth", "(x DATE) RETURNS DATE RETURN CAST(date_trunc('MONTH', x) AS DATE)"),
    ("toStartOfDay", "(x TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('DAY', x)"),
    ("toMonday", "(x DATE) RETURNS DATE RETURN CAST(date_trunc('WEEK', x) AS DATE)"),
    ("intDiv", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a DIV b"),
    ("modulo", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a % b"),
    ("toYear", "(x DATE) RETURNS INT RETURN year(x)"),
    ("toMonth", "(x DATE) RETURNS INT RETURN month(x)"),
    ("toDayOfMonth", "(x DATE) RETURNS INT RETURN day(x)"),
    ("toHour", "(x TIMESTAMP) RETURNS INT RETURN hour(x)"),
    # ClickHouse arg order: splitByChar(sep, s)
    ("splitByChar", "(sep STRING, s STRING) RETURNS ARRAY<STRING> RETURN split(s, sep)"),
    ("empty", "(x STRING) RETURNS BOOLEAN RETURN x IS NULL OR length(x) = 0"),
    ("notEmpty", "(x STRING) RETURNS BOOLEAN RETURN x IS NOT NULL AND length(x) > 0"),
    # second depth pass: the calendar/epoch/string/bit staples that show up
    # in real ClickHouse partition keys and SELECT lists
    ("toQuarter", "(x DATE) RETURNS INT RETURN quarter(x)"),
    # ClickHouse: 1 = Monday … 7 = Sunday; Spark dayofweek: 1 = Sunday
    ("toDayOfWeek", "(x DATE) RETURNS INT RETURN ((dayofweek(x) + 5) % 7) + 1"),
    ("toDayOfYear", "(x DATE) RETURNS INT RETURN dayofyear(x)"),
    ("toStartOfHour", "(x TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('HOUR', x)"),
    (
        "toStartOfQuarter",
        "(x DATE) RETURNS DATE RETURN CAST(date_trunc('QUARTER', x) AS DATE)",
    ),
    (
        "toStartOfYear",
        "(x DATE) RETURNS DATE RETURN CAST(date_trunc('YEAR', x) AS DATE)",
    ),
    ("toUnixTimestamp", "(x TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(x)"),
    (
        "fromUnixTimestamp",
        "(x BIGINT) RETURNS TIMESTAMP RETURN timestamp_seconds(x)",
    ),
    ("addDays", "(x DATE, n BIGINT) RETURNS DATE RETURN date_add(x, CAST(n AS INT))"),
    (
        "subtractDays",
        "(x DATE, n BIGINT) RETURNS DATE RETURN date_sub(x, CAST(n AS INT))",
    ),
    # OrZero parsers: NULL-free like ClickHouse (malformed → 0)
    (
        "toInt64OrZero",
        "(x STRING) RETURNS BIGINT RETURN coalesce(try_cast(x AS BIGINT), 0)",
    ),
    (
        "toInt32OrZero",
        "(x STRING) RETURNS INT RETURN coalesce(try_cast(x AS INT), 0)",
    ),
    (
        "toFloat64OrZero",
        "(x STRING) RETURNS DOUBLE RETURN coalesce(try_cast(x AS DOUBLE), 0.0)",
    ),
    # NOTE: ifNull / startsWith / endsWith are NOT shimmed — Spark ships
    # case-insensitive builtins (ifnull, startswith, endswith) with the
    # same semantics, and CREATE FUNCTION refuses to shadow them; those
    # ClickHouse spellings already run verbatim.
    (
        "arrayStringConcat",
        "(a ARRAY<STRING>, sep STRING) RETURNS STRING RETURN array_join(a, sep)",
    ),
    ("bitAnd", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a & b"),
    ("bitOr", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a | b"),
    ("bitXor", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a ^ b"),
    (
        "bitShiftLeft",
        "(a BIGINT, n BIGINT) RETURNS BIGINT RETURN shiftleft(a, CAST(n AS INT))",
    ),
    (
        "bitShiftRight",
        "(a BIGINT, n BIGINT) RETURNS BIGINT RETURN shiftright(a, CAST(n AS INT))",
    ),
    # third pass: string-search / array staples (each maps to one Spark
    # builtin with identical semantics — 1-based positions, 0 when absent,
    # mirroring ClickHouse).
    # CAVEAT, documented not shimmed: ClickHouse position(haystack,
    # needle) collides with Spark's builtin position(substr, str) —
    # SAME NAME, REVERSED ARGUMENTS — and builtins cannot be replaced by
    # SQL functions. Migrating queries must swap the arguments or use
    # locate(needle, haystack).
    ("indexOf", "(a ARRAY<STRING>, x STRING) RETURNS BIGINT RETURN coalesce(array_position(a, x), 0)"),
    ("has", "(a ARRAY<STRING>, x STRING) RETURNS BOOLEAN RETURN array_contains(a, x)"),
    ("arrayUniq", "(a ARRAY<STRING>) RETURNS INT RETURN size(array_distinct(a))"),
    ("arrayDistinct", "(a ARRAY<STRING>) RETURNS ARRAY<STRING> RETURN array_distinct(a)"),
    ("arraySort", "(a ARRAY<STRING>) RETURNS ARRAY<STRING> RETURN sort_array(a)"),
    ("arrayReverse", "(a ARRAY<STRING>) RETURNS ARRAY<STRING> RETURN reverse(a)"),
    ("arraySlice", "(a ARRAY<STRING>, o BIGINT, n BIGINT) RETURNS ARRAY<STRING> RETURN slice(a, CAST(o AS INT), CAST(n AS INT))"),
    ("replaceAll", "(s STRING, f STRING, t STRING) RETURNS STRING RETURN replace(s, f, t)"),
    ("replaceRegexpAll", "(s STRING, p STRING, r STRING) RETURNS STRING RETURN regexp_replace(s, p, r)"),
    ("trimBoth", "(s STRING) RETURNS STRING RETURN trim(s)"),
    ("modulo", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a % b"),
    # fourth pass: arithmetic / string staples. splitByChar keeps the
    # ClickHouse argument order (separator FIRST) and \Q..\E-quotes the
    # separator because Spark's split takes a regex.
    ("intDiv", "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a div b"),
    (
        "splitByChar",
        "(sep STRING, s STRING) RETURNS ARRAY<STRING> "
        "RETURN split(s, concat('\\\\Q', sep, '\\\\E'))",
    ),
    ("empty", "(s STRING) RETURNS BOOLEAN RETURN s = ''"),
    ("notEmpty", "(s STRING) RETURNS BOOLEAN RETURN s <> ''"),
    ("lengthUTF8", "(s STRING) RETURNS INT RETURN length(s)"),
    ("lowerUTF8", "(s STRING) RETURNS STRING RETURN lower(s)"),
    ("upperUTF8", "(s STRING) RETURNS STRING RETURN upper(s)"),
]


def register_clickhouse_functions(spark: SparkSession) -> list[str]:
    """Register the dialect into the session; returns the function names."""
    for name, body in _FUNCTIONS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    return [n for n, _ in _FUNCTIONS]


def register_used_functions(spark: SparkSession, exprs: list[str]) -> list[str]:
    """Register only the shims the SQL texts ``exprs`` call (``name(``,
    case-insensitive as Spark resolves functions); returns their names. No
    shim body calls another shim, and a name listed twice in ``_FUNCTIONS``
    keeps its last body, as after a full registration."""
    text = "\n".join(exprs)
    used = {n: b for n, b in dict(_FUNCTIONS).items() if re.search(rf"\b{n}`?\s*\(", text, re.I)}
    for name, body in used.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    return list(used)
