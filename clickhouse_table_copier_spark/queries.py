"""Query registry: every SURVEY §2 operator as a (spark_fn, oracle_sql) pair.

This is the engine's correctness surface. Each entry pairs a PySpark
DataFrame pipeline with the ANSI-SQL statement DuckDB runs on the same
parquet fixtures; the driver compares row counts, schemas, and
order-insensitive value hashes at sf0.01.

Cross-engine determinism rules used throughout:
- double aggregation goes through ``decimal`` (exact, associative) so sum
  order can't change results; final values cast back to double when wanted.
- fingerprints (xxhash64 vs DuckDB hash) are never *output*; they are
  compared within each engine and only the resulting verdicts/counts are
  output, so both engines agree without sharing a hash function.
- month()/count() output types are cast explicitly (Spark month→int,
  DuckDB month→bigint) so schemas line up.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 registered queries in
# dict order. Since round 7 the window is COMPUTED, not hand-maintained:
# ``registry_evidence.driver_window`` derives the full verification order
# from committed evidence. Priority (round-8 refinement): (1) CHANGED —
# green row but fingerprint/deep-closure drifted; (2) DUE — unchanged but
# at the ceil(N/50)-round age bound; (3) FRESH — never-green, awaiting a
# first driver row, FIFO on the committed first-seen round (ranked below
# the age guarantee because new queries are already hash-verified
# locally every CI run; a registration burst defers the queue tail, and
# FIFO means later bursts can never starve it); (4) everything else,
# oldest-last-green first. tests/test_registry_order.py pins the served
# order to the derived spec, so the r04 omission class (a query left
# outside the window while needing verification) cannot recur for
# v2-verified entries; legacy v1 entries are covered by the transitional
# deep-closure baseline stamped at round start (registry_evidence module
# docstring).
_WINDOW_CACHE: dict = {}


def _driver_window() -> list[str]:
    from clickhouse_table_copier_spark import registry_evidence

    key = tuple(sorted(_QUERIES))
    if key not in _WINDOW_CACHE:
        _WINDOW_CACHE.clear()  # registry grew: stale order is useless
        _WINDOW_CACHE[key] = registry_evidence.driver_window(_QUERIES, _ORACLES)
    return _WINDOW_CACHE[key]


def _window_ordered(d: dict) -> dict:
    out = {n: d[n] for n in _driver_window() if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def queries() -> dict[str, QueryFn]:
    return _window_ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _window_ordered(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


# Resolved-relation memo for _t/_events: spark.read.parquet pays ~0.2 s
# of JVM-side datasource resolution PER CALL (footer read + schema
# inference + file index), the single largest uniform driver-side build
# cost across the headline (guide §7.3; OPTIMIZATION_r16 profile). The
# returned DataFrame is an immutable logical plan, so handing the same
# object to every caller changes nothing downstream — every action still
# scans the parquet (no persist(), no materialization, NOT result
# caching). Keyed per (session, dir, table): a frame is bound to the
# session that built it, and a ``newSession()`` shares the application
# but not its confs; bounded like the artifact caches.
_RELATION_CACHE: dict = {}
_RELATION_CACHE_MAX = 64


def _tc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark, sf_dir.rstrip("/"), name)
    df = _RELATION_CACHE.get(key)
    if df is None:
        df = _t(spark, sf_dir, name)
        _RELATION_CACHE[key] = df
        while len(_RELATION_CACHE) > _RELATION_CACHE_MAX:
            _RELATION_CACHE.pop(next(iter(_RELATION_CACHE)))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to µs-precision TIMESTAMP_NTZ —
    matching DuckDB's CAST(ts AS TIMESTAMP) — under an explicitly-UTC
    session so the rendering is TZ-independent. Schema-adaptive: the
    generated parquet has shipped both TIMESTAMP(NANOS) (which Spark only
    reads as a long via ``nanosAsLong``) and native TIMESTAMP(MICROS);
    handle either without assuming which generation is on disk."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _t(spark, sf_dir, "events")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        conv = "CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"
    else:
        conv = "CAST(ts AS TIMESTAMP_NTZ)"
    return df.withColumn("ts", F.expr(conv))


# _events with the constructed frame memoized per (session, dir) —
# same rationale and same non-caching semantics as _tc above. The two
# session confs _events sets are sticky on the session, so a memo hit
# (necessarily preceded by the miss that set them) executes identically.
_EVENTS_FRAME_CACHE: dict = {}


def _events_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark, sf_dir.rstrip("/"))
    df = _EVENTS_FRAME_CACHE.get(key)
    if df is None:
        df = _events(spark, sf_dir)
        _EVENTS_FRAME_CACHE[key] = df
        while len(_EVENTS_FRAME_CACHE) > _RELATION_CACHE_MAX:
            _EVENTS_FRAME_CACHE.pop(next(iter(_EVENTS_FRAME_CACHE)))
    return df


# The standard partition spec for lineitem: month of ship date — the
# Date/DateTime function-of-column partition key case (FIXTURES.md).
LINEITEM_SPEC = PartitionSpec.of(
    PartitionField(
        "ship_month", "month(l_shipdate)", source_col="l_shipdate", is_temporal=True
    )
)


# ---------------------------------------------------------------------------
# A1 — total row count (database.go:366-388)
# ---------------------------------------------------------------------------
@register(
    "row_count",
    oracle="SELECT count(*) AS cnt FROM lineitem",
)
def q_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# A2 + P3 — filtered row count under a multi-key equality predicate
# (database.go:419-461; the ≥2-key AND the reference mishandles,
# sidefunctions.go:227-231)
# ---------------------------------------------------------------------------
@register(
    "filtered_row_count",
    oracle="""
    SELECT count(*) AS cnt FROM lineitem
    WHERE CAST(month(l_shipdate) AS INTEGER) = 3 AND l_returnflag = 'R'
      AND l_linestatus = 'F'
    """,
)
def q_filtered_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem")
    spec = PartitionSpec.of(
        PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)"),
        PartitionField("l_returnflag", "l_returnflag"),
        PartitionField("l_linestatus", "l_linestatus"),
    )
    from clickhouse_table_copier_spark.plans.predicates import equality_predicate

    return df.where(equality_predicate(spec, [3, "R", "F"])).agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# P4 — time-range partition predicate (sidefunctions.go:215-220)
# ---------------------------------------------------------------------------
@register(
    "time_range_count",
    oracle="""
    SELECT count(*) AS cnt FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1995-06-30 23:59:59'
    """,
)
def q_time_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_table_copier_spark.plans.predicates import time_range_predicate

    df = _t(spark, sf_dir, "lineitem")
    f = LINEITEM_SPEC.fields[0]
    pred = time_range_predicate(f, "1995-03-01 00:00:00", "1995-06-30 23:59:59")
    return df.where(pred).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# A4 / S4 / O1 — grouped partition stats, largest-first
# (database.go:390-417, ORDER BY bytes_size DESC at :409)
# bytes_size is the engine's deterministic width estimate, reproduced
# verbatim in the oracle so values hash-match.
# ---------------------------------------------------------------------------
_LINEITEM_WIDTH_SQL = (
    "8+8+8+4+8+8+8+8"
    "+coalesce(length(l_returnflag),0)+coalesce(length(l_linestatus),0)+8"
)


@register(
    "partition_stats",
    oracle=f"""
    SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
           count(*) AS rows_,
           CAST(sum({_LINEITEM_WIDTH_SQL}) AS BIGINT) AS bytes_size,
           min(l_shipdate) AS min_time,
           max(l_shipdate) AS max_time
    FROM lineitem GROUP BY 1
    """,
)
def q_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_table_copier_spark.operators.partition_stats import partition_stats

    df = _tc(spark, sf_dir, "lineitem")
    spec = PartitionSpec.of(PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)"))
    out = partition_stats(df, spec, time_col="l_shipdate")
    return out.withColumnRenamed("rows", "rows_")


# ---------------------------------------------------------------------------
# J2 + C5 — the flagship: full partition diff with verdicts.
# Both engines build the same deterministic "destination" mutation of
# lineitem (drop month 3 = missing partition; perturb quantities of
# orderkeys divisible by 997 in months 1-6 = inconsistent partitions, so
# months 7-12 stay identical), fingerprint all
# partitions in one grouped agg per side with their own 64-bit hash, and
# classify (the oracle with a full-outer join, the engine with one
# aggregation over both sides). Fingerprints stay internal; the output
# (counts + verdict) is engine-independent.
# ---------------------------------------------------------------------------
_DIFF_ORACLE = """
WITH dest AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         CASE WHEN l_orderkey % 997 = 0 AND CAST(month(l_shipdate) AS INTEGER) <= 6
              THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
  FROM lineitem WHERE CAST(month(l_shipdate) AS INTEGER) <> 3
),
s AS (
  SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month, count(*) AS src_rows,
         bit_xor(hash(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                      l_shipdate)) AS fp
  FROM lineitem GROUP BY 1
),
d AS (
  SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month, count(*) AS dest_rows,
         bit_xor(hash(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                      l_shipdate)) AS fp
  FROM dest GROUP BY 1
)
SELECT s.ship_month AS ship_month,
       s.src_rows AS src_rows,
       d.dest_rows AS dest_rows,
       CASE WHEN s.src_rows IS NULL THEN 'extra'
            WHEN d.dest_rows IS NULL OR d.dest_rows = 0 THEN 'copy'
            WHEN s.fp = d.fp AND s.src_rows = d.dest_rows THEN 'identical'
            ELSE 'inconsistent' END AS verdict
FROM s FULL OUTER JOIN d USING (ship_month)
"""


def _mutated_dest(df: DataFrame) -> DataFrame:
    """Deterministic destination-table mutation shared with the oracle.
    One select (same column order), not filter+withColumn: each Dataset
    transformation eagerly re-analyzes the plan JVM-side."""
    mutated = F.when(
        (F.col("l_orderkey") % 997 == 0) & F.expr("CAST(month(l_shipdate) AS INT) <= 6"),
        F.col("l_quantity") + 1,
    ).otherwise(F.col("l_quantity"))
    return df.where(F.expr("CAST(month(l_shipdate) AS INT) <> 3")).select(
        *[
            mutated.alias("l_quantity") if c == "l_quantity" else F.col(c)
            for c in df.columns
        ]
    )


@register("partition_diff", oracle=_DIFF_ORACLE)
def q_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_table_copier_spark.operators.diff import diff_partitions

    src = _tc(spark, sf_dir, "lineitem")
    dest = _mutated_dest(src)
    spec = PartitionSpec.of(PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)"))
    report = diff_partitions(src, dest, spec)
    return report.select("ship_month", "src_rows", "dest_rows", "verdict")


# ---------------------------------------------------------------------------
# P1 + P2 — schema alignment: column intersection in source order + casts.
# Destination schema: l_linenumber widened to bigint, l_shipdate narrowed to
# date, l_quantity to decimal(18,2), l_orderkey rendered as string; two
# source columns absent from dest (l_comment-style drop), one dest-only
# column ignored. (sidefunctions.go:78-97 + :112-192)
# ---------------------------------------------------------------------------
@register(
    "schema_align",
    oracle="""
    SELECT l_linenumber_w,
           CAST(month(l_ship_date) AS INTEGER) AS ship_month,
           count(*) AS cnt,
           min(l_orderkey_s) AS min_key_s,
           max(l_orderkey_s) AS max_key_s,
           CAST(sum(l_quantity_d) AS DOUBLE) AS sum_qty
    FROM (
      SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey_s,
             CAST(l_linenumber AS BIGINT) AS l_linenumber_w,
             CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity_d,
             CAST(l_shipdate AS DATE) AS l_ship_date
      FROM lineitem
    ) GROUP BY 1, 2
    """,
)
def q_schema_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every cast from the §1.3 matrix exercised per-row (string, widened
    # int, decimal money, date), then aggregated compactly so the result
    # stays driver-sized at any scale factor
    df = _tc(spark, sf_dir, "lineitem")
    aligned = df.select(
        F.col("l_orderkey").cast("string").alias("l_orderkey_s"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber_w"),
        F.col("l_quantity").cast("decimal(18,2)").alias("l_quantity_d"),
        F.col("l_shipdate").cast("date").alias("l_ship_date"),
    )
    return aligned.groupBy(
        "l_linenumber_w",
        F.month("l_ship_date").cast("int").alias("ship_month"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("l_orderkey_s").alias("min_key_s"),
        F.max("l_orderkey_s").alias("max_key_s"),
        F.sum("l_quantity_d").cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# P5 — virtual-column (_part / _metadata.file_path) predicate
# (copy/copy.go:207-211). Selecting the rows of exactly one physical part;
# with the fixture's single file per table that is the whole table, which
# the oracle states directly.
# ---------------------------------------------------------------------------
@register(
    "virtual_column_part",
    oracle="SELECT count(*) AS cnt FROM lineitem",
)
def q_virtual_column_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clickhouse_table_copier_spark.plans.predicates import virtual_column_predicate

    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    return df.where(virtual_column_predicate("lineitem.parquet")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
