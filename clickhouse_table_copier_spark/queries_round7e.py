"""Query batch: round-7e — shuffle-skew diagnostics and seasonal
anomaly detection.

- ``key_skew_report`` — the pre-shuffle diagnostic a join/agg planner
  needs: per join-key hotness report with an integer-exact skew verdict
  (count·n_keys > factor·total — no division, no float boundary). It
  is the query that tells you WHEN to salt a key or lean on AQE's skew
  join.
- ``weekly_seasonal_anomalies`` — day-of-week seasonal baseline per
  event type with z-scored residuals: variance from integer-exact
  moment sums, σ via IEEE-correctly-rounded sqrt, so the flags cross
  engines bit-for-bit. The STL-lite seasonality check that runs before
  any "traffic dropped" alert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.queries import _events, _t, register

# ---------------------------------------------------------------------------
# Key-skew report over lineitem's supplier key (the shuffle key of every
# per-supplier aggregate/join): top-10 hottest keys + the skew verdict
# count·n_keys > FACTOR·total, i.e. "this key carries more than FACTOR×
# its uniform share" — all integer cross-multiplication, bounded by
# decimal(38,0) at any scale. The aggregate is two map-side-combinable
# passes (per-key counts, then the 2-number totals as a window over the
# key frame... no — totals ride along via one metadata-sized collect is
# NOT needed: they come from a window-free second aggregate joined back
# as a 1-row broadcast, the top_revenue_supplier pattern).
# ---------------------------------------------------------------------------
_SKEW_FACTOR = 4
_SKEW_TOP = 10


@register(
    "key_skew_report",
    oracle=f"""
    WITH counts AS (
      SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS DOUBLE)
             AS share,
           CAST(cnt AS HUGEINT) * n_keys > {_SKEW_FACTOR}::HUGEINT * total
             AS is_skewed
    FROM counts, tot
    ORDER BY cnt DESC, key
    LIMIT {_SKEW_TOP}
    """,
)
def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # totals: 2 numbers — metadata-sized collect (the important_part_value
    # scalar-subquery pattern; a 1-row cross join would plan the banned
    # BroadcastNestedLoopJoin)
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    ).collect()[0]
    total, n_keys = int(tot["total"]), int(tot["n_keys"])
    dec = "decimal(38,0)"
    return (
        counts.select(
            "key",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("cnt").cast("double") / F.lit(float(total))).alias("share"),
            (
                F.col("cnt").cast(dec) * F.lit(n_keys).cast(dec)
                > F.lit(_SKEW_FACTOR * total).cast(dec)
            ).alias("is_skewed"),
        )
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(_SKEW_TOP)
    )


# ---------------------------------------------------------------------------
# Weekly seasonal anomalies: daily event counts per type, baselined by
# day-of-week over the whole span. Residual z-scores use the population
# σ from integer-exact moments (n·Σx² − (Σx)² over n², all in
# decimal/HUGEINT, one double cast) and IEEE sqrt — every float op is
# correctly rounded on identical inputs, so is_anomaly is deterministic
# cross-engine. Windows run over the (type, day) AGGREGATE frame
# (calendar-bounded), partitioned by (type, dow) — never a global sort.
# ---------------------------------------------------------------------------
_ANOM_Z = 2.0


@register(
    "weekly_seasonal_anomalies",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      -- dow = epoch-day mod 7 (0 = Thursday 1970-01-01): engine-neutral,
      -- unlike dayofweek() whose origin differs between engines
      SELECT event_type, day, n,
             CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS INT) AS dow,
             count(*) OVER w AS grp_n,
             sum(n) OVER w AS s1,
             sum(CAST(n AS HUGEINT) * n) OVER w AS s2
      FROM daily
      WINDOW w AS (
        PARTITION BY event_type, date_diff('day', DATE '1970-01-01', day) % 7)
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n_events, dow,
           CAST(CAST(s1 AS DOUBLE) / CAST(grp_n AS DOUBLE) AS DOUBLE)
             AS expected,
           CASE WHEN CAST(grp_n AS HUGEINT) * s2 > CAST(s1 AS HUGEINT) * s1
                THEN CAST(
                  (CAST(n AS DOUBLE)
                   - CAST(s1 AS DOUBLE) / CAST(grp_n AS DOUBLE))
                  / sqrt(CAST(CAST(grp_n AS HUGEINT) * s2
                              - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                         / CAST(grp_n AS DOUBLE) / CAST(grp_n AS DOUBLE))
                  AS DOUBLE)
           END AS z,
           CASE WHEN CAST(grp_n AS HUGEINT) * s2 > CAST(s1 AS HUGEINT) * s1
                THEN abs((CAST(n AS DOUBLE)
                   - CAST(s1 AS DOUBLE) / CAST(grp_n AS DOUBLE))
                  / sqrt(CAST(CAST(grp_n AS HUGEINT) * s2
                              - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                         / CAST(grp_n AS DOUBLE) / CAST(grp_n AS DOUBLE)))
                  > {_ANOM_Z}
                ELSE FALSE END AS is_anomaly
    FROM stats
    """,
)
def q_weekly_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    # epoch-day mod 7, matching the oracle's engine-neutral dow
    dow = (
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
    ).cast("int")
    w = Window.partitionBy("event_type", dow)
    dec = "decimal(38,0)"
    grp_n = F.count(F.lit(1)).over(w)
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n").cast(dec) * F.col("n")).over(w)
    stats = daily.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        dow.alias("dow"),
        grp_n.alias("grp_n"),
        s1.cast(dec).alias("s1"),
        s2.alias("s2"),
    )
    var_num = F.col("grp_n").cast(dec) * F.col("s2") - F.col("s1") * F.col("s1")
    has_var = var_num > 0
    mean = F.col("s1").cast("double") / F.col("grp_n").cast("double")
    sigma = F.sqrt(
        var_num.cast("double")
        / F.col("grp_n").cast("double")
        / F.col("grp_n").cast("double")
    )
    z = (F.col("n_events").cast("double") - mean) / sigma
    return stats.select(
        "event_type",
        "day",
        "n_events",
        "dow",
        mean.alias("expected"),
        F.when(has_var, z).alias("z"),
        F.when(has_var, F.abs(z) > _ANOM_Z).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )
