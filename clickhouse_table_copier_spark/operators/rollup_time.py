"""Hypertable-style time rollups: multi-granularity continuous aggregates.

TimescaleDB's continuous aggregates / ClickHouse's AggregatingMergeTree
rollups keep (hour, day, month) summaries of an event stream. Spark has no
hypertable, so the engine expresses the same result two ways:

- :func:`time_rollup` — ALL granularities in ONE scan via an exploded
  granularity dimension (each row contributes to each level). One shuffle,
  partial-aggregated map-side; at 100 TB this beats per-level passes by
  the number of levels.
- incremental maintenance — the streaming module's
  ``windowed_event_counts`` is the availableNow refresh path for the same
  tables.

Rollup rows carry a ``grain`` column ('hour'|'day'|'month'), bucket start
timestamp, and the aggregates — the layout a serving layer range-scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRAINS = ("hour", "day", "month")


def time_rollup(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    value_col: str,
    grains: tuple[str, ...] = GRAINS,
) -> DataFrame:
    """(grain, bucket, group…, n_rows, value_sum) for every grain at once.

    value_sum goes through decimal(18,2) (exact, reorder-proof). The
    explode multiplies input rows by len(grains) BEFORE the aggregation,
    but partial aggregation collapses them map-side, so shuffle volume is
    #buckets, not #rows × #grains.
    """
    grain_structs = F.array(
        *[
            F.struct(
                F.lit(g).alias("grain"),
                F.date_trunc(g, F.col(ts_col)).alias("bucket"),
            )
            for g in grains
        ]
    )
    exploded = df.select(
        *group_cols,
        F.col(value_col),
        F.explode(grain_structs).alias("g"),
    )
    return (
        exploded.groupBy(F.col("g.grain").alias("grain"), F.col("g.bucket").alias("bucket"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
    )
