"""Seeded inputs for the sync workloads.

Builds a lineitem-shaped source table and, for the re-sync workload, a
destination snapshot with planted drift. The planted drift is written
beside the snapshot as ``drift.json`` so the per-op checks know the verdict
counts the CLI must report.

Row ``id`` (0 <= id < rows) is recoverable from the data as
``(l_orderkey - 1) * 4 + l_linenumber - 1``, and its ship day is
``DAY0 + id % DAYS``. Every day therefore holds the same number of rows,
which keeps file sizes, and so op costs, equal across seeds.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 1992-01-02 .. 1998-11-04, the ship dates of TPC-H lineitem: 83 months
DAY0 = dt.date(1992, 1, 2)
DAYS = 2499
LINES_PER_ORDER = 4
FILES = 4  # source files, and snapshot writer tasks
# the partition key, as the job config states it
KEY = "ship_month"
KEY_EXPR = "CAST(date_format(l_shipdate, 'yyyyMM') AS INT)"


def month_keys() -> dict:
    """``{partition key (yyyyMM): its first day index}``."""
    first: dict = {}
    for day in range(DAYS):
        d = DAY0 + dt.timedelta(days=day)
        first.setdefault(d.year * 100 + d.month, day)
    return first


@dataclass(frozen=True)
class Drift:
    """The planted difference between source and destination snapshot.
    Keys are rendered as the CLI prints them (``str`` of the value)."""

    mutated: list
    missing: list
    extra: list
    expected_verdicts: dict
    expected_copied: int


def source_frame(spark: SparkSession, rows: int, seed: int) -> DataFrame:
    """The lineitem-shaped source: the column names and types of the
    TPC-H lineitem fixture, values drawn from a seeded hash of the row id."""
    ids = spark.range(0, rows, numPartitions=FILES)

    def draw(k: int, mod: int):
        return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(k)), F.lit(mod))

    qty = (draw(3, 50) + 1).cast("double")
    ship = F.date_add(F.lit(DAY0.isoformat()).cast("date"), (F.col("id") % DAYS).cast("int"))
    return ids.select(
        (F.floor(F.col("id") / LINES_PER_ORDER) + 1).cast("bigint").alias("l_orderkey"),
        (draw(1, 20000) + 1).cast("bigint").alias("l_partkey"),
        (draw(2, 1000) + 1).cast("bigint").alias("l_suppkey"),
        (F.col("id") % LINES_PER_ORDER + 1).cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        F.round(qty * (F.lit(900.0) + draw(4, 100000) / 100.0), 2).alias("l_extendedprice"),
        (draw(5, 11) / 100.0).alias("l_discount"),
        (draw(6, 9) / 100.0).alias("l_tax"),
        F.element_at(F.array(*map(F.lit, "ANR")), (draw(7, 3) + 1).cast("int")).alias("l_returnflag"),
        F.when(draw(8, 2) == 0, "F").otherwise("O").alias("l_linestatus"),
        ship.cast("timestamp_ntz").alias("l_shipdate"),
    )


def plan_drift(seed: int, mutated: int, missing: int, extra: int) -> tuple[dict, dict, list]:
    """Pick drifted partitions from ``seed``: returns ``{key: first day}``
    for mutated and missing partitions, and the source keys whose rows are
    re-dated to make the extra partitions."""
    first_day = month_keys()
    # Only 31-day months drift, so the bytes an op rewrites do not depend
    # on which months the seed picks.
    starts = sorted(first_day.values()) + [DAYS]
    length = {k: starts[starts.index(d) + 1] - d for k, d in first_day.items()}
    keys = sorted(k for k in first_day if length[k] == 31)
    rng = random.Random(seed)
    picked = rng.sample(keys, mutated + missing + extra)
    mut = {k: first_day[k] for k in picked[:mutated]}
    miss = {k: first_day[k] for k in picked[mutated:mutated + missing]}
    return mut, miss, picked[mutated + missing:]


def write_source(spark: SparkSession, path: Path, rows: int, seed: int) -> None:
    source_frame(spark, rows, seed).write.mode("overwrite").parquet(str(path))


def plant_drift(
    spark: SparkSession, source: Path, seed: int, counts: tuple[int, int, int]
) -> tuple[DataFrame, Drift]:
    """The drifted destination, as a frame with the partition column, and
    the drift planted in it. ``counts`` = (mutated, missing, extra)
    partitions."""
    mut, miss, extra_src = plan_drift(seed, *counts)
    src = spark.read.parquet(str(source))
    key = F.expr(KEY_EXPR)
    row_id = (F.col("l_orderkey") - 1) * LINES_PER_ORDER + F.col("l_linenumber") - 1
    # Mutate the first row of each mutated partition, so every one of them
    # really differs, plus a seeded ~2% of its other rows.
    hit = row_id.isin(list(mut.values())) | (F.pmod(F.xxhash64(row_id, F.lit(seed), F.lit(99)), F.lit(50)) == 0)
    dest = src.where(~key.isin(list(miss))).withColumn(
        "l_extendedprice",
        F.when(key.isin(list(mut)) & hit, F.col("l_extendedprice") + 0.01).otherwise(F.col("l_extendedprice")),
    )
    # Extra partitions: rows of some source partitions moved 10 years on,
    # which keeps each month one partition.
    moved = src.where(key.isin(extra_src)).withColumn(
        "l_shipdate", F.add_months(F.col("l_shipdate").cast("date"), 120).cast("timestamp_ntz")
    )
    n_keys = len(month_keys())
    planted = Drift(
        mutated=sorted(map(str, mut)),
        missing=sorted(map(str, miss)),
        extra=sorted(str(k + 1000) for k in extra_src),
        expected_verdicts={
            "copy": len(miss),
            "identical": n_keys - len(mut) - len(miss),
            "inconsistent": len(mut),
            "extra": len(extra_src),
        },
        expected_copied=len(mut) + len(miss),
    )
    return dest.unionByName(moved).withColumn(KEY, key), planted


def write_snapshot(dest: DataFrame, root: Path, planted: Drift) -> None:
    """Write the drifted destination as ``root/snapshot``, one file per
    partition, and the planted drift beside it as ``root/drift.json``."""
    (
        dest.repartition(FILES, KEY)
        .write.partitionBy(KEY)
        .mode("overwrite")
        .parquet(str(root / "snapshot"))
    )
    (root / "drift.json").write_text(json.dumps(asdict(planted), indent=1))


def bootstrap_drift() -> Drift:
    """What a sync into an absent destination must report: every source
    partition copied."""
    n_keys = len(month_keys())
    return Drift(
        mutated=[], missing=[], extra=[],
        expected_verdicts={"copy": n_keys, "identical": 0, "inconsistent": 0, "extra": 0},
        expected_copied=n_keys,
    )
