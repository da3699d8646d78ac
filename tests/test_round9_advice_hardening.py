"""Round-9 hardening of the round-8 ADVICE items:

* ``exact_global_ntile_multi`` / ``weighted_quantiles`` CHECK their
  non-null (and positive-weight) preconditions, riding the existing
  bounds action — NULL rank order is engine-dependent (Spark NULLS
  FIRST vs ANSI ntile NULLS LAST), so silently bucketing NULLs at 0
  would break the bit-identical claim;
* the module-persisted frames are tracked and released by
  ``release_caches`` (caller-owned lifetime; bench.py calls it between
  timed queries);
* ``session._driver_java_opts`` merges deployment-supplied driver JVM
  flags instead of replacing them, and an explicit
  ReservedCodeCacheSize in the env wins;
* the percentile_approx bounds collects in query modules tolerate an
  empty input frame (the array is NULL, not empty).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators import ranks


def test_ntile_rejects_null_value_column(spark):
    df = spark.createDataFrame(
        [(1.0, 1), (None, 2), (3.0, 3)], "v double, tie int"
    )
    with pytest.raises(ValueError, match="NULL"):
        ranks.exact_global_ntile(df, "v", "tie", 2, "t", parts=4)


def test_weighted_quantiles_rejects_null_and_nonpositive(spark):
    base = [("a", 1.0, 2), ("a", 2.0, 3)]
    df_null = spark.createDataFrame(
        base + [("a", None, 1)], "g string, v double, w int"
    )
    with pytest.raises(ValueError, match="NULL"):
        ranks.weighted_quantiles(df_null, "g", "v", "w", parts=4)
    df_zero = spark.createDataFrame(
        base + [("b", 1.0, 0)], "g string, v double, w int"
    )
    with pytest.raises(ValueError, match="non-positive"):
        ranks.weighted_quantiles(df_zero, "g", "v", "w", parts=4)


def test_weighted_quantiles_rejects_quoted_label(spark):
    df = spark.createDataFrame([("a", 1.0, 2)], "g string, v double, w int")
    with pytest.raises(ValueError, match="must not contain"):
        ranks.weighted_quantiles(df, "g", "v", "w", quantiles=[("p'50", 1, 2)], parts=4)


def test_weighted_quantiles_rejects_decimal_overflow(spark):
    """den · W must stay below 10^38 (decimal(38,0)); the default
    quartiles have den 4."""
    from decimal import Decimal

    e37 = Decimal(10**37)
    schema = "g string, v double, w decimal(38,0)"
    ok = spark.createDataFrame([("a", 1.0, e37), ("a", 2.0, e37)], schema)
    got = ranks.weighted_quantiles(ok, "g", "v", "w", parts=4).collect()[0]
    assert (got["p25"], got["p50"], got["p75"]) == (1.0, 1.0, 2.0)
    big = spark.createDataFrame([("a", 1.0, e37), ("b", 2.0, 2 * e37)], schema)
    with pytest.raises(ValueError, match="10\\^38"):
        ranks.weighted_quantiles(big, "g", "v", "w", parts=4)
    # a total beyond decimal(38,0) itself
    huge = spark.createDataFrame([("a", 1.0, 6 * e37), ("a", 2.0, 6 * e37)], schema)
    with pytest.raises(ValueError, match="10\\^38"):
        ranks.weighted_quantiles(huge, "g", "v", "w", parts=4)
    ranks.release_caches()


def test_release_caches_unpersists_tracked_frames(spark):
    df = spark.createDataFrame(
        [(float(i), i) for i in range(20)], "v double, tie int"
    )
    out = ranks.exact_global_ntile(df, "v", "tie", 4, "t", parts=4)
    assert out.count() == 20
    assert ranks._LIVE_CACHES, "persist was not tracked"
    cached = list(ranks._LIVE_CACHES)
    ranks.release_caches()
    assert not ranks._LIVE_CACHES
    for frame in cached:
        assert frame.storageLevel.useMemory is False  # unpersisted
    # the returned frame still recomputes correctly after release
    assert out.count() == 20


def test_ntile_result_unchanged_by_guard(spark):
    """The piggybacked guard must not change results: quartiles of
    1..8 under a unique tie order."""
    df = spark.createDataFrame(
        [(float(i), i) for i in range(1, 9)], "v double, tie int"
    )
    got = {
        r["v"]: r["t"]
        for r in ranks.exact_global_ntile(
            df, "v", "tie", 4, "t", parts=4
        ).collect()
    }
    ranks.release_caches()
    assert got == {1.0: 1, 2.0: 1, 3.0: 2, 4.0: 2, 5.0: 3, 6.0: 3, 7.0: 4, 8.0: 4}


def test_driver_java_opts_merges_env():
    from clickhouse_table_copier_spark.session import _driver_java_opts

    assert _driver_java_opts("") == "-XX:ReservedCodeCacheSize=512m"
    assert (
        _driver_java_opts("-XX:+UseG1GC")
        == "-XX:+UseG1GC -XX:ReservedCodeCacheSize=512m"
    )
    # explicit env setting wins verbatim — ours is NOT appended after it
    assert (
        _driver_java_opts("-XX:ReservedCodeCacheSize=1g -Dfoo=bar")
        == "-XX:ReservedCodeCacheSize=1g -Dfoo=bar"
    )


def test_empty_frame_bounds_guard(spark):
    """percentile_approx returns NULL (not []) on an empty frame; the
    `or []` guard turns that into an empty bounds list instead of a
    driver TypeError (queries_round8_prep and siblings)."""
    empty = spark.createDataFrame([], "v double")
    row = empty.select(
        F.percentile_approx("v", F.array(F.lit(0.5)), 1000).alias("bs")
    ).collect()[0]
    assert row["bs"] is None  # the hazard this guards against
    assert sorted(set(float(x) for x in (row["bs"] or []))) == []
