"""Guard (C3/C4) and catalog (S2/S5) tests."""

from __future__ import annotations

import pytest

from clickhouse_table_copier_spark.operators.guards import (
    TimezoneMismatchError,
    assert_timezone,
    warn_if_dest_larger,
)
from clickhouse_table_copier_spark.sources.catalog import describe_table, table_exists
from clickhouse_table_copier_spark.sources.table import TableRef
from tests.conftest import SF_SMOKE


def test_timezone_guard(spark):
    assert assert_timezone(spark, "UTC") == "UTC"
    with pytest.raises(TimezoneMismatchError, match="UTC"):
        assert_timezone(spark, "Europe/Moscow")


def test_dest_larger_warning():
    with pytest.warns(UserWarning, match="more rows"):
        assert warn_if_dest_larger(10, 11) is True
    assert warn_if_dest_larger(10, 10) is False


def test_describe_table(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    assert describe_table(df) == [("r_regionkey", "int"), ("r_name", "string")]


def test_table_exists(spark):
    assert table_exists(spark, TableRef(f"{SF_SMOKE}/region.parquet"))
    assert not table_exists(spark, TableRef(f"{SF_SMOKE}/nope.parquet"))


def test_table_exists_unreachable_jdbc_raises(spark, tmp_path):
    """A server that cannot be reached is not evidence that the table is
    absent: the probe raises once its retries are spent, so sync never
    takes the dest-absent branch and writes the table a second time."""
    ref = TableRef(
        location=f"jdbc:derby:{tmp_path / 'no_such_db'}",  # no ;create=true
        fmt="jdbc",
        table="items",
        options={"driver": "org.apache.derby.jdbc.EmbeddedDriver", "connect_retries": "0"},
    )
    with pytest.raises(Exception, match="not found"):
        table_exists(spark, ref)
