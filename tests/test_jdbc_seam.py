"""JDBC seam contract + end-to-end tests (SURVEY §2.1 S1 remote path, §2.9 C9).

The reference's entire reason to exist is cross-server copy
(``INSERT … SELECT … FROM remote(…)``, database.go:488-507) with
reconnect-retry (database.go:246-299). The sandbox has no ClickHouse, but
Spark ships Apache Derby — a real embedded JDBC engine — so the seam gets
a genuine end-to-end read here, plus pure contract tests for the option
set and the retry loop (which are OUR code regardless of server).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from clickhouse_table_copier_spark.sources.table import (
    TableRef,
    jdbc_reader_options,
    jdbc_retry_policy,
    load_table,
    normalize_jdbc_types,
)

DERBY_URL = "jdbc:derby:memory:ctcdb"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


# ---------------------------------------------------------------------------
# Contract: the option set handed to spark.read (no server needed)
# ---------------------------------------------------------------------------
def test_jdbc_reader_options_contract():
    ref = TableRef(
        location="jdbc:clickhouse://ch1:8123/db",
        fmt="jdbc",
        table="events",
        options={
            "driver": "com.clickhouse.jdbc.ClickHouseDriver",
            "user": "copier",
            "connect_retries": "5",
            "retry_delay_s": "0.1",
            "numPartitions": "16",
            "partitionColumn": "event_id",
            "lowerBound": "0",
            "upperBound": "1000000",
        },
    )
    opts = jdbc_reader_options(ref)
    assert opts["url"] == "jdbc:clickhouse://ch1:8123/db"
    assert opts["dbtable"] == "events"
    # pushdown stays on the remote server (the reference's WHERE-in-remote())
    assert opts["pushDownPredicate"] == "true"
    assert opts["pushDownAggregate"] == "true"
    assert opts["pushDownLimit"] == "true"
    assert opts["fetchsize"] == "10000"
    # passthroughs survive; sharding options reach the reader
    assert opts["driver"] == "com.clickhouse.jdbc.ClickHouseDriver"
    assert opts["numPartitions"] == "16"
    assert opts["partitionColumn"] == "event_id"
    # retry knobs are OURS, not the reader's
    assert "connect_retries" not in opts
    assert "retry_delay_s" not in opts
    assert jdbc_retry_policy(ref) == (5, 0.1)


def test_jdbc_requires_dbtable():
    with pytest.raises(ValueError, match="requires table"):
        jdbc_reader_options(TableRef(location="jdbc:x://h/db", fmt="jdbc"))


def test_jdbc_retry_defaults_are_bounded():
    ref = TableRef(location="jdbc:x://h/db", fmt="jdbc", table="t")
    retries, delay = jdbc_retry_policy(ref)
    assert retries == 2 and delay == 5.0


# ---------------------------------------------------------------------------
# C9 retry loop (loader injection — the loop is our code)
# ---------------------------------------------------------------------------
def _flaky(fail_times: int, calls: list):
    def loader():
        calls.append(1)
        if len(calls) <= fail_times:
            raise ConnectionError("server went away")
        return "SENTINEL"

    return loader


def test_retry_recovers_within_budget(spark):
    ref = TableRef(
        location="jdbc:x://h/db", fmt="jdbc", table="t",
        options={"connect_retries": "3", "retry_delay_s": "0"},
    )
    calls: list = []
    out = load_table(spark, ref, _loader=_flaky(2, calls))
    assert out == "SENTINEL"
    assert len(calls) == 3  # 1 attempt + 2 retries


def test_retry_exhausted_reraises(spark):
    ref = TableRef(
        location="jdbc:x://h/db", fmt="jdbc", table="t",
        options={"connect_retries": "1", "retry_delay_s": "0"},
    )
    calls: list = []
    with pytest.raises(ConnectionError):
        load_table(spark, ref, _loader=_flaky(5, calls))
    assert len(calls) == 2  # 1 attempt + 1 retry


def test_retry_zero_fails_fast(spark):
    ref = TableRef(
        location="jdbc:x://h/db", fmt="jdbc", table="t",
        options={"connect_retries": "0", "retry_delay_s": "0"},
    )
    calls: list = []
    with pytest.raises(ConnectionError):
        load_table(spark, ref, _loader=_flaky(5, calls))
    assert len(calls) == 1


# ---------------------------------------------------------------------------
# §1.3 on-read normalization
# ---------------------------------------------------------------------------
def test_normalize_jdbc_types_widens_huge_decimals(spark):
    df = spark.createDataFrame(
        [(1, "18446744073709551615", 2.5)], ["id", "u64", "x"]
    ).select(
        "id",
        F.col("u64").cast("decimal(20,0)").alias("u64"),
        "x",
        F.lit("9.99").cast("decimal(10,2)").alias("money"),
    )
    out = normalize_jdbc_types(df)
    types = dict(out.dtypes)
    assert types["u64"] == "decimal(38,0)"  # UInt64 carrier canonicalized
    assert types["id"] == "bigint"  # untouched
    assert types["money"] == "decimal(10,2)"  # scaled decimals untouched
    assert out.where(F.col("u64") == F.lit("18446744073709551615").cast("decimal(38,0)")).count() == 1


# ---------------------------------------------------------------------------
# End-to-end against embedded Derby (a real JDBC engine in the Spark JVM)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def derby_table(spark):
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL + ";create=true")
    st = conn.createStatement()
    try:
        st.executeUpdate("DROP TABLE items")
    except Exception:
        pass
    st.executeUpdate(
        "CREATE TABLE items (id BIGINT NOT NULL, name VARCHAR(32), "
        "qty DECIMAL(20,0), price DOUBLE)"
    )
    for i in range(100):
        st.executeUpdate(
            f"INSERT INTO items VALUES ({i}, 'item{i}', {10**18 + i}, {i * 1.5})"
        )
    st.close()
    yield "items"
    conn.close()


def _derby_ref(**extra_opts) -> TableRef:
    return TableRef(
        location=DERBY_URL,
        fmt="jdbc",
        table="items",
        options={"driver": DERBY_DRIVER, **extra_opts},
    )


def test_jdbc_end_to_end_read(spark, derby_table):
    df = load_table(spark, _derby_ref())
    assert df.count() == 100
    types = dict(df.dtypes)
    # DECIMAL(20,0) — the UInt64 arrival shape — canonicalized on read
    assert types["QTY"] == "decimal(38,0)"
    row = df.where(F.col("ID") == 7).first()
    assert row["NAME"] == "item7" and int(row["QTY"]) == 10**18 + 7


def test_jdbc_predicate_pushdown_reaches_server(spark, derby_table):
    df = load_table(spark, _derby_ref()).where(F.col("ID") > 90)
    assert df.count() == 9
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan
    assert "PushedFilters" in plan and "ID" in plan.split("PushedFilters")[1][:200]


def test_jdbc_parallel_partitioned_read(spark, derby_table):
    """Sharded read — numPartitions JDBC connections, each with a bound
    range predicate (the scale path for bulk copy off a remote server)."""
    df = load_table(
        spark,
        _derby_ref(
            partitionColumn="ID", lowerBound="0", upperBound="100",
            numPartitions="4",
        ),
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100


def test_jdbc_source_syncs_to_parquet_dest(spark, derby_table, tmp_path):
    """The flagship use case end-to-end: a JDBC source synced into a
    hive-partitioned parquet destination, converging to identical."""
    from clickhouse_table_copier_spark.operators.sync import SyncOptions, sync
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )

    src = load_table(spark, _derby_ref())
    spec = PartitionSpec.of(PartitionField("id_bucket", "CAST(ID % 4 AS INT)"))
    dest = str(tmp_path / "dest")
    res = sync(spark, src, dest, spec)
    assert res.copied_partitions == 4
    res2 = sync(spark, src, dest, spec, SyncOptions(dry_run=True))
    assert {r["verdict"] for r in res2.report.collect()} == {"identical"}


def test_config_surfaces_retry_options():
    """C9 knobs ride the YAML endpoint options straight into the policy."""
    from clickhouse_table_copier_spark.config import parse_job_spec

    job = parse_job_spec(
        {
            "source": {
                "location": "jdbc:clickhouse://ch1:8123/db",
                "format": "jdbc",
                "table": "events",
                "options": {"connect_retries": "-1", "retry_delay_s": "5"},
            },
            "destination": {"location": "/tmp/dest"},
            "partition_by": ["event_type"],
        }
    )
    # -1 = the reference's infinite-reconnect parity mode
    assert jdbc_retry_policy(job.source) == (-1, 5.0)


def test_jdbc_write_roundtrip(spark, derby_table, tmp_path):
    """write_table to a JDBC destination (the reference's INSERT-into-
    remote, database.go:486-507) then read it back — values intact,
    including the decimal(38,0)-canonicalized huge ints."""
    from clickhouse_table_copier_spark.sources.table import write_table

    src = load_table(spark, _derby_ref())
    dest = TableRef(
        location=DERBY_URL, fmt="jdbc", table="items_copy",
        options={"driver": DERBY_DRIVER},
    )
    write_table(src, dest, mode="overwrite")
    back = load_table(spark, dest)
    assert back.count() == 100
    a = sorted(map(tuple, src.select("ID", "NAME", "QTY").collect()))
    b = sorted(map(tuple, back.select("ID", "NAME", "QTY").collect()))
    assert a == b


def test_jsonl_and_csv_table_refs(spark, tmp_path):
    """jsonl / csv TableRefs read what parquet-born data wrote — the
    training-corpus ingestion formats."""
    from clickhouse_table_copier_spark.sources.table import write_table

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    write_table(docs, TableRef(location=jdir, fmt="json"), mode="overwrite")
    write_table(docs, TableRef(location=cdir, fmt="csv", options={"header": "true"}), mode="overwrite")

    jback = load_table(spark, TableRef(location=jdir, fmt="json"))
    assert jback.count() == docs.count()
    assert {r["doc_id"] for r in jback.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    cback = load_table(spark, TableRef(location=cdir, fmt="csv"))
    assert cback.count() == docs.count()
    assert "text" in cback.columns


# ---------------------------------------------------------------------------
# sync into JDBC: the reference's native shape (classify → DELETE → INSERT)
# against a real JDBC destination
# ---------------------------------------------------------------------------
def _jdbc_ref(table):
    return TableRef(
        location="jdbc:derby:memory:syncdb;create=true", fmt="jdbc", table=table,
        options={"driver": DERBY_DRIVER},
    )


def test_sync_to_jdbc_full_cycle(spark):
    from clickhouse_table_copier_spark.operators.sync import SyncOptions, sync
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    spec = PartitionSpec.of(
        PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)")
    )

    # 1. dest absent → full copy
    res = sync(spark, li, _jdbc_ref("li_sync"), spec)
    assert res.copied_partitions == 12

    # 2. identical → all-identical, nothing written
    res2 = sync(spark, li, _jdbc_ref("li_sync"), spec)
    assert res2.copied_partitions == 0 and res2.deleted_partitions == 0
    assert {r["verdict"] for r in res2.report.collect()} == {"identical"}

    # 3. corrupt one partition + delete another on the dest, then repair
    from clickhouse_table_copier_spark.sources.table import jdbc_execute

    jdbc_execute(
        spark, _jdbc_ref("li_sync"),
        'UPDATE li_sync SET "l_quantity" = "l_quantity" + 1 WHERE "ship_month" = 4',
    )
    jdbc_execute(
        spark, _jdbc_ref("li_sync"), 'DELETE FROM li_sync WHERE "ship_month" = 7'
    )
    res3 = sync(spark, li, _jdbc_ref("li_sync"), spec)
    actions = {r["ship_month"]: r["action"] for r in res3.report.collect()}
    assert actions[4] == "overwritten" and actions[7] == "copied"
    assert res3.deleted_partitions == 1 and res3.copied_partitions == 2

    # 4. converged: next pass reports all-identical
    res4 = sync(
        spark, li, _jdbc_ref("li_sync"), spec, SyncOptions(dry_run=True)
    )
    assert {r["verdict"] for r in res4.report.collect()} == {"identical"}


def test_sql_equality_where_renders_tuples_and_nulls():
    from clickhouse_table_copier_spark.operators.sync_jdbc import sql_equality_where

    w = sql_equality_where(
        ["k", "m"], [(1, "a"), (2, None), (3, "o'brien")]
    )
    assert w == (
        '("k" = 1 AND "m" = \'a\') OR ("k" = 2 AND "m" IS NULL)'
        ' OR ("k" = 3 AND "m" = \'o\'\'brien\')'
    )


def test_sync_to_jdbc_tuple_key_delete(spark):
    """Tuple partition keys through the REAL delete path: the OR-of-tuples
    WHERE must remove exactly the doomed (type, band) partitions — the
    arity case the reference's GenerateWhere breaks at (tmp=+1 bug)."""
    from clickhouse_table_copier_spark.operators.sync import sync
    from clickhouse_table_copier_spark.sources.table import jdbc_execute
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )
    from clickhouse_table_copier_spark.queries import _events

    ev = _events(spark, SF_SMOKE).select("event_id", "event_type", "user_id", "value")
    spec = PartitionSpec.of(
        PartitionField("event_type", "event_type"),
        PartitionField("vband", "CAST(least(floor(value / 100), 2) AS INT)"),
    )
    # Derby maps Spark strings to CLOB by default, which cannot be
    # compared to literals — declare the key column's SQL type explicitly
    # (the documented Spark JDBC practice; ClickHouse/Postgres dests don't
    # need it). The option rides TableRef.options into write_table.
    ref = TableRef(
        location="jdbc:derby:memory:tupledb;create=true", fmt="jdbc",
        table="ev_sync",
        options={
            "driver": DERBY_DRIVER,
            "createTableColumnTypes": "event_type VARCHAR(32)",
        },
    )
    res = sync(spark, ev, ref, spec)
    n_parts = res.copied_partitions
    assert n_parts >= 6  # several types × bands

    # corrupt TWO tuple partitions
    jdbc_execute(
        spark, ref,
        "UPDATE ev_sync SET \"value\" = \"value\" + 0.5"
        " WHERE (\"event_type\" = 'click' AND \"vband\" = 0)"
        " OR (\"event_type\" = 'view' AND \"vband\" = 1)",
    )
    res2 = sync(spark, ev, ref, spec)
    acts = {(r["event_type"], r["vband"]): r["action"] for r in res2.report.collect()}
    assert acts[("click", 0)] == "overwritten" and acts[("view", 1)] == "overwritten"
    assert sum(1 for a in acts.values() if a == "overwritten") == 2
    assert res2.deleted_partitions == 2 and res2.copied_partitions == 2

    res3 = sync(spark, ev, ref, spec)
    assert {r["verdict"] for r in res3.report.collect()} == {"identical"}


def test_sync_to_jdbc_rejects_missing_partition_columns(spark):
    """A dest table lacking the partition columns is a config error, not a
    silent misclassification."""
    from clickhouse_table_copier_spark.operators.sync import sync
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )

    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:badsync;create=true"
    )
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE nokeys (a BIGINT, b DOUBLE)")
    st.close()
    ref = TableRef(
        location="jdbc:derby:memory:badsync", fmt="jdbc", table="nokeys",
        options={"driver": DERBY_DRIVER},
    )
    src = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 1.5).alias("b")
    )
    spec = PartitionSpec.of(PartitionField("bucket", "CAST(a % 3 AS INT)"))
    with pytest.raises(ValueError, match="lacks partition columns"):
        sync(spark, src, ref, spec)


def test_write_table_tolerates_read_sharding_options(spark, tmp_path):
    """A ref configured for sharded READS (partitionColumn trio) must be
    writable as a destination too — the read-only options are dropped at
    the writer, numPartitions is kept (caps insert connections)."""
    from clickhouse_table_copier_spark.sources.table import write_table

    ref = TableRef(
        location="jdbc:derby:memory:shardwrite;create=true", fmt="jdbc",
        table="t_rw",
        options={
            "driver": DERBY_DRIVER,
            "partitionColumn": "id", "lowerBound": "0", "upperBound": "100",
            "numPartitions": "2",
        },
    )
    df = spark.range(50).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    write_table(df, ref, mode="overwrite")
    back = load_table(spark, ref)
    assert back.count() == 50


# ---------------------------------------------------------------------------
# Existence probe discrimination: only a table-missing SQLState means
# "absent"; a connection failure must raise, never route into the
# dest-absent branch (whose overwrite would DROP a healthy remote table).
# ---------------------------------------------------------------------------
def test_exists_probe_missing_table_is_false(spark, derby_table):
    from clickhouse_table_copier_spark.sources.catalog import table_exists

    ref = TableRef(
        location=DERBY_URL, fmt="jdbc", table="definitely_not_a_table",
        options={"driver": DERBY_DRIVER, "connect_retries": "0"},
    )
    assert table_exists(spark, ref) is False  # Derby SQLState 42X05
    present = TableRef(
        location=DERBY_URL, fmt="jdbc", table="items",
        options={"driver": DERBY_DRIVER, "connect_retries": "0"},
    )
    assert table_exists(spark, present) is True


def test_exists_probe_connection_failure_raises(spark):
    from clickhouse_table_copier_spark.sources.catalog import table_exists

    # a Derby memory db that was never created (no ;create=true) fails at
    # CONNECT time (SQLState XJ004), not with a table-missing state
    ref = TableRef(
        location="jdbc:derby:memory:never_created_db", fmt="jdbc",
        table="items",
        options={"driver": DERBY_DRIVER, "connect_retries": "0",
                 "retry_delay_s": "0"},
    )
    with pytest.raises(Exception):
        table_exists(spark, ref)


def test_sql_equality_where_backslash_dialects():
    from clickhouse_table_copier_spark.operators.sync_jdbc import (
        dialect_backslash_escapes,
        sql_equality_where,
    )

    rows = [("a\\", 1)]
    standard = sql_equality_where(["m", "k"], rows)
    assert "'a\\'" in standard  # Derby/Postgres: backslash is literal
    ch = sql_equality_where(["m", "k"], rows, backslash_escapes=True)
    assert "'a\\\\'" in ch  # ClickHouse/MySQL: backslash must be doubled
    assert dialect_backslash_escapes("jdbc:clickhouse://h:8123/db")
    assert dialect_backslash_escapes("jdbc:mysql://h/db")
    assert not dialect_backslash_escapes(DERBY_URL)
    assert not dialect_backslash_escapes("jdbc:postgresql://h/db")


def test_ch_dialect_toint64_exact_above_2_53(spark):
    """toInt64 must carry BIGINTs exactly — the DOUBLE-parameter version
    corrupted integers above 2^53 (e.g. toInt64(cityHash64(x)))."""
    from clickhouse_table_copier_spark.functions.ch_dialect import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    big = 9007199254740993  # 2^53 + 1: not representable as a double
    row = spark.sql(
        f"SELECT toInt64({big}) AS a, toInt64(cityHash64('x')) AS b, "
        "xxhash64('x') AS b_ref, toInt32(3.7) AS t"
    ).first()
    assert row["a"] == big
    assert row["b"] == row["b_ref"]
    assert row["t"] == 3  # double args still truncate toward zero
