"""Metadata scans (SURVEY §2.1 S2-S5, §2.2 P6).

The reference issues five metadata queries per table when building its
``tableSettings`` (``/root/reference/database/database.go:52-62``):
EXISTS, DESCRIBE, system.tables info, count(*), and a grouped scan of
``system.parts``. Spark equivalents: schema from the parquet footer /
catalog, existence from the filesystem or the server, counts and partition
stats as grouped aggregations (see ``operators.partition_stats``).

Everything here returns driver-side metadata (small), mirroring the
reference's rule that only metadata — never data rows — enters the tool's
process (SURVEY §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_table_copier_spark.sources.table import TableRef, jdbc_execute, jdbc_retrying


def describe_table(df: DataFrame) -> list[tuple[str, str]]:
    """Ordered (name, type) pairs — DESCRIBE TABLE (database.go:322-330)."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


# SQLStates that mean "that table does not exist" — Derby 42X05,
# SQL-Server/MySQL-family 42S02, Postgres 42P01, ODBC S0002, DB2 42704.
# Anything else (connection refused, auth failure, timeout) is NOT
# evidence of absence: treating it as missing would route sync into the
# dest-absent branch, which writes every source partition again on top of
# the rows already there — duplicating the table on a transient blip.
_TABLE_MISSING_SQLSTATES = frozenset({"42X05", "42S02", "42P01", "S0002", "42704"})


def _sql_states(exc: Exception) -> list[str]:
    """SQLState codes along the Java cause chain of a py4j error."""
    states: list[str] = []
    je = getattr(exc, "java_exception", None)
    while je is not None:
        try:
            st = je.getSQLState()
            if st:
                states.append(str(st).upper())
        except Exception:
            pass  # not a java.sql.SQLException — keep walking the chain
        try:
            je = je.getCause()
        except Exception:
            break
    return states


def table_exists(spark: SparkSession, ref: TableRef) -> bool:
    """Existence probe — `EXISTS db.tbl` (database.go:342-364).

    A path-backed table exists if its path does (Hadoop FS API through the
    JVM, so any supported filesystem works: local, HDFS, s3a). For JDBC
    only a table-missing SQLState returns False; connection-class failures
    retry under the C9 knobs (``connect_retries``/``retry_delay_s``) and
    then re-raise."""
    if ref.fmt != "jdbc":
        path = spark._jvm.org.apache.hadoop.fs.Path(ref.location)
        return path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path)

    def probe() -> bool:
        try:
            jdbc_execute(spark, ref, f"SELECT 1 FROM {ref.table} WHERE 1=0")
            return True
        except Exception as e:
            if any(s in _TABLE_MISSING_SQLSTATES for s in _sql_states(e)):
                return False
            raise

    return jdbc_retrying(ref, probe)
