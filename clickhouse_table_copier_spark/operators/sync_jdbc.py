"""The JDBC destination of the sync pipeline (``operators.sync``).

A remote SQL server has no dynamic partition overwrite, so the JDBC apply
step is the reference's D1+D2 loop (``copy/copy.go:139-271``) run once
over the partition lists ``sync`` collected:

- D1 delete: one ``DELETE FROM t WHERE (k=v AND …) OR (…)`` statement
  covering every partition being replaced or dropped (``ALTER TABLE …
  DELETE`` parity, database.go:463-484) — driver-side, metadata-sized;
- D2 insert: one distributed append of all partitions needing data
  (``INSERT … SELECT`` parity, database.go:486-507) via the executors'
  JDBC connections.

The delete-then-insert window is visible to concurrent readers — exactly
the reference's semantics, and why both verify with fingerprints on the
next run rather than assuming atomicity.

Also here: the WHERE rendering with per-dialect string escaping (each
value through ``plans.predicates.sql_literal``). The statement runner is
``sources.table.jdbc_execute``; whether the table exists is decided by
``sources.catalog.table_exists``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_table_copier_spark.plans.predicates import sql_literal
from clickhouse_table_copier_spark.sources.table import TableRef, jdbc_execute, write_table

# Dialects whose string literals read backslash as an escape by default
# (ClickHouse, the reference's target, and MySQL). Standard servers (Derby,
# Postgres, Oracle) must NOT get doubled backslashes: there '\' is literal.
_BACKSLASH_ESCAPE_URL_PREFIXES = ("jdbc:clickhouse", "jdbc:ch:", "jdbc:mysql", "jdbc:mariadb")


def dialect_backslash_escapes(jdbc_url: str) -> bool:
    return jdbc_url.lower().startswith(_BACKSLASH_ESCAPE_URL_PREFIXES)


def sql_equality_where(
    names: list[str], rows: list[tuple], backslash_escapes: bool = False
) -> str:
    """``(k1=v1 AND k2=v2) OR (…)`` — remote-side WHERE text for the
    delete step. The reference's GenerateWhere (sidefunctions.go:194-236)
    emits one predicate per round trip; rendering the OR over all doomed
    partitions keeps it to ONE statement. Fixes the two-key arity bug
    (``tmp = +1``) the same way plans.predicates does for Column form.

    ``backslash_escapes``: set for dialects (ClickHouse/MySQL) where ``\\``
    escapes inside string literals, or a key ending in one mis-targets the DELETE."""

    def one(row: tuple) -> str:
        # ANSI-quoted identifiers: Spark's JDBC writer creates columns as
        # quoted (case-sensitive) names, so the delete must address them
        # the same way or case-folding servers (Derby, Postgres) miss
        parts = [
            f'"{n}" IS NULL' if v is None else f'"{n}" = {sql_literal(v, backslash_escapes)}'
            for n, v in zip(names, row)
        ]
        return "(" + " AND ".join(parts) + ")"

    return " OR ".join(one(r) for r in rows)


def apply(
    spark: SparkSession, ref: TableRef, write: DataFrame, names: list[str], keys: dict
) -> list[tuple]:
    """JDBC apply step; returns the keys whose rows were deleted."""
    # D1: one DELETE covering every partition being replaced or dropped
    doomed = keys["overwritten"] + keys["deleted"]
    if doomed:
        where = sql_equality_where(
            names, doomed, backslash_escapes=dialect_backslash_escapes(ref.location)
        )
        jdbc_execute(spark, ref, f"DELETE FROM {ref.table} WHERE {where}")
    # D2: one distributed append of everything needing data (creates the
    # table when the destination was absent)
    if keys["written"]:
        write_table(write, ref, mode="append")
    return doomed
