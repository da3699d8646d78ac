"""Hypothesis property tests for the cross-engine rendering seams.

These target the places the engine emits SQL TEXT — the partition-key
filters (the remote DELETE's WHERE, run by DuckDB, and the parquet key
filter, run by Spark) and the shared readable-size body — where a
quoting/precision bug would corrupt a destination rather than fail a
query. Values are generated adversarially (quotes, backslashes, unicode,
NULLs, negative/huge ints) and each example batch is checked by a real
engine executing the rendered text.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings, strategies as st

from clickhouse_table_copier_spark.functions.ch_dialect import readable_size_sql
from clickhouse_table_copier_spark.operators.sync import where_keys
from clickhouse_table_copier_spark.operators.sync_jdbc import sql_equality_where

# strings with the characters that break naive renderers, quotes and
# backslashes drawn often enough to meet in a few examples
_key_str = st.text(
    alphabet=st.one_of(
        st.sampled_from("'\\\"`"),
        st.characters(codec="utf-8", exclude_characters="\x00", max_codepoint=0x2FF),
    ),
    min_size=0,
    max_size=12,
)
_tuple = st.tuples(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.one_of(st.none(), _key_str),
)


def _near_misses(tuples) -> set:
    """The tuples plus near-miss neighbors: the next key, and the string
    swapped for NULL (or NULL for the empty string)."""
    population = set(tuples)
    for k, m in tuples:
        population.add((k + 1, m))
        population.add((k, None if m is not None else ""))
    return population


@settings(max_examples=20, deadline=None)
@given(st.lists(_tuple, min_size=1, max_size=8, unique=True))
def test_sql_equality_where_selects_exactly_the_doomed_tuples(tuples):
    """The rendered WHERE, executed by a real SQL engine, must match
    EXACTLY the partitions it was rendered for — no more (data loss on
    delete), no fewer (unrepaired partitions)."""
    con = duckdb.connect()
    con.execute('CREATE TABLE t (k BIGINT, "m" VARCHAR)')
    for k, m in _near_misses(tuples):
        con.execute("INSERT INTO t VALUES (?, ?)", [k, m])

    where = sql_equality_where(["k", "m"], list(tuples))
    got = {
        (r[0], r[1])
        for r in con.execute(f"SELECT k, m FROM t WHERE {where}").fetchall()
    }
    assert got == set(tuples)
    con.close()


@settings(max_examples=10, deadline=None)
@given(st.lists(_tuple, min_size=1, max_size=8, unique=True))
def test_where_keys_selects_exactly_the_given_tuples(spark, tuples):
    """The parquet path's key filter, the same literals as Spark SQL text,
    keeps EXACTLY the partitions it was built for: a partition it misses
    is reported written but is not, one it wrongly keeps is rewritten."""
    df = spark.createDataFrame(list(_near_misses(tuples)), "k BIGINT, m STRING")
    got = {tuple(r) for r in where_keys(df, ["k", "m"], list(tuples)).collect()}
    assert got == set(tuples)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        # full nonnegative BIGINT domain: the shift-based body must stay
        # exact past 2^53 (where doubles lose integers) and past ~82 PiB
        # (where the old x*100 rendering wrapped BIGINT)
        st.integers(min_value=0, max_value=2**63 - 1),
        min_size=1,
        max_size=32,
    )
)
def test_readable_size_sql_matches_integer_reference(values):
    """The shared SQL body must equal the exact integer reference
    (floor(bytes*100 / 1024^i) hundredths) for any byte count — DuckDB
    executes the generated text, Python computes the ground truth."""
    units = ["B", "KiB", "MiB", "GiB", "TiB", "PiB"]

    def expect(b: int) -> str:
        i = 0
        while i + 1 < len(units) and b >= 1024 ** (i + 1):
            i += 1
        hundredths = (b * 100) // (1024**i)
        return f"{hundredths // 100}.{hundredths % 100:02d} {units[i]}"

    con = duckdb.connect()
    con.execute("CREATE TABLE v (b BIGINT)")
    for b in values:
        con.execute("INSERT INTO v VALUES (?)", [b])
    got = dict(
        con.execute(
            f"SELECT b, {readable_size_sql('b')} FROM v"
        ).fetchall()
    )
    for b in values:
        assert got[b] == expect(b), (b, got[b], expect(b))
    con.close()
