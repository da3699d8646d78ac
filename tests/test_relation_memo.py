"""The r17 resolved-relation memos (_tc / _events_c / _corpus_c) must be
pure plan reuse: same object per (session, dir, table) — so the ~0.2 s
JVM datasource re-resolution is paid once — and NEVER materialized
(no persisted storage level), so every action still computes from the
parquet inputs."""

from __future__ import annotations

from tests.conftest import SF_ORACLE

SF_TINY = "/root/testdata/sf0.001"


def test_tc_memoizes_per_key(spark):
    from clickhouse_table_copier_spark.queries import _t, _tc

    a = _tc(spark, SF_ORACLE, "lineitem")
    b = _tc(spark, SF_ORACLE, "lineitem")
    assert a is b, "same (session, dir, table) must reuse the relation"
    assert _tc(spark, SF_ORACLE, "orders") is not a
    assert _tc(spark, SF_TINY, "lineitem") is not a
    # trailing slash normalizes to the same key
    assert _tc(spark, SF_ORACLE + "/", "lineitem") is a
    # identical rows to the uncached loader
    assert a.count() == _t(spark, SF_ORACLE, "lineitem").count()


def test_tc_is_not_materialized(spark):
    from clickhouse_table_copier_spark.queries import _tc

    df = _tc(spark, SF_ORACLE, "lineitem")
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False


def test_events_c_and_corpus_c_memoize_and_match(spark):
    from clickhouse_table_copier_spark.queries import _events, _events_c
    from clickhouse_table_copier_spark.queries_pipeline import _corpus, _corpus_c

    ev = _events_c(spark, SF_TINY)
    assert ev is _events_c(spark, SF_TINY)
    assert ev.count() == _events(spark, SF_TINY).count()
    assert dict(ev.dtypes) == dict(_events(spark, SF_TINY).dtypes)

    co = _corpus_c(spark, SF_TINY)
    assert co is _corpus_c(spark, SF_TINY)
    assert co.count() == _corpus(spark, SF_TINY).count()
    assert co.storageLevel.useMemory is False


def test_memos_key_on_the_session(spark):
    """A ``newSession()`` shares the application but not its confs: each
    memo hands it a frame of its own, bound to that session."""
    from clickhouse_table_copier_spark.queries import _events_c, _tc
    from clickhouse_table_copier_spark.queries_pipeline import _corpus_c

    other = spark.newSession()
    for load in (
        lambda s: _tc(s, SF_TINY, "lineitem"),
        lambda s: _events_c(s, SF_TINY),
        lambda s: _corpus_c(s, SF_TINY),
    ):
        mine, theirs = load(spark), load(other)
        assert theirs is not mine
        assert theirs.sparkSession is other and mine.sparkSession is spark
        assert load(other) is theirs
