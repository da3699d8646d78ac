"""Structured Streaming incremental tests: the availableNow re-run loop
must (a) process only new files per run and (b) agree with the batch
engine's answers on the same data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE

# Driver-gate lane split (r17): this suite is in the SLOW lane so the
# default `pytest tests/` gate completes inside the driver's verify
# budget (r16 cut at 43% with zero failures).  Run the slow lane with
#   python -m pytest tests/ -m slow -q
pytestmark = pytest.mark.slow

LINEITEM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)


def test_windowed_event_counts_match_batch(spark, tmp_path):
    from clickhouse_table_copier_spark.queries import _events
    from clickhouse_table_copier_spark.streaming.incremental import (
        windowed_event_counts,
    )

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    ev = _events(spark, SF_SMOKE).select("event_id", "ts", "event_type", "value")
    ev.write.mode("append").parquet(src_dir)
    # sentinel far in the future pushes the watermark past all real
    # windows so append mode emits them in the availableNow run
    spark.createDataFrame(
        [(10**9, None, "sentinel", 0.0)],
        "event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE",
    ).withColumn("ts", F.expr("TIMESTAMP_NTZ '2030-01-01 00:00:00'")).write.mode(
        "append"
    ).parquet(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    q = windowed_event_counts(spark, src_dir, schema, out_dir, ck_dir)
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    batch = (
        spark.read.parquet(src_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    got_m = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    # every emitted window must match batch truth (the sentinel's own
    # window may be withheld by its watermark — that's append semantics)
    batch_m = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert len(got_m) > 0
    for k, v in got_m.items():
        assert batch_m[k] == v
    # all real (non-sentinel) windows were emitted
    missing = {k for k in batch_m if k[1] != "sentinel"} - set(got_m)
    assert not missing


def test_continuous_sync_touches_only_changed_partitions(spark, tmp_path):
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )
    from clickhouse_table_copier_spark.streaming.continuous_sync import (
        incremental_sync,
    )

    spec = PartitionSpec.of(
        PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)")
    )
    src_dir = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ck = str(tmp_path / "ck")
    stage = str(tmp_path / "stage")

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    li.where(F.month("l_shipdate") <= 9).write.mode("append").parquet(src_dir)

    # run 1: bootstrap — everything new, full copy
    r1 = incremental_sync(spark, src_dir, LINEITEM_SCHEMA, dest, spec, ck, stage)
    assert len(r1.touched_partitions) == 9
    assert r1.sync_result.copied_partitions == 9

    # run 2: append months 10-12 → only 3 partitions touched/repaired
    li.where(F.month("l_shipdate") > 9).write.mode("append").parquet(src_dir)
    r2 = incremental_sync(spark, src_dir, LINEITEM_SCHEMA, dest, spec, ck, stage)
    assert sorted(t[0] for t in r2.touched_partitions) == [10, 11, 12]
    assert r2.sync_result.copied_partitions == 3
    # untouched months were never written twice: dest now equals source
    from clickhouse_table_copier_spark.operators.fingerprint import table_fingerprint

    cols = [c for c in li.columns]
    src_fp = table_fingerprint(spark.read.parquet(src_dir).select(*cols)).collect()[0]
    dest_cast = spark.read.parquet(dest).select(
        *[F.col(c).cast(t) for c, t in li.dtypes]
    )
    dest_fp = table_fingerprint(dest_cast.select(*cols)).collect()[0]
    assert (src_fp["rows"], src_fp["fingerprint"]) == (dest_fp["rows"], dest_fp["fingerprint"])

    # run 3: no new files → no work at all
    r3 = incremental_sync(spark, src_dir, LINEITEM_SCHEMA, dest, spec, ck, stage)
    assert r3.touched_partitions == [] and r3.sync_result is None


def test_session_window_stats_match_batch_sessionization(spark, tmp_path):
    """Streaming session windows must produce the same sessions as the
    batch lag/cumsum formulation (same 30-min gap rule)."""
    from clickhouse_table_copier_spark.queries import _events
    from clickhouse_table_copier_spark.streaming.incremental import (
        session_window_stats,
    )

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    ev = _events(spark, SF_SMOKE).select("event_id", "ts", "user_id")
    ev.write.mode("append").parquet(src_dir)
    # future sentinel closes the watermark over all real sessions
    spark.createDataFrame(
        [(10**9, 0)], "event_id BIGINT, user_id BIGINT"
    ).withColumn("ts", F.expr("TIMESTAMP_NTZ '2030-01-01 00:00:00'")).select(
        "event_id", "ts", "user_id"
    ).write.mode("append").parquet(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    session_window_stats(spark, src_dir, schema, out_dir, ck_dir).awaitTermination()

    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got

    # batch truth: lag/gap/cumsum sessions over the same data (30-min gap)
    from pyspark.sql import Window

    all_ev = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = all_ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sess.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # every emitted (closed) streaming session matches a batch session
    for k, v in got.items():
        assert batch.get(k) == v, f"mismatch at {k}: stream={v} batch={batch.get(k)}"
    # and all real sessions (user != 0 sentinel... sentinel user 0 may be open)
    missing = {k for k in batch if k[0] != 0} - set(got)
    assert not missing


def test_session_window_merges_exact_gap_boundary(spark, tmp_path):
    """Pin the merge rule AT the boundary: an event exactly ``gap``
    seconds after the previous one merges into the same session
    (diff <= gap), while gap+1 starts a new one — the same closed
    boundary as the batch rule "new session iff diff > 1800 s". The
    random fixture contains no exactly-1800-second gaps, so only this
    synthetic pins the strict-vs-non-strict inequality."""
    from clickhouse_table_copier_spark.streaming.incremental import (
        session_window_stats,
    )

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    base = "2024-01-01 00:00:00"
    rows = [
        # user 1: three events, each exactly 1800 s apart -> ONE session
        (1, f"TIMESTAMP_NTZ '{base}'", 1),
        (2, f"TIMESTAMP_NTZ '2024-01-01 00:30:00'", 1),
        (3, f"TIMESTAMP_NTZ '2024-01-01 01:00:00'", 1),
        # user 2: second event 1801 s later -> TWO sessions
        (4, f"TIMESTAMP_NTZ '{base}'", 2),
        (5, f"TIMESTAMP_NTZ '2024-01-01 00:30:01'", 2),
        # sentinel pushes the watermark past everything
        (9, "TIMESTAMP_NTZ '2030-01-01 00:00:00'", 0),
    ]
    df = spark.createDataFrame(
        [(eid, uid) for eid, _, uid in rows], "event_id BIGINT, user_id BIGINT"
    )
    ts_expr = "CASE event_id " + " ".join(
        f"WHEN {eid} THEN {ts}" for eid, ts, _ in rows
    ) + " END"
    df.withColumn("ts", F.expr(ts_expr)).select(
        "event_id", "ts", "user_id"
    ).write.mode("append").parquet(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    session_window_stats(spark, src_dir, schema, out_dir, ck_dir).awaitTermination()

    got = sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.read.parquet(out_dir).where(F.col("user_id") > 0).collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00", 3),   # exact-gap events merged
        (2, "2024-01-01 00:00:00", 1),   # gap+1 split
        (2, "2024-01-01 00:30:01", 1),
    ]


def test_streaming_exact_dedup_across_runs(spark, tmp_path):
    """First-seen-wins dedup must hold WITHIN a run, ACROSS availableNow
    runs (checkpointed state), and agree with batch exact_dedup on which
    contents exist; a genuinely new doc in run 2 still flows through."""
    import datetime

    from clickhouse_table_copier_spark.streaming.dedup import streaming_exact_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def rows(ids_texts, minute):
        return [
            (i, tx, t0 + datetime.timedelta(minutes=minute)) for i, tx in ids_texts
        ]

    # run 1: three distinct contents, one in-batch duplicate (id 4 dups id 1)
    batch1 = rows(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta eta"),
         (4, "alpha  beta   GAMMA")],  # normalizes equal to id 1
        minute=0,
    )
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    q = streaming_exact_dedup(
        spark, src, schema, "text", out, ckpt, ts_col="ts", watermark_delay="1 hour"
    )
    q.awaitTermination()
    got1 = spark.read.parquet(out)
    texts1 = sorted(r["text"] for r in got1.collect())
    assert len(texts1) == 3  # in-batch dup dropped

    # run 2: re-sends two old contents within the watermark + one new
    batch2 = rows(
        [(5, "alpha beta gamma"), (6, "DELTA epsilon"), (7, "brand new doc")],
        minute=10,
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    q = streaming_exact_dedup(
        spark, src, schema, "text", out, ckpt, ts_col="ts", watermark_delay="1 hour"
    )
    q.awaitTermination()
    got2 = spark.read.parquet(out)
    assert got2.count() == 4  # only the new doc appended
    ids = {r["doc_id"] for r in got2.collect()}
    assert 7 in ids and 5 not in ids and 6 not in ids

    # agreement with the batch operator on the union of both batches
    from clickhouse_table_copier_spark.operators.dedup import exact_dedup

    union = spark.createDataFrame(batch1 + batch2, schema)
    batch_groups = exact_dedup(union, "doc_id", "text")
    assert batch_groups.count() == got2.count()


def test_stateful_ewma_matches_batch_fold(spark, tmp_path):
    """The streaming EWMA (GroupState recurrence, state carried across two
    separate time-ordered availableNow runs) lands on exactly the batch
    ordered-fold result — same fold, same doubles."""
    from clickhouse_table_copier_spark.queries import _events
    from clickhouse_table_copier_spark.queries_round5 import q_ewma_user_value
    from clickhouse_table_copier_spark.streaming.stateful import stateful_ewma

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    ev = _events(spark, SF_SMOKE).select("event_id", "ts", "user_id", "value")
    split_us = ev.agg(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)").alias("m")
    ).collect()[0]["m"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    first = ev.where(us <= split_us)
    second = ev.where(us > split_us)
    assert first.count() > 0 and second.count() > 0

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    # run 1: the EARLIER half only; run 2 adds the later half — state must
    # resume mid-series from the checkpoint for the fold to come out right
    first.coalesce(1).write.mode("append").parquet(src_dir)
    stateful_ewma(spark, src_dir, schema, out_dir, ck_dir).awaitTermination()
    second.coalesce(1).write.mode("append").parquet(src_dir)
    stateful_ewma(spark, src_dir, schema, out_dir, ck_dir).awaitTermination()

    hist = spark.read.parquet(out_dir)
    latest = hist.join(
        hist.groupBy("user_id").agg(F.max("batch_seq").alias("batch_seq")),
        ["user_id", "batch_seq"],
    )
    got = {
        r["user_id"]: (r["n_events"], r["ewma"]) for r in latest.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in q_ewma_user_value(spark, SF_SMOKE).collect()
    }
    assert got == want
