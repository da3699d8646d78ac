"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming (SURVEY §2.8); this is the north-star
extension for event pipelines that need per-key state Spark's built-in
aggregations can't express (custom counters, decayed scores, "first/last
seen" bookkeeping). The pattern demonstrated: per-user lifetime stats
maintained in GroupState across micro-batches AND across separate
``availableNow`` runs (state lives in the checkpoint).

Scale: state is O(active keys), partitioned by key across executors;
Arrow-batched state updates (one pandas call per key-group per batch).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def _make_update_user_stats():
    """Build the state-update function as a CLOSURE, not a module-level
    function: cloudpickle serializes closures by value, while module-level
    functions pickle as an import reference — which breaks on executors
    that don't have this package on their PYTHONPATH (e.g. a driver
    launched from another directory). Applies to every Python UDF in this
    package.
    """

    def update(key, pdfs, state: GroupState):
        # fold this batch's events for one user into GroupState; money in
        # integer cents so updates are exact and order-insensitive
        (user_id,) = key
        if state.exists:
            n, cents, first_ts, last_ts = state.get
        else:
            n, cents, first_ts, last_ts = 0, 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
            lo, hi = pdf["ts"].min(), pdf["ts"].max()
            first_ts = lo if first_ts is None or lo < first_ts else first_ts
            last_ts = hi if last_ts is None or hi > last_ts else last_ts
        state.update((n, cents, first_ts, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value_cents": [cents],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return update


def latest_user_stats(spark: SparkSession, output_dir: str) -> DataFrame:
    """Current per-user stats = the row from each user's highest batch."""
    hist = spark.read.parquet(output_dir)
    w_latest = hist.groupBy("user_id").agg(F.max("batch_seq").alias("batch_seq"))
    return hist.join(w_latest, ["user_id", "batch_seq"]).drop("batch_seq")


EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("init", T.BooleanType()),
    ]
)


def _make_update_ewma(alpha: float):
    """Streaming counterpart of the batch ordered-fold EWMA
    (queries_round5.q_ewma_user_value): the recurrence s ← α·x + (1−α)·s
    carried in GroupState across micro-batches. Within a batch the
    key-group is sorted by (ts, event_id) before folding; across batches
    the caller must deliver files in event-time order (the test drives
    one time-ordered file per trigger) — with an out-of-order source,
    front this operator with a watermark-sorted window, as the interval
    join does. Closure, not module-level: see _make_update_user_stats.
    """

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            n, s, init = state.get
        else:
            n, s, init = 0, 0.0, False
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"].astype("float64"):
                x = float(x)
                s = (alpha * x + (1.0 - alpha) * s) if init else x
                init = True
            n += len(pdf)
        state.update((n, s, init))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "ewma": [s]}
        )

    return update


def stateful_ewma(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    output_dir: str,
    checkpoint_dir: str,
    alpha: float = 0.25,
    max_files_per_trigger: int = 1,
):
    """availableNow run folding the per-user EWMA recurrence in GroupState,
    one source file per micro-batch (so cross-batch state carry is
    actually exercised, not collapsed into one batch)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("latestFirst", "false")
        .parquet(source_dir)
    )
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _make_update_ewma(alpha),
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_seq", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    return (
        updated.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters: the k-counter frequency summary
# (Misra & Gries 1982) maintained per key in GroupState across
# micro-batches AND across separate availableNow runs. The summary is
# O(k) per key regardless of stream length, and carries the classical
# guarantee: every token with true frequency > n/k is present in the
# final summary (decrements can only under-count each token by < n/k).
# Consumers therefore use it as a CANDIDATE set and recount candidates
# exactly in batch — the same sketch-then-exact-gate discipline as the
# batch heavy_hitter_terms operator (operators/sketches.py).
# ---------------------------------------------------------------------------
MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("token", T.StringType()),
        T.StructField("mg_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _make_update_misra_gries(k: int):
    """k-counter MG update as a closure (see _make_update_user_stats for
    why closures, not module functions). Tokens within a batch group are
    processed in (doc_id, token) order so a rerun of the same batch
    sequence reproduces the same summary; the FINAL gated output is
    order-independent anyway (any processing order yields a superset of
    the true > n/k heavy hitters)."""

    def update(key, pdfs, state: GroupState):
        (source,) = key
        if state.exists:
            toks, cnts, n = state.get
            summary = dict(zip(toks, cnts))
        else:
            summary, n = {}, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["doc_id", "token"])
            for tok in pdf["token"]:
                n += 1
                if tok in summary:
                    summary[tok] += 1
                elif len(summary) < k - 1:
                    summary[tok] = 1
                else:
                    # decrement-all step: drops every counter by one,
                    # evicting zeros — the O(k) amortized trade that
                    # bounds the summary
                    summary = {t: c - 1 for t, c in summary.items() if c > 1}
        state.update((list(summary.keys()), list(summary.values()), n))
        yield pd.DataFrame(
            {
                "source": [source] * len(summary),
                "token": list(summary.keys()),
                "mg_count": list(summary.values()),
                "n_seen": [n] * len(summary),
            }
        )

    return update


def streaming_misra_gries(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 25,
    max_files_per_trigger: int = 1,
):
    """availableNow run maintaining a per-source MG summary in GroupState,
    one source file per micro-batch so cross-batch (and, driven twice,
    cross-RUN) state carry is actually exercised."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("latestFirst", "false")
        .parquet(source_dir)
    )
    updated = stream.groupBy("source").applyInPandasWithState(
        _make_update_misra_gries(k),
        outputStructType=MG_OUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_seq", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    return (
        updated.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_mg_candidates(spark: SparkSession, output_dir: str) -> DataFrame:
    """Each source's summary from the LAST batch that touched it (update
    mode re-emits the whole summary whenever the group receives data)."""
    out = spark.read.parquet(output_dir)
    last = out.groupBy("source").agg(F.max("batch_seq").alias("batch_seq"))
    return out.join(last, ["source", "batch_seq"]).select(
        "source", "token", "mg_count", "n_seen"
    )
