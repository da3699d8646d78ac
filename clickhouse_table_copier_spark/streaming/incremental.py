"""Incremental (Structured Streaming) variants of the sync pipeline.

The reference is batch-only (SURVEY §2.8): its incremental story is
"re-run the tool; fingerprints skip clean partitions" (copy/copy.go:194-271).
Structured Streaming gives the engine a stronger version of the same idea:
each function here starts an ``availableNow`` query over a directory, which
processes only files added since the last run, and returns the query
handle; callers await termination.

- :func:`windowed_event_counts` — watermarked sliding-window counts over
  the events stream: the standard late-data-tolerant rollup a 100 TB
  event pipeline needs (event-time windows + watermark state eviction).
- :func:`session_window_stats` — session windows per user.
- :func:`incremental_warc_documents`, :func:`incremental_jsonl_documents`
  — crawl and corpus ingest, one shard directory at a time.

State size is O(windows) / O(sessions) / O(shards), never O(rows) — safe
at scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def session_window_stats(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Streaming sessionization via native session windows.

    ``F.session_window(ts, gap)`` merges events within ``gap`` of each
    other into variable-length sessions per user — the streaming
    equivalent of the batch lag/cumsum sessionization (queries_window.
    event_sessions), with watermark-bounded state. Emits one row per
    closed session (append mode).
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(source_dir)
    )
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
):
    """Watermarked event-time window counts over a streamed events table.

    ``append`` mode + watermark: a window's row is emitted exactly once,
    when the watermark passes its end — the standard late-data contract.
    State: one aggregate per open (window, event_type); the watermark
    bounds it.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(source_dir)
    )
    # watermarks require TIMESTAMP (not NTZ); under the engine's fixed UTC
    # session the cast is a deterministic relabeling
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    win = (
        F.window(F.col("ts"), window, slide or window)
        if slide
        else F.window(F.col("ts"), window)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            F.col("value_sum").cast("double").alias("value_sum"),
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_warc_documents(
    spark: SparkSession,
    warc_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    batch_records: int = 256,
    sniff_charset: bool = True,
    max_files_per_trigger: int = 16,
):
    """availableNow incremental crawl ingest: a ``binaryFile``
    file-source stream over a WARC shard directory, expanded and
    charset-decoded by EXACTLY the batch reader's code
    (``sources.warc._make_shard_expander`` + ``responses_to_documents``
    — shared functions, so streaming and batch parse identically), with
    new documents appended to ``output_dir`` as parquet.

    This is how a rolling crawl lands at 100 TB: drop shards into the
    directory, re-run — the checkpoint's file ledger makes each run
    touch ONLY shards added since the last one, and
    ``maxFilesPerTrigger`` bounds a micro-batch to a digestible shard
    count.  State is the file ledger (O(shards seen), never O(records)).
    Returns the query handle; callers await termination."""
    from clickhouse_table_copier_spark.sources.warc import (
        WARC_SCHEMA,
        _make_shard_expander,
        responses_to_documents,
    )

    # streaming file sources require an explicit schema; binaryFile's
    # is fixed by the format
    binary_file_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    shards = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(warc_dir)
    )
    records = shards.select("path", "content").mapInPandas(
        _make_shard_expander(batch_records), WARC_SCHEMA
    )
    docs = responses_to_documents(records, sniff_charset=sniff_charset)
    return (
        docs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def incremental_jsonl_documents(
    spark: SparkSession,
    corpus_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_field: str = "text",
    id_field=None,
    max_files_per_trigger: int = 16,
):
    """availableNow incremental CORPUS ingest — the jsonl twin of
    :func:`incremental_warc_documents` for how public LLM corpora
    actually arrive: new ``.jsonl{.zst,.gz,.xz,.bz2,.lz4}`` shards
    dropped into a directory.  A ``binaryFile`` file-source stream
    decompresses and line-splits each shard with EXACTLY the batch
    reader's code (the ``sources.jsonl`` expander — shared function,
    so streaming and batch parse identically) and appends the
    projected documents to ``output_dir`` as parquet.

    Re-running touches ONLY shards added since the last run (the
    checkpoint's file ledger); ``maxFilesPerTrigger`` bounds a
    micro-batch.  State is the ledger — O(shards), never O(lines).
    Returns the query handle; callers await termination."""
    from clickhouse_table_copier_spark.sources.jsonl import (
        JSONL_SCHEMA,
        _make_line_expander,
        jsonl_to_documents,
    )

    binary_file_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    shards = (
        spark.readStream.format("binaryFile")
        .schema(binary_file_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(corpus_dir)
    )
    lines = shards.select("path", "content").mapInPandas(
        _make_line_expander(), JSONL_SCHEMA
    )
    docs = jsonl_to_documents(
        lines, text_field=text_field, id_field=id_field
    )
    return (
        docs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
