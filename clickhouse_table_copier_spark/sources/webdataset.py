"""WebDataset / tar-shard ingest for multimodal training data.

The multimodal operators (``operators/multimodal.py``) consume a
``(media_id, kind, content, meta_json)`` frame; real corpora arrive as
directories of tar shards in the WebDataset convention — members named
``<key>.<field>`` (e.g. ``000123.jpg``, ``000123.txt``,
``000123.json``), one sample per key, many samples per shard, many
shards per dataset.  This module is the REAL ingest seam between "files
on storage" and the decode pipeline:

- :func:`read_webdataset` — tar shards → one row per member
  ``(shard, key, field, content)``.
- :func:`group_samples` — member rows → one row per sample with a
  ``map<field, binary>`` of its parts.
- :func:`to_media_table` — samples → the multimodal operators' input
  contract, choosing the first present field from a priority list.
- :func:`write_webdataset` — the egress half: curated samples back to
  tar shards (hash-partitioned by key, one streaming tar per task).

Scale shape (100 TB): ``spark.read.format("binaryFile")`` yields ONE row
per shard, so each task expands one shard with stdlib ``tarfile`` from
an in-memory buffer — the standard WebDataset execution model (a shard
is the unit of parallelism; size shards ~1 GB so a 100 TB corpus is
~100k tasks).  Honest per-task memory floor: ``binaryFile``
materializes the ENTIRE shard as one row's ``content`` before
``mapInPandas`` sees it, so the floor is (whole shard resident) + (one
extracted member) + (one emitted Arrow batch = one shard's members) —
the batch-per-shard yield bounds the pandas side, not the input side.
Size shards so that floor fits executor memory: ~1 GB shards are
comfortable on standard 4-8 GB-per-task executors; 10 GB shards are
not.  ``group_samples`` shuffles once on
(shard, key); keys never span shards in the WebDataset convention, so
the groupBy is shard-local in spirit and AQE coalesces the small
post-shuffle partitions.

Reference parity: the reference engine (noperformance/clickhouse-table-copier,
database/database.go) reads only SQL tables; binary
ingest is part of the north-star LLM-pipeline surface (SURVEY.md §2.8),
not a reference port.
"""

from __future__ import annotations

import io
import tarfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("member_idx", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read tar shards under ``path`` (a file, directory, or glob the
    ``binaryFile`` source accepts) into one row per tar member:
    ``(shard, key, field, content)``.

    WebDataset naming: ``key`` is the member name up to the FIRST dot
    of the basename, ``field`` everything after it (so ``a/b.cap.txt``
    → key ``a/b``, field ``cap.txt``); members with no dot get field
    ``""``.  Directories and other non-file members are skipped.
    Non-tar shards raise — a corrupt shard in an ingest listing is an
    error to surface, not data to silently drop.
    """

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                shards, idxs, keys, fields, blobs = [], [], [], [], []
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(content)), mode="r:*"
                ) as tf:
                    for i, m in enumerate(tf):
                        if not m.isfile():
                            continue
                        f = tf.extractfile(m)
                        if f is None:
                            continue
                        name = m.name
                        base_start = name.rfind("/") + 1
                        dot = name.find(".", base_start)
                        if dot == -1:
                            key, field = name, ""
                        else:
                            key, field = name[:dot], name[dot + 1 :]
                        shards.append(path_)
                        idxs.append(i)
                        keys.append(key)
                        fields.append(field)
                        blobs.append(bytearray(f.read()))
                # one batch per shard: peak memory = one shard's members
                yield pd.DataFrame(
                    {
                        "shard": shards,
                        "member_idx": idxs,
                        "key": keys,
                        "field": fields,
                        "content": blobs,
                    }
                )

    shards_df = spark.read.format("binaryFile").load(path)
    return shards_df.select("path", "content").mapInPandas(
        expand, MEMBER_SCHEMA
    )


def group_samples(members: DataFrame) -> DataFrame:
    """Member rows → one row per sample: ``(shard, key,
    parts map<field, binary>)``.  Two shuffles — (shard, key, field)
    for the duplicate collapse, then (shard, key) — both map-side
    combinable; fields within a sample are metadata-sized.  Tar
    legally permits repeated member names (the later entry supersedes)
    — a duplicated field takes the LAST occurrence by member position,
    rather than tripping map_from_arrays' duplicate-key error and
    failing the whole ingest over one odd shard."""
    last = members.groupBy("shard", "key", "field").agg(
        F.max_by("content", "member_idx").alias("content")
    )
    return last.groupBy("shard", "key").agg(
        F.map_from_arrays(
            F.collect_list("field"), F.collect_list("content")
        ).alias("parts")
    )


def write_webdataset(
    samples: DataFrame, path: str, n_shards: int = 8
) -> list:
    """Egress: sample rows ``(key, parts map<field, binary>)`` → tar
    shards at ``path`` (``shard-00000.tar`` …), the write half of the
    WebDataset round trip (curated/filtered samples back to the shard
    format trainers stream).

    Samples hash-partition by key into exactly ``n_shards`` tasks; each
    task streams ITS partition into one tar via stdlib tarfile with
    ``w|`` (pipe mode: sequential write, no seeking, so memory is one
    member at a time, not one shard).  Within a shard, members write in
    key order per arriving batch; a sample's fields stay adjacent (the
    WebDataset contract readers rely on).  Returns the shard file names
    written.  ``path`` must be a directory visible to the executors —
    local/NFS/fuse; on object storage a real deployment writes to the
    mount or uploads the closed shard.

    Write atomicity (shared scaffold, :mod:`sources.shard_io`):
    each task streams to a task-ATTEMPT-unique temp
    name and ``os.replace``\\ s it over the final ``shard-NNNNN.tar``
    only after the tar closes cleanly, so a retried or speculative
    attempt never interleaves with (or truncates under) a sibling —
    readers observe either the previous complete shard or the new
    complete shard, never a partial one.  The directory is also created
    inside the task (executors need not share the driver's filesystem
    view of a fresh run directory).
    """
    from clickhouse_table_copier_spark.sources.shard_io import (
        write_shards,
    )

    parted = samples.repartition(n_shards, "key").select("key", "parts")

    def write_fn(batches: Iterator[pd.DataFrame], tmp: str) -> int:
        n = 0
        with tarfile.open(tmp, "w|") as tf:
            for pdf in batches:
                order = pdf["key"].argsort(kind="stable")
                for i in order:
                    key, parts = pdf["key"].iloc[i], pdf["parts"].iloc[i]
                    for field in sorted(parts):
                        blob = bytes(parts[field])
                        name = f"{key}.{field}" if field else key
                        info = tarfile.TarInfo(name)
                        info.size = len(blob)
                        tf.addfile(info, io.BytesIO(blob))
                        n += 1
        return n

    return write_shards(parted, path, ".tar", write_fn)


def to_media_table(
    samples: DataFrame,
    fields: tuple = ("jpg", "jpeg", "png", "gif", "bmp"),
    kind: str = "image",
) -> DataFrame:
    """Samples → the multimodal operators' ``(media_id, kind, content,
    meta_json)`` contract.  ``content`` is the first present field from
    ``fields`` (NULL-content rows are dropped — a sample with no image
    part has nothing to decode); ``media_id`` is a deterministic
    xxhash64 of (shard, key) so re-ingest is stable; ``meta_json``
    carries the provenance the decode stages preserve."""
    content = F.coalesce(
        *[F.col("parts").getItem(f) for f in fields]
    ).alias("content")
    return (
        samples.select(
            F.xxhash64("shard", "key").alias("media_id"),
            F.lit(kind).alias("kind"),
            content,
            F.to_json(
                F.struct(
                    F.col("shard").alias("shard"), F.col("key").alias("key")
                )
            ).alias("meta_json"),
        )
        .where(F.col("content").isNotNull())
    )
