"""WebDataset tar-shard ingest: files on disk → member rows → grouped
samples → the multimodal media contract → real decode, end to end.

Shards are built with stdlib tarfile around the test PNG encoder, so
every byte is known and the final aHash stage proves the ingest path
feeds the same decode pipeline the synthesizer does.
"""

import io
import os
import tarfile

import numpy as np
import pytest

from clickhouse_table_copier_spark.operators.multimodal import (
    encode_png,
    image_ahash,
)
from clickhouse_table_copier_spark.sources.webdataset import (
    group_samples,
    read_webdataset,
    to_media_table,
)


def _shard(path: str, samples: dict[str, dict[str, bytes]]) -> None:
    with tarfile.open(path, "w") as tf:
        for key, parts in samples.items():
            for field, blob in parts.items():
                name = f"{key}.{field}" if field else key
                info = tarfile.TarInfo(name)
                info.size = len(blob)
                tf.addfile(info, io.BytesIO(blob))


def _img(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)


@pytest.fixture(scope="module")
def shard_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wds")
    _shard(
        os.path.join(d, "shard-000.tar"),
        {
            "sample/000": {
                "png": encode_png(_img(0).tobytes(), 16, 16, 3),
                "txt": b"a cat",
                "json": b'{"src":"web"}',
            },
            "sample/001": {
                "png": encode_png(_img(1).tobytes(), 16, 16, 3),
                "txt": b"a dog",
            },
        },
    )
    _shard(
        os.path.join(d, "shard-001.tar"),
        {
            "sample/002": {
                "png": encode_png(_img(2).tobytes(), 16, 16, 3),
                # dotted field name: key splits at the FIRST dot
                "cap.txt": b"a bird",
            },
            "sample/003": {"txt": b"text only, no image"},
        },
    )
    return str(d)


def test_members_expand_with_key_field_split(spark, shard_dir):
    members = read_webdataset(spark, shard_dir)
    rows = members.collect()
    assert len(rows) == 8  # 3 + 2 members in shard-000, 2 + 1 in shard-001
    by = {(r["key"], r["field"]): r for r in rows}
    assert ("sample/000", "png") in by
    assert ("sample/002", "cap.txt") in by  # first-dot split
    assert bytes(by[("sample/000", "txt")]["content"]) == b"a cat"
    # shard column carries provenance
    assert by[("sample/002", "cap.txt")]["shard"].endswith("shard-001.tar")


def test_group_samples_one_row_per_key(spark, shard_dir):
    samples = group_samples(read_webdataset(spark, shard_dir))
    rows = {r["key"]: r for r in samples.collect()}
    assert len(rows) == 4
    assert sorted(rows["sample/000"]["parts"].keys()) == ["json", "png", "txt"]
    assert bytes(rows["sample/001"]["parts"]["txt"]) == b"a dog"


def test_to_media_table_feeds_real_decode(spark, shard_dir):
    """Ingest → contract → aHash: the tar-borne PNG hashes identically
    to the same bytes decoded directly (the ingest path is lossless),
    and the image-less sample drops out."""
    media = to_media_table(
        group_samples(read_webdataset(spark, shard_dir)),
        fields=("png",),
    )
    rows = media.collect()
    assert len(rows) == 3  # sample/003 has no image part
    assert len({r["media_id"] for r in rows}) == 3  # stable distinct ids
    got = image_ahash(media).collect()
    assert all(r["ahash"] is not None for r in got)
    # cross-check one hash against the direct (non-tar) path
    from clickhouse_table_copier_spark.operators.multimodal import MEDIA_SCHEMA

    direct = spark.createDataFrame(
        [(99, "image", bytearray(encode_png(_img(0).tobytes(), 16, 16, 3)), "{}")],
        MEDIA_SCHEMA,
    )
    want = image_ahash(direct).collect()[0]["ahash"]
    meta = {r["media_id"]: r["meta_json"] for r in rows}
    id_000 = next(
        mid for mid, mj in meta.items() if '"key":"sample/000"' in mj
    )
    got_000 = next(r["ahash"] for r in image_ahash(media).collect()
                   if r["media_id"] == id_000)
    assert got_000 == want


def test_reingest_is_deterministic(spark, shard_dir):
    a = to_media_table(group_samples(read_webdataset(spark, shard_dir)))
    b = to_media_table(group_samples(read_webdataset(spark, shard_dir)))
    ids_a = sorted(r["media_id"] for r in a.collect())
    ids_b = sorted(r["media_id"] for r in b.collect())
    assert ids_a == ids_b


def test_write_webdataset_roundtrip(spark, shard_dir, tmp_path):
    """Write half of the round trip: grouped samples → tar shards →
    re-read gives back exactly the same (key, field, bytes) set."""
    from clickhouse_table_copier_spark.sources.webdataset import (
        write_webdataset,
    )

    samples = group_samples(read_webdataset(spark, shard_dir))
    out_dir = str(tmp_path / "out")
    shards = write_webdataset(samples, out_dir, n_shards=3)
    assert shards and all(s.endswith(".tar") for s in shards)

    back = read_webdataset(spark, out_dir)
    orig = {
        (r["key"], r["field"]): bytes(r["content"])
        for r in read_webdataset(spark, shard_dir).collect()
    }
    got = {
        (r["key"], r["field"]): bytes(r["content"]) for r in back.collect()
    }
    assert got == orig
    # a sample's fields never split across shards
    placement = {}
    for r in back.collect():
        placement.setdefault(r["key"], set()).add(r["shard"])
    assert all(len(s) == 1 for s in placement.values())


def test_duplicate_member_names_take_last(spark, tmp_path):
    """Tar permits repeated member names (later supersedes); one odd
    shard must not fail the ingest with a duplicate-map-key error."""
    p = str(tmp_path / "dup.tar")
    with tarfile.open(p, "w") as tf:
        for blob in (b"old text", b"new text"):
            info = tarfile.TarInfo("s/1.txt")
            info.size = len(blob)
            tf.addfile(info, io.BytesIO(blob))
    samples = group_samples(read_webdataset(spark, p)).collect()
    assert len(samples) == 1
    assert bytes(samples[0]["parts"]["txt"]) == b"new text"


def test_entropy_mode_mix_in_one_shard_dedups(spark, tmp_path):
    """Cross-layer: one tar shard carrying the SAME image as baseline
    Huffman, arithmetic-sequential (SOF9), and arithmetic-progressive
    (SOF10) JPEGs — the full path (tar → samples → media table → real
    decode → aHash) must put all three in one dedup bucket.  This is
    the corpus-scale invariant: a crawl's mix of encoders must never
    split a duplicate cluster."""
    from tests.test_jpeg_arith import (
        encode_arith_progressive,
        encode_arith_sequential,
    )
    from tests.test_jpeg_decode import encode_baseline_jpeg

    img = _img(99)
    other = _img(123)
    d = tmp_path / "mix"
    d.mkdir()
    _shard(
        str(d / "shard-0.tar"),
        {
            "a": {"jpg": encode_baseline_jpeg(img)},
            "b": {"jpg": encode_arith_sequential(img)},
            "c": {"jpg": encode_arith_progressive(img)},
            "d": {"jpg": encode_baseline_jpeg(other)},
        },
    )
    media = to_media_table(group_samples(read_webdataset(spark, str(d))))
    rows = image_ahash(media).collect()
    assert len(rows) == 4
    from collections import Counter

    buckets = Counter(r["ahash"] for r in rows)
    assert sorted(buckets.values()) == [1, 3]
