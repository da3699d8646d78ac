"""MJPEG/AVI: the one video format whose FRAMES decode for real.

The AVI writer lives test-side (like the JPEG encoders): a minimal
RIFF/AVI with an avih header and a movi list of 00dc chunks, each a
baseline JPEG from the test encoder — so every frame's pixels are
known, and the frame pipeline (sample → JPEG decode → luma + aHash)
verifies against the image pipeline on the same content.
"""

import struct

import numpy as np

from clickhouse_table_copier_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _make_avi_parser,
    image_ahash,
    video_frame_features,
)
from tests.test_jpeg_decode import encode_baseline_jpeg


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _riff_list(ltype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + body)


def make_mjpeg_avi(frames: list, w: int, h: int, fps: int = 10) -> bytes:
    usec = 1_000_000 // fps
    avih = struct.pack(
        "<10I", usec, 0, 0, 0, len(frames), 0, 1, 0, w, h
    ) + b"\x00" * 16
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih))
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _img(seed: int, w=16, h=16) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_avi_meta_parses():
    frames = [encode_baseline_jpeg(_img(i)) for i in range(6)]
    avi = make_mjpeg_avi(frames, 16, 16, fps=10)
    parse = _make_avi_parser()
    usec, total, streams, w, h, got = parse(avi)
    assert (w, h) == (16, 16)
    assert usec * total == 600_000  # 6 frames at 10 fps
    assert streams == 1
    assert got == frames
    assert parse(b"not a video") is None  # decline, don't fabricate


def test_frame_features_match_image_pipeline(spark):
    """A video frame and the identical still image produce the SAME
    aHash — video↔image dedup across containers."""
    imgs = [_img(i) for i in range(4)]
    frames = [encode_baseline_jpeg(im) for im in imgs]
    avi = make_mjpeg_avi(frames, 16, 16)
    vdf = spark.createDataFrame(
        [(1, "video", bytearray(avi), '{"fmt":"avi"}')], MEDIA_SCHEMA
    )
    got = {
        r["frame_idx"]: r for r in video_frame_features(vdf).collect()
    }
    assert sorted(got) == [0, 1, 2, 3]
    stills = spark.createDataFrame(
        [(i, "image", bytearray(frames[i]), "{}") for i in range(4)],
        MEDIA_SCHEMA,
    )
    want = {r["media_id"]: r["ahash"] for r in image_ahash(stills).collect()}
    for i in range(4):
        assert got[i]["ahash"] == want[i], i
        assert (got[i]["width"], got[i]["height"]) == (16, 16)


def test_frame_sampling_every_n(spark):
    frames = [encode_baseline_jpeg(_img(i)) for i in range(10)]
    avi = make_mjpeg_avi(frames, 16, 16)
    vdf = spark.createDataFrame(
        [(1, "video", bytearray(avi), "{}")], MEDIA_SCHEMA
    )
    idxs = sorted(
        r["frame_idx"] for r in video_frame_features(vdf, every_n=3).collect()
    )
    assert idxs == [0, 3, 6, 9]


def test_scene_change_visible_in_hash_sequence(spark):
    """A planted scene cut flips the frame-hash sequence exactly once —
    the signal a scene-change detector thresholds on."""
    dark = np.full((16, 16, 3), 20, dtype=np.uint8)
    dark[:8, :8] = 60  # structure so the hash isn't degenerate
    bright = np.full((16, 16, 3), 220, dtype=np.uint8)
    bright[8:, 8:] = 160
    frames = [encode_baseline_jpeg(dark)] * 3 + [
        encode_baseline_jpeg(bright)
    ] * 3
    avi = make_mjpeg_avi(frames, 16, 16)
    vdf = spark.createDataFrame(
        [(1, "video", bytearray(avi), "{}")], MEDIA_SCHEMA
    )
    hs = [
        r["ahash"]
        for r in sorted(
            video_frame_features(vdf).collect(),
            key=lambda r: r["frame_idx"],
        )
    ]
    changes = sum(1 for a, b in zip(hs, hs[1:]) if a != b)
    assert changes == 1
    assert hs[0] == hs[1] == hs[2] and hs[3] == hs[4] == hs[5]


def test_rec_sublists_and_header_only_parse(spark):
    """Interleaved AVIs wrap frames in LIST 'rec ' sub-lists — the
    frame walk must descend into them, and the header still parses."""
    frames = [encode_baseline_jpeg(_img(i)) for i in range(3)]
    usec = 100_000
    avih = struct.pack("<10I", usec, 0, 0, 0, 3, 0, 1, 0, 16, 16) + b"\x00" * 16
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih))
    recs = b"".join(
        _riff_list(b"rec ", _riff_chunk(b"00dc", f)) for f in frames
    )
    movi = _riff_list(b"movi", recs)
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    vdf = spark.createDataFrame(
        [(1, "video", bytearray(avi), "{}")], MEDIA_SCHEMA
    )
    idxs = sorted(r["frame_idx"] for r in video_frame_features(vdf).collect())
    assert idxs == [0, 1, 2]
    assert _make_avi_parser()(avi) == (usec, 3, 1, 16, 16, frames)


def test_near_duplicate_videos(spark):
    """A trimmed copy pairs with its original (full containment); an
    unrelated video pairs with neither."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        near_duplicate_videos,
    )

    imgs = [_img(i) for i in range(6)]
    full = make_mjpeg_avi([encode_baseline_jpeg(im) for im in imgs], 16, 16)
    trimmed = make_mjpeg_avi(
        [encode_baseline_jpeg(im) for im in imgs[:3]], 16, 16
    )
    other = make_mjpeg_avi(
        [encode_baseline_jpeg(_img(100 + i)) for i in range(4)], 16, 16
    )
    df = spark.createDataFrame(
        [
            (1, "video", bytearray(full), "{}"),
            (2, "video", bytearray(trimmed), "{}"),
            (3, "video", bytearray(other), "{}"),
        ],
        MEDIA_SCHEMA,
    )
    pairs = {
        (r["media_a"], r["media_b"]): r
        for r in near_duplicate_videos(df).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)]["containment_ppm"] == 1_000_000  # fully contained
    assert pairs[(1, 2)]["n_a"] == 6 and pairs[(1, 2)]["n_b"] == 3


def test_near_duplicate_videos_hot_hash_cap(spark):
    """The scale lever (SCALE.md): ONE ubiquitous frame — a black/intro
    card shared by k videos — must not turn the candidate join
    quadratic.  50 otherwise-unrelated videos share a black frame;
    uncapped that is 50·49/2 = 1225 candidate pairs (each at full
    containment on the 1-of-2 shared hash, so they'd ALL pass the
    500000 ppm gate — 1225 false dup pairs).  With ``max_df`` set the
    hot hash is dropped from BOTH join sides, the impostors vanish,
    and a genuine duplicate pair (df = 2 ≤ cap on every shared hash)
    still surfaces at exact full containment."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        near_duplicate_videos,
    )

    black = np.zeros((16, 16, 3), dtype=np.uint8)
    black[:8, :] = 40  # structure so the hash isn't degenerate
    black_jpg = encode_baseline_jpeg(black)
    rows = []
    for i in range(50):
        avi = make_mjpeg_avi(
            [black_jpg, encode_baseline_jpeg(_img(1000 + i))], 16, 16
        )
        rows.append((i, "video", bytearray(avi), "{}"))
    # a real duplicate pair: same two (unique) frames, ids 100/101
    dup_frames = [encode_baseline_jpeg(_img(2000 + j)) for j in range(2)]
    for mid in (100, 101):
        rows.append(
            (mid, "video", bytearray(make_mjpeg_avi(dup_frames, 16, 16)), "{}")
        )
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    capped = {
        (r["media_a"], r["media_b"]): r
        for r in near_duplicate_videos(df, max_df=5).collect()
    }
    assert set(capped) == {(100, 101)}, (
        "hot-hash cap must kill the 1225 black-frame impostor pairs "
        "and keep the genuine duplicate"
    )
    r = capped[(100, 101)]
    # sizes count EVERY hash (cap only prunes the join side), so the
    # genuine pair keeps exact full containment
    assert (r["shared"], r["n_a"], r["n_b"]) == (2, 2, 2)
    assert r["containment_ppm"] == 1_000_000

    # uncapped on a small slice: the blowup is real, not hypothetical —
    # 6 black-frame videos emit all 15 impostor pairs
    small = spark.createDataFrame(rows[:6], MEDIA_SCHEMA)
    uncapped = near_duplicate_videos(small).collect()
    assert len(uncapped) == 15
