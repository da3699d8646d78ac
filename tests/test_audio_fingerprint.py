"""Audio fingerprint + near-dup: synthesized PCM WAVs with known
structure — identical copies pair at full containment, hop-aligned
trims pair by containment, unrelated clips never pair, and the
silence hot-hash cap kills the quadratic impostor set (the video
near-dup's planted-black-frame test, transposed to audio)."""

import struct

import pytest

import numpy as np

from clickhouse_table_copier_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_fingerprint,
    near_duplicate_audio,
)

# Driver-gate lane split (r17): SLOW lane (see pytest.ini) so the
# default gate completes inside the driver's verify budget; run with
#   python -m pytest tests/ -m slow -q
pytestmark = pytest.mark.slow

_SR = 8000
_WIN, _HOP = 512, 256


def _wav(samples: np.ndarray, sr: int = _SR) -> bytes:
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def _noise(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(0, 0.3, n)


def _media(rows):
    return [(i, "audio", bytearray(_wav(s)), "{}") for i, s in rows]


def test_fingerprint_shape_and_determinism(spark):
    x = _noise(1, _SR * 2)
    df = spark.createDataFrame(
        _media([(1, x), (2, x)]), MEDIA_SCHEMA
    )
    rows = audio_fingerprint(df, window=_WIN, hop=_HOP).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], {})[r["frame_idx"]] = r["fhash"]
    assert by_id[1] == by_id[2]  # bit-for-bit deterministic
    n_frames = (len(x) - _WIN) // _HOP + 1
    assert len(by_id[1]) == n_frames - 1  # one hash per frame PAIR


def test_volume_change_keeps_most_hashes(spark):
    """The descriptor is sign-of-energy-delta — scale-invariant in
    exact arithmetic, so a volume change only flips bits whose delta
    sits at zero BEFORE int16 requantization perturbs it.  Measured:
    28/29 frames identical at 0.25× and 0.05× gain; the containment
    threshold (not exact identity) is what matching relies on."""
    x = _noise(2, _SR)
    df = spark.createDataFrame(
        _media([(1, x), (2, x * 0.25)]), MEDIA_SCHEMA
    )
    rows = audio_fingerprint(df, window=_WIN, hop=_HOP).collect()
    a = {r["frame_idx"]: r["fhash"] for r in rows if r["media_id"] == 1}
    b = {r["frame_idx"]: r["fhash"] for r in rows if r["media_id"] == 2}
    assert len(a) == len(b) > 20
    same = sum(1 for k in a if a[k] == b.get(k))
    assert same / len(a) >= 0.9


def test_near_duplicate_trimmed_copy_pairs(spark):
    full = _noise(3, _SR * 2)
    trimmed = full[: len(full) // 2 // _HOP * _HOP]  # hop-aligned cut
    other = _noise(999, _SR * 2)
    df = spark.createDataFrame(
        _media([(1, full), (2, trimmed), (3, other)]), MEDIA_SCHEMA
    )
    pairs = {
        (r["media_a"], r["media_b"]): r
        for r in near_duplicate_audio(
            df, window=_WIN, hop=_HOP, min_shared_ppm=900_000
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)]["containment_ppm"] >= 900_000


def test_silence_hot_hash_cap(spark):
    """Ten clips sharing a long silence (the all-zero hash) plus a tiny
    unique tail: uncapped, silence alone pairs them; with ``max_df``
    the impostors vanish while a genuine duplicate pair survives at
    full containment."""
    silence = np.zeros(_SR)
    rows = []
    for i in range(10):
        rows.append((i, np.concatenate([silence, _noise(100 + i, _HOP * 4)])))
    dup = np.concatenate([silence, _noise(500, _HOP * 4)])
    rows += [(100, dup), (101, dup)]
    df = spark.createDataFrame(_media(rows), MEDIA_SCHEMA)

    uncapped = near_duplicate_audio(
        df, window=_WIN, hop=_HOP, min_shared_ppm=100_000
    ).collect()
    assert len(uncapped) > 20  # the silence-hash quadratic impostor set

    capped = {
        (r["media_a"], r["media_b"]): r
        for r in near_duplicate_audio(
            df, window=_WIN, hop=_HOP, min_shared_ppm=500_000, max_df=3
        ).collect()
    }
    assert set(capped) == {(100, 101)}
    r = capped[(100, 101)]
    assert r["containment_ppm"] >= 500_000  # sizes still count silence


def test_undecodable_blobs_emit_nothing(spark):
    df = spark.createDataFrame(
        [(1, "audio", bytearray(b"not audio at all"), "{}")], MEDIA_SCHEMA
    )
    assert audio_fingerprint(df).collect() == []


def _avi_with_audio(frames, w, h, samples, sr=_SR, fps=10):
    """AVI with a video stream (00dc MJPEG) and a PCM auds stream
    (01wb chunks), declared via proper strl headers."""
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    usec = 1_000_000 // fps
    avih = struct.pack("<10I", usec, 0, 0, 0, len(frames), 0, 2, 0, w, h) + b"\x00" * 16
    strh_v = b"vids" + b"MJPG" + b"\x00" * 48
    strf_v = struct.pack("<IiiHH4sIIIII", 40, w, h, 1, 24, b"MJPG", 0, 0, 0, 0, 0)
    strh_a = b"auds" + b"\x00" * 52
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    strf_a = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
        + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a)),
    )
    # interleave: all frames, then the audio in two 01wb chunks (a
    # chunk boundary inside the PCM must not perturb the fingerprint)
    half = (len(pcm) // 4) * 2  # even: never split a 16-bit sample
    movi = lst(
        b"movi",
        b"".join(chunk(b"00dc", f) for f in frames)
        + chunk(b"01wb", pcm[:half])
        + chunk(b"01wb", pcm[half:]),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_video_frames_decode_beside_audio_track(spark):
    """An AVI interleaving a PCM audio stream (``01wb`` chunks) with its
    MJPEG frames: the frame walk takes the visual stream only, so all
    three frames decode."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        video_frame_features,
    )
    from tests.test_jpeg_decode import encode_baseline_jpeg

    rng = np.random.default_rng(7)
    imgs = [
        rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(3)
    ]
    avi = _avi_with_audio(
        [encode_baseline_jpeg(im) for im in imgs], 16, 16, _noise(42, _SR * 2)
    )
    vdf = spark.createDataFrame(
        [(1, "video", bytearray(avi), "{}")], MEDIA_SCHEMA
    )
    idxs = sorted(r["frame_idx"] for r in video_frame_features(vdf).collect())
    assert idxs == [0, 1, 2]


def test_wave_format_extensible_decodes(spark):
    """WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE): the real format lives in
    the SubFormat GUID's first 16 bits — an extensible PCM file must
    fingerprint identically to its plain-PCM twin."""
    x = _noise(13, _SR)
    pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2").tobytes()
    # KSDATAFORMAT_SUBTYPE_PCM = 00000001-0000-0010-8000-00AA00389B71
    guid = struct.pack("<IHH", 1, 0, 0x10) + bytes.fromhex("800000AA00389B71")
    fmt = (
        struct.pack("<HHIIHH", 0xFFFE, 1, _SR, _SR * 2, 2, 16)
        + struct.pack("<HHI", 22, 16, 0x4)  # cbSize, valid bits, chan mask
        + guid
    )
    ext = (
        b"RIFF" + struct.pack("<I", 12 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame(
        [(1, "audio", bytearray(ext), "{}"),
         (2, "audio", bytearray(_wav(x)), "{}")],
        MEDIA_SCHEMA,
    )
    rows = audio_fingerprint(df, window=_WIN, hop=_HOP).collect()
    a = sorted((r["frame_idx"], r["fhash"]) for r in rows if r["media_id"] == 1)
    b = sorted((r["frame_idx"], r["fhash"]) for r in rows if r["media_id"] == 2)
    assert a and a == b


def test_compressed_audio_container_meta(spark):
    """Header metadata for the compressed containers: FLAC STREAMINFO,
    OGG Vorbis + Opus identification headers, MP3 frame header behind
    an ID3v2 tag — hand-built bytes, exact fields."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        decode_audio_meta,
    )

    # FLAC: fLaC + STREAMINFO(type 0, len 34): sr=44100 ch=2 bits=16
    # n_samples=441000 (10 s)
    si = bytearray(34)
    si[0:4] = (1024).to_bytes(2, "big") + (4096).to_bytes(2, "big")
    sr, ch, bits, n = 44100, 2, 16, 441000
    si[10] = (sr >> 12) & 0xFF
    si[11] = (sr >> 4) & 0xFF
    si[12] = ((sr & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)
    si[13] = (((bits - 1) & 0xF) << 4) | ((n >> 32) & 0xF)
    si[14:18] = (n & 0xFFFFFFFF).to_bytes(4, "big")
    flac = b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + bytes(si)

    # OGG/Vorbis: one page, one segment, identification header
    vorb = b"\x01vorbis" + b"\x00\x00\x00\x00" + bytes([2]) + (22050).to_bytes(4, "little") + b"\x00" * 16
    ogg = (
        b"OggS" + b"\x00" * 22 + bytes([1, len(vorb)]) + vorb
    )
    # OGG/Opus
    opus = b"OpusHead" + bytes([1, 2, 0, 0]) + (48000).to_bytes(4, "little") + b"\x00" * 4
    ogg_opus = b"OggS" + b"\x00" * 22 + bytes([1, len(opus)]) + opus

    # MP3: ID3v2 (empty, syncsafe size 0) + MPEG1 Layer III 128kbps
    # 44.1kHz stereo frame header + padding body
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x00"
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 413
    mp3 = id3 + frame * 10

    rows = [
        (1, "audio", bytearray(flac), "{}"),
        (2, "audio", bytearray(ogg), "{}"),
        (3, "audio", bytearray(ogg_opus), "{}"),
        (4, "audio", bytearray(mp3), "{}"),
        (5, "audio", bytearray(b"not audio"), "{}"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_audio_meta(df).collect()}
    r1 = got[1]
    assert (r1["sample_rate"], r1["channels"], r1["bits"], r1["n_samples"]) == (
        44100, 2, 16, 441000,
    )
    assert abs(r1["duration_s"] - 10.0) < 1e-9
    assert (got[2]["sample_rate"], got[2]["channels"]) == (22050, 2)
    assert (got[3]["sample_rate"], got[3]["channels"]) == (48000, 2)
    r4 = got[4]
    assert (r4["sample_rate"], r4["channels"]) == (44100, 2)
    assert r4["duration_s"] is not None and r4["duration_s"] > 0
    assert got[5]["sample_rate"] is None
