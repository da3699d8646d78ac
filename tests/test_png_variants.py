"""PNG variant coverage for the pure-Python raster decoder.

The reference pipeline treats images as opaque binaries with typed
metadata (SURVEY.md §2.8); our decode stage must accept what real
corpora contain.  Beyond the 8-bit gray/RGB/RGBA sequential streams the
round-5 decoder covered, real PNGs use palettes (color type 3),
gray+alpha (4), bit depths 1/2/4/16, and Adam7 interlacing — this file
pins the full matrix with hand-packed fixtures (KNOWN pixel values, no
external image library anywhere) and the cross-variant identity that
makes dedup work: THE SAME image must produce THE SAME raster whatever
container variant carries it.
"""

import struct
import zlib

import numpy as np

from clickhouse_table_copier_spark.operators.multimodal import (
    _make_png_decoder,
    _make_png_raster_decoder,
    encode_png,
)

decode_raster = _make_png_raster_decoder()
decode_means = _make_png_decoder()

ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)


def make_png(
    w, h, depth, color, raw, plte=None, trns=None, interlace=0
) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _pack_row(values, depth) -> bytes:
    """Bit-pack one scanline of sub-8-bit samples, MSB-first, byte-padded."""
    bits = []
    for v in values:
        bits += [(int(v) >> k) & 1 for k in range(depth - 1, -1, -1)]
    return np.packbits(np.array(bits, dtype=np.uint8)).tobytes()


def _filter_sub(row: bytes, bpp: int) -> bytes:
    """Apply PNG filter type 1 (Sub) — exercises the decoder's unfilter
    path on fixtures, not just filter-0 streams."""
    out = bytearray(row)
    for i in range(len(row) - 1, bpp - 1, -1):
        out[i] = (out[i] - row[i - bpp]) & 0xFF
    return bytes(out)


def test_palette_png_decodes_to_rgb():
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (6, 3), dtype=np.uint8)
    idx = rng.integers(0, 6, (7, 9), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(7))
    got = decode_raster(make_png(9, 7, 8, 3, raw, plte=pal.tobytes()))
    assert got is not None and got[:3] == (9, 7, 3)
    assert np.array_equal(got[3], pal[idx])


def test_palette_4bit_and_trns_alpha():
    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, (6, 5), dtype=np.uint8)
    raw = b"".join(b"\x00" + _pack_row(idx[y], 4) for y in range(6))
    trns = bytes([10, 255, 30])  # entries past the table default to 255
    got = decode_raster(
        make_png(5, 6, 4, 3, raw, plte=pal.tobytes(), trns=trns)
    )
    assert got is not None and got[:3] == (5, 6, 4)
    assert np.array_equal(got[3][:, :, :3], pal[idx])
    exp_a = np.array([10, 255, 30, 255, 255], dtype=np.uint8)[idx]
    assert np.array_equal(got[3][:, :, 3], exp_a)


def test_gray_subbyte_depths_scale_to_8bit():
    rng = np.random.default_rng(13)
    for depth in (1, 2, 4):
        hi = 1 << depth
        g = rng.integers(0, hi, (4, 11), dtype=np.uint8)
        raw = b"".join(b"\x00" + _pack_row(g[y], depth) for y in range(4))
        got = decode_raster(make_png(11, 4, depth, 0, raw))
        assert got is not None and got[:3] == (11, 4, 1), depth
        exp = (g.astype(int) * 255 // (hi - 1)).astype(np.uint8)
        assert np.array_equal(got[3][:, :, 0], exp), depth


def test_gray16_and_rgb16_reduce_to_high_byte():
    rng = np.random.default_rng(14)
    g16 = rng.integers(0, 65536, (6, 8), dtype=np.uint16)
    raw = b"".join(b"\x00" + g16[y].astype(">u2").tobytes() for y in range(6))
    got = decode_raster(make_png(8, 6, 16, 0, raw))
    assert got is not None and got[:3] == (8, 6, 1)
    assert np.array_equal(got[3][:, :, 0], (g16 >> 8).astype(np.uint8))

    rgb16 = rng.integers(0, 65536, (4, 5, 3), dtype=np.uint16)
    raw = b"".join(
        b"\x00" + rgb16[y].astype(">u2").tobytes() for y in range(4)
    )
    got = decode_raster(make_png(5, 4, 16, 2, raw))
    assert got is not None and got[:3] == (5, 4, 3)
    assert np.array_equal(got[3], (rgb16 >> 8).astype(np.uint8))


def test_gray_alpha_expands_to_rgba():
    rng = np.random.default_rng(15)
    ga = rng.integers(0, 256, (5, 5, 2), dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(5))
    got = decode_raster(make_png(5, 5, 8, 4, raw))
    assert got is not None and got[:3] == (5, 5, 4)
    for c in range(3):
        assert np.array_equal(got[3][:, :, c], ga[:, :, 0])
    assert np.array_equal(got[3][:, :, 3], ga[:, :, 1])


def _adam7_stream(img: np.ndarray, sample_bytes) -> bytes:
    """Interleave an (h, w, nch) image into the seven-pass Adam7 stream
    (filter 0 rows); ``sample_bytes(row)`` serializes one pass row."""
    h, w = img.shape[:2]
    stream = bytearray()
    for x0, y0, dx, dy in ADAM7:
        sub = img[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        for y in range(ph):
            stream += b"\x00" + sample_bytes(sub[y])
    return bytes(stream)


def test_adam7_rgb_matches_sequential():
    """The SAME image in sequential and Adam7 containers must produce
    the SAME raster — the identity cross-container dedup relies on."""
    rng = np.random.default_rng(16)
    img = rng.integers(0, 256, (13, 10, 3), dtype=np.uint8)
    seq = decode_raster(encode_png(img.tobytes(), 10, 13, 3))
    inter = decode_raster(
        make_png(
            10, 13, 8, 2,
            _adam7_stream(img, lambda r: r.tobytes()),
            interlace=1,
        )
    )
    assert seq is not None and inter is not None
    assert seq[:3] == inter[:3] == (10, 13, 3)
    assert np.array_equal(seq[3], inter[3]) and np.array_equal(seq[3], img)


def test_adam7_gray16():
    rng = np.random.default_rng(17)
    g16 = rng.integers(0, 65536, (6, 9), dtype=np.uint16)
    raw = _adam7_stream(
        g16[:, :, None], lambda r: r[:, 0].astype(">u2").tobytes()
    )
    got = decode_raster(make_png(9, 6, 16, 0, raw, interlace=1))
    assert got is not None and got[:3] == (9, 6, 1)
    assert np.array_equal(got[3][:, :, 0], (g16 >> 8).astype(np.uint8))


def test_sub_filter_on_16bit_uses_two_byte_bpp():
    """Filter offsets are in BYTES per pixel: a 16-bit gray Sub-filtered
    row must unfilter with bpp=2, not 1."""
    rng = np.random.default_rng(18)
    g16 = rng.integers(0, 65536, (3, 7), dtype=np.uint16)
    rows = []
    for y in range(3):
        row = g16[y].astype(">u2").tobytes()
        rows.append(b"\x01" + _filter_sub(row, 2))
    got = decode_raster(make_png(7, 3, 16, 0, b"".join(rows)))
    assert got is not None
    assert np.array_equal(got[3][:, :, 0], (g16 >> 8).astype(np.uint8))


def test_means_decoder_covers_variants():
    """The channel-means decoder (used by image_pixel_stats) rides the
    raster decoder, so the new variants flow through it too."""
    pal = np.array([[100, 0, 0], [0, 200, 0]], dtype=np.uint8)
    idx = np.array([[0, 1], [1, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    got = decode_means(make_png(2, 2, 8, 3, raw, plte=pal.tobytes()))
    assert got is not None and got[:3] == (2, 2, 3)
    assert abs(got[3][0] - 50.0) < 1e-9
    assert abs(got[3][1] - 100.0) < 1e-9
    assert abs(got[3][2] - 0.0) < 1e-9


def test_spec_forbidden_combinations_decline():
    # 16-bit palette and sub-8-bit RGB are illegal per the PNG spec —
    # decline rather than guess
    raw = b"\x00\x00"
    assert decode_raster(make_png(1, 1, 16, 3, raw, plte=b"\x00\x00\x00")) is None
    assert decode_raster(make_png(1, 1, 4, 2, raw)) is None
    # palette stream without a PLTE chunk is undecodable
    assert decode_raster(make_png(1, 1, 8, 3, b"\x00\x07")) is None
    # index past the palette end: corrupt, decline
    bad = make_png(1, 1, 8, 3, b"\x00\x05", plte=b"\x01\x02\x03")
    assert decode_raster(bad) is None


def test_gif_interlaced_matches_sequential():
    """An interlaced GIF carries rows in the four-pass order; the
    decoder must scatter them back so the raster equals the sequential
    encoding of the same image (cross-container identity)."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_gif_raster_decoder,
    )
    from tests.test_pipeline_ops import _gif_bytes, _lzw_encode

    dec = _make_gif_raster_decoder()
    rng = np.random.default_rng(21)
    h, w = 13, 6
    img_idx = rng.integers(0, 4, (h, w), dtype=np.uint8)
    palette = bytes(
        [10, 20, 30, 200, 100, 0, 0, 200, 100, 50, 50, 250]
    )
    seq_pixels = list(img_idx.flatten())
    seq = _gif_bytes(
        w, h, seq_pixels, palette, _lzw_encode(2, seq_pixels), min_code=2
    )
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    inter_pixels = list(img_idx[order].flatten())
    inter = _gif_bytes(
        w, h, inter_pixels, palette,
        _lzw_encode(2, inter_pixels), min_code=2, iflags=0x40,
    )
    got_seq, got_inter = dec(seq), dec(inter)
    assert got_seq is not None and got_inter is not None
    assert got_seq[:3] == got_inter[:3] == (w, h, 3)
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
    assert np.array_equal(got_seq[3], pal[img_idx])
    assert np.array_equal(got_inter[3], got_seq[3])


def _bmp_paletted(w, h, idx, palette_rgb, bpp):
    """Build a bottom-up paletted BMP: BITMAPINFOHEADER + BGRA-quad
    color table + MSB-first packed indices, 4-byte row stride."""
    n_pal = len(palette_rgb)
    pal = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in palette_rgb)
    stride = ((w * bpp + 31) // 32) * 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        bits = []
        for v in idx[y]:
            bits += [(int(v) >> k) & 1 for k in range(bpp - 1, -1, -1)]
        packed = np.packbits(np.array(bits, dtype=np.uint8)).tobytes()
        rows.append(packed + b"\x00" * (stride - len(packed)))
    data = b"".join(rows)
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(data), 0, 0, n_pal, 0
    )
    return hdr + info + pal + data


def test_bmp_paletted_depths_decode():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    rng = np.random.default_rng(22)
    pal = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(16)]
    for bpp, n_colors in ((1, 2), (4, 16), (8, 16)):
        idx = rng.integers(0, n_colors, (5, 7), dtype=np.uint8)
        got = dec(_bmp_paletted(7, 5, idx, pal[:n_colors], bpp))
        assert got is not None and got[:3] == (7, 5, 3), bpp
        exp = np.array(pal[:n_colors], dtype=np.uint8)[idx]
        assert np.array_equal(got[3], exp), bpp


def test_bmp_paletted_matches_png_raster():
    """Cross-container identity: the same image as an 8-bit paletted BMP
    and as an RGB PNG must produce the same raster."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    rng = np.random.default_rng(23)
    pal = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(4)]
    idx = rng.integers(0, 4, (6, 9), dtype=np.uint8)
    rgb = np.array(pal, dtype=np.uint8)[idx]
    bmp_got = dec(_bmp_paletted(9, 6, idx, pal, 8))
    png_got = decode_raster(encode_png(rgb.tobytes(), 9, 6, 3))
    assert bmp_got is not None and png_got is not None
    assert np.array_equal(bmp_got[3], png_got[3])


def test_bmp_out_of_range_index_declines():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    idx = np.array([[3]], dtype=np.uint8)  # palette has 2 entries
    bad = _bmp_paletted(1, 1, idx, [(1, 2, 3), (4, 5, 6)], 8)
    assert dec(bad) is None


def _bmp_rle(w, h, rle_data, palette_rgb, bpp):
    """Build a bottom-up BI_RLE8/BI_RLE4 BMP around prepared RLE bytes."""
    n_pal = len(palette_rgb)
    pal = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in palette_rgb)
    off = 14 + 40 + len(pal)
    comp = 1 if bpp == 8 else 2
    hdr = b"BM" + struct.pack("<IHHI", off + len(rle_data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, len(rle_data), 0, 0, n_pal, 0
    )
    return hdr + info + pal + rle_data


def test_bmp_rle8_runs_absolute_eol_eob():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    pal = [(10, 0, 0), (0, 20, 0), (0, 0, 30), (40, 40, 40)]
    # bottom row first: 4×idx1, 2×idx2 | EOL | absolute run 1,3,0,2 +
    # encoded 2×idx3 | EOL | delta skips the whole last row | EOB
    rle = bytes(
        [4, 1, 2, 2, 0, 0]  # row 0 (bottom): 1 1 1 1 2 2
        + [0, 4, 1, 3, 0, 2, 2, 3, 0, 0]  # row 1: abs(1 3 0 2) then 3 3
        + [0, 1]  # end of bitmap: row 2 (top) stays index 0
    )
    got = dec(_bmp_rle(6, 3, rle, pal, 8))
    assert got is not None and got[:3] == (6, 3, 3)
    exp_idx = np.array(
        [
            [0, 0, 0, 0, 0, 0],  # top (never written)
            [1, 3, 0, 2, 3, 3],
            [1, 1, 1, 1, 2, 2],  # bottom
        ],
        dtype=np.uint8,
    )
    exp = np.array(pal, dtype=np.uint8)[exp_idx]
    assert np.array_equal(got[3], exp)


def test_bmp_rle4_nibble_runs():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    pal = [(1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4)]
    # encoded run of 5 with value 0x12 alternates 1,2,1,2,1; then
    # absolute run of 3 nibbles 0x30 0x20 -> 3,0,2 (padded to a word)
    rle = bytes([5, 0x12] + [0, 3, 0x30, 0x20] + [0, 0] + [0, 1])
    got = dec(_bmp_rle(8, 1, rle, pal, 4))
    assert got is not None and got[:3] == (8, 1, 3)
    exp_idx = np.array([[1, 2, 1, 2, 1, 3, 0, 2]], dtype=np.uint8)
    exp = np.array(pal, dtype=np.uint8)[exp_idx]
    assert np.array_equal(got[3], exp)


def test_bmp_rle8_matches_uncompressed():
    """Cross-variant identity: the same indexed image RLE8-encoded and
    stored uncompressed must decode to the same raster."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    rng = np.random.default_rng(31)
    pal = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(4)]
    idx = rng.integers(0, 4, (5, 7), dtype=np.uint8)
    # naive RLE8 encoder: one encoded run per pixel, EOL per row
    rle = bytearray()
    for y in range(4, -1, -1):  # bottom-up
        for v in idx[y]:
            rle += bytes([1, int(v)])
        rle += b"\x00\x00"
    rle[-1:] = b"\x01"  # last EOL becomes EOB
    got_rle = dec(_bmp_rle(7, 5, bytes(rle), pal, 8))
    got_flat = dec(_bmp_paletted(7, 5, idx, pal, 8))
    assert got_rle is not None and got_flat is not None
    assert np.array_equal(got_rle[3], got_flat[3])


def test_zero_area_images_decline():
    """w=0 or h=0 headers must decline in every decoder — an empty
    raster would crash the aHash/resize index math inside mapInPandas
    instead of yielding the contract NULL."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
        _make_gif_raster_decoder,
        _make_jpeg_raster_decoder,
    )
    from tests.test_pipeline_ops import _gif_bytes, _lzw_encode

    # PNG: width = 0
    assert decode_raster(make_png(0, 2, 8, 0, b"\x00" * 2)) is None
    # GIF: height = 0 in the image descriptor
    gif = _gif_bytes(3, 0, [], bytes(6), _lzw_encode(2, [0]), min_code=2)
    assert _make_gif_raster_decoder()(gif) is None
    # JPEG: SOF with width = 0
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(
        ">HH", 8, 0
    ) + b"\x01\x11\x00"
    assert _make_jpeg_raster_decoder()(b"\xff\xd8" + sof0 + b"\x00" * 16) is None
    # BMP: h == 0 (already guarded; pinned here with the others)
    bad = bytearray(_bmp_paletted(1, 1, np.zeros((1, 1), np.uint8), [(0, 0, 0)], 8))
    bad[22:26] = struct.pack("<i", 0)
    assert _make_bmp_raster_decoder()(bytes(bad)) is None


def _bmp_bitfields(w, h, pixels, bpp, masks, hdr_size=40, topdown=False):
    """Build a BI_BITFIELDS BMP: ``pixels`` is an (h, w) array of raw
    16/32-bit pixel values (top-down), ``masks`` = (r, g, b[, a]).
    hdr_size 40 appends the three RGB masks after the header; hdr_size
    >= 56 (V3/V4/V5) carries all four masks inside the header."""
    itemsize = bpp // 8
    stride = ((w * itemsize + 3) // 4) * 4
    order = range(h) if topdown else range(h - 1, -1, -1)
    fmt = "<H" if bpp == 16 else "<I"
    rows = []
    for y in order:
        row = b"".join(struct.pack(fmt, int(v)) for v in pixels[y])
        rows.append(row + b"\x00" * (stride - len(row)))
    data = b"".join(rows)
    r, g, b_ = masks[0], masks[1], masks[2]
    a = masks[3] if len(masks) > 3 else 0
    if hdr_size == 40:
        extra = struct.pack("<III", r, g, b_)
    else:
        extra = struct.pack("<IIII", r, g, b_, a) + b"\x00" * (hdr_size - 56)
    off = 14 + 40 + len(extra)
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    hh = -h if topdown else h
    info = struct.pack(
        "<IiiHHIIiiII", hdr_size, w, hh, 1, bpp, 3, len(data), 0, 0, 0, 0
    )
    return hdr + info + extra + data


def _scale(v, maxv):
    return (v * 255 + maxv // 2) // maxv


def test_bmp_bitfields_565():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    # two pixels: pure red (r=31), mixed (r=10, g=33, b=7)
    px = np.array([[31 << 11, (10 << 11) | (33 << 5) | 7]], dtype=np.uint32)
    got = dec(_bmp_bitfields(2, 1, px, 16, (0xF800, 0x07E0, 0x001F)))
    assert got is not None and got[:3] == (2, 1, 3)
    exp = np.array(
        [[[255, 0, 0], [_scale(10, 31), _scale(33, 63), _scale(7, 31)]]],
        dtype=np.uint8,
    )
    assert np.array_equal(got[3], exp)


def test_bmp_bitfields_8888_matches_png(tmp_path=None):
    """8-bit-wide masks lose nothing: a 32-bit BI_BITFIELDS BMP (V4
    header, alpha mask) reproduces the PNG RGBA raster bit-exactly."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    rng = np.random.default_rng(31)
    rgba = rng.integers(0, 256, (4, 5, 4), dtype=np.uint8)
    px = (
        rgba[:, :, 0].astype(np.uint64) << 16
        | rgba[:, :, 1].astype(np.uint64) << 8
        | rgba[:, :, 2].astype(np.uint64)
        | rgba[:, :, 3].astype(np.uint64) << 24
    )
    bmp = _bmp_bitfields(
        5, 4, px, 32,
        (0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000),
        hdr_size=108,
    )
    got = dec(bmp)
    assert got is not None and got[:3] == (5, 4, 4)
    png_got = decode_raster(encode_png(rgba.tobytes(), 5, 4, 4))
    assert png_got is not None
    assert np.array_equal(got[3], png_got[3])
    assert np.array_equal(got[3], rgba)


def test_bmp_bitfields_topdown_and_bottomup_agree():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    px = np.array([[0xF800, 0x07E0], [0x001F, 0xFFFF]], dtype=np.uint32)
    masks = (0xF800, 0x07E0, 0x001F)
    up = dec(_bmp_bitfields(2, 2, px, 16, masks, topdown=False))
    down = dec(_bmp_bitfields(2, 2, px, 16, masks, topdown=True))
    assert up is not None and down is not None
    assert np.array_equal(up[3], down[3])


def test_bmp_16bit_bi_rgb_is_implicit_555():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    # hand-build a plain BI_RGB 16-bit BMP (no masks appended)
    px = (20 << 10) | (5 << 5) | 31  # r=20 g=5 b=31 in 555
    data = struct.pack("<H", px) + b"\x00\x00"  # stride pad to 4
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 16, 0, len(data), 0, 0, 0, 0)
    got = dec(hdr + info + data)
    assert got is not None and got[:3] == (1, 1, 3)
    exp = np.array(
        [[[_scale(20, 31), _scale(5, 31), 255]]], dtype=np.uint8
    )
    assert np.array_equal(got[3], exp)


def test_bmp_bitfields_zero_mask_declines():
    from clickhouse_table_copier_spark.operators.multimodal import (
        _make_bmp_raster_decoder,
    )

    dec = _make_bmp_raster_decoder()
    px = np.array([[0]], dtype=np.uint32)
    assert dec(_bmp_bitfields(1, 1, px, 16, (0, 0x07E0, 0x001F))) is None
