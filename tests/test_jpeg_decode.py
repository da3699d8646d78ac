"""Round-trip tests for the pure-numpy JPEG decoder
(operators/multimodal._make_jpeg_decoder) in BOTH entropy modes.

The ENCODERS live here, test-side: a minimal standards-compliant
baseline sequential (SOF0) writer — level shift, orthonormal 8×8 DCT,
quantize, zigzag, DC-diff/AC run-length tokens, canonical Huffman
tables BUILT from the symbols actually used (every code one fixed
length L with n < 2^L, which satisfies the prefix and no-all-ones
rules), 0xFF byte stuffing, optional restart markers — and a
progressive (SOF2) writer over the same coefficient pipeline:
spectral-selection bands, successive-approximation first/refine scans,
EOB runs with buffered correction bits (jcphuff.c structure), per-scan
canonical tables.  Encoding with all-ones quant tables makes the loss
tiny, so decoded channel means pin planted values within ±1; and since
both modes carry the SAME quantized coefficients, the decoder must
produce bit-identical rasters across modes (pinned per-fixture and as
a hypothesis property).
"""

from __future__ import annotations

import struct

import numpy as np

from clickhouse_table_copier_spark.operators.multimodal import (
    _make_jpeg_decoder,
)

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_M = np.array(
    [
        [
            (1 / (2 * np.sqrt(2)) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def align(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-fill pad

    def marker(self, m: int):
        self.align()
        self.out += bytes([0xFF, m])


def _blocks(plane: np.ndarray):
    h, w = plane.shape
    for y in range(0, h, 8):
        for x in range(0, w, 8):
            yield plane[y : y + 8, x : x + 8]


def _tokens_for_block(block: np.ndarray, pred: int):
    """(tokens, new_pred): DC (size, bits) then AC run-length pairs."""
    coef = _M @ (block - 128.0) @ _M.T
    q = np.rint(coef).astype(int)
    zz = q.flatten()[_ZIGZAG]
    toks = []
    diff = int(zz[0]) - pred
    mag = abs(diff)
    t = mag.bit_length()
    bits = diff if diff >= 0 else diff + (1 << t) - 1
    toks.append(("dc", t, bits, t))
    run = 0
    last_nz = max([k for k in range(1, 64) if zz[k]] or [0])
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            toks.append(("ac", 0x00, 0, 0))  # EOB
            break
        if v == 0:
            run += 1
            if run == 16:
                toks.append(("ac", 0xF0, 0, 0))  # ZRL
                run = 0
            continue
        s = abs(v).bit_length()
        bits = v if v >= 0 else v + (1 << s) - 1
        toks.append(("ac", (run << 4) | s, bits, s))
        run = 0
    else:
        if last_nz == 63:
            pass  # block ended on a nonzero coefficient: no EOB needed
    return toks, int(zz[0])


def _canonical_table(symbols):
    """All symbols at one length L with n < 2^L: canonical, prefix-free,
    and the all-ones code stays unused. Returns (bits16, vals, code_map)."""
    vals = sorted(set(symbols))
    n = len(vals)
    length = max(2, n.bit_length())
    if n >= (1 << length):  # defensive; cannot happen with bit_length
        length += 1
    bits16 = [0] * 16
    bits16[length - 1] = n
    code_map = {v: (length, i) for i, v in enumerate(vals)}
    return bits16, vals, code_map


def encode_baseline_jpeg(
    img: np.ndarray, subsample: bool = False, dri: int = 0
) -> bytes:
    """Minimal baseline JFIF writer. ``img``: (h, w) grayscale or
    (h, w, 3) RGB uint8; dims must be multiples of the MCU size (8, or
    16 with ``subsample``). All-ones quant tables (near-lossless)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        hs, vs = [1], [1]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            planes, hs, vs = [y, cb, cr], [2, 1, 1], [2, 1, 1]
        else:
            planes, hs, vs = [y, cb, cr], [1, 1, 1], [1, 1, 1]
    hmax, vmax = max(hs), max(vs)
    mcux, mcuy = w // (8 * hmax), h // (8 * vmax)

    # pass 1: token stream in MCU-interleaved order with restart resets
    tokens = []
    pred = [0] * len(planes)
    n_mcu = 0
    rst_positions = []
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                rst_positions.append(len(tokens))
                pred = [0] * len(planes)
            for ci, p in enumerate(planes):
                for by in range(vs[ci]):
                    for bx in range(hs[ci]):
                        y0, x0 = (my * vs[ci] + by) * 8, (mx * hs[ci] + bx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8]
                        toks, pred[ci] = _tokens_for_block(blk, pred[ci])
                        tokens.extend(toks)
            n_mcu += 1

    dc_bits, dc_vals, dc_map = _canonical_table(
        [t[1] for t in tokens if t[0] == "dc"]
    )
    ac_bits, ac_vals, ac_map = _canonical_table(
        [t[1] for t in tokens if t[0] == "ac"]
    )

    out = bytearray(b"\xff\xd8")  # SOI
    qt = bytes([0]) + bytes([1] * 64)  # table 0, all-ones
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    # SOF0
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(planes)])
    for ci in range(len(planes)):
        sof += bytes([ci + 1, (hs[ci] << 4) | vs[ci], 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT (class 0 table 0 = DC, class 1 table 0 = AC)
    for cls, (bits16, vals) in enumerate(
        [(dc_bits, dc_vals), (ac_bits, ac_vals)]
    ):
        body = bytes([cls << 4]) + bytes(bits16) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    # SOS
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bw = _BitWriter()
    rst_iter = iter(rst_positions + [-1])
    next_rst = next(rst_iter)
    rst_n = 0
    for i, (kind, sym, bits, blen) in enumerate(tokens):
        if i == next_rst:
            bw.marker(0xD0 + (rst_n & 7))
            rst_n += 1
            next_rst = next(rst_iter)
        ln, code = (dc_map if kind == "dc" else ac_map)[sym]
        bw.put(code, ln)
        if blen:
            bw.put(bits, blen)
    bw.align()
    out += bw.out + b"\xff\xd9"  # EOI
    return bytes(out)


decode_jpeg = _make_jpeg_decoder()


def test_solid_color_444_roundtrip():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 60, 120
    got = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None
    w, h, nch, means = got
    assert (w, h, nch) == (16, 16, 3)
    assert abs(means[0] - 200) < 1.0
    assert abs(means[1] - 60) < 1.0
    assert abs(means[2] - 120) < 1.0


def test_gray_gradient_roundtrip():
    img = np.tile(np.arange(16, dtype=np.uint8) * 10 + 20, (16, 1))
    got = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None
    w, h, nch, means = got
    assert (w, h, nch) == (16, 16, 1)
    assert abs(means[0] - float(img.mean())) < 1.0


def test_subsampled_420_roundtrip():
    img = np.zeros((16, 32, 3), dtype=np.uint8)
    img[:, :16] = (250, 10, 10)
    img[:, 16:] = (10, 10, 250)
    got = decode_jpeg(encode_baseline_jpeg(img, subsample=True))
    assert got is not None
    w, h, nch, means = got
    assert (w, h, nch) == (32, 16, 3)
    # 4:2:0 chroma is lossy at the color edge; means stay within a few
    # counts of the planted 130/10/130 averages
    assert abs(means[0] - 130) < 4.0
    assert abs(means[1] - 10) < 4.0
    assert abs(means[2] - 130) < 4.0


def test_restart_markers_roundtrip():
    img = np.zeros((16, 48, 3), dtype=np.uint8)
    img[..., 0] = np.linspace(0, 240, 48, dtype=np.uint8)[None, :]
    img[..., 1] = 77
    img[..., 2] = 180
    plain = decode_jpeg(encode_baseline_jpeg(img))
    rst = decode_jpeg(encode_baseline_jpeg(img, dri=2))
    assert plain is not None and rst is not None
    # restart intervals must not change the decoded image
    assert plain[:3] == rst[:3]
    for a, b in zip(plain[3], rst[3]):
        assert abs(a - b) < 1e-9


def test_rst_after_stuffed_ff_pad():
    """The 1-fill pad before an RST marker can complete a 0xFF byte,
    which the writer stuffs as FF 00 — the stream then reads
    '... FF 00 FF D0'. align_past_rst must skip the stuffed pair, not
    consume it as the marker (pre-fix the decoder returned None)."""
    rng = np.random.default_rng(7)
    hits = 0
    for _ in range(500):
        img = rng.integers(0, 256, size=(8, 64), dtype=np.uint8)
        enc = encode_baseline_jpeg(img, dri=1)
        if not any(
            bytes([0xFF, 0x00, 0xFF, 0xD0 + k]) in enc for k in range(8)
        ):
            continue
        hits += 1
        got = decode_jpeg(enc)
        plain = decode_jpeg(encode_baseline_jpeg(img))
        assert got is not None, "decoder declined a stuffed-FF/RST image"
        assert got[:3] == plain[:3]
        for a, b in zip(got[3], plain[3]):
            assert abs(a - b) < 1e-9
        if hits >= 3:
            break
    assert hits >= 1, "no fixture exhibited the stuffed-FF pad before RST"


def test_progressive_header_only_declines():
    # SOF2 frame header with no scans and no EOI: nothing to
    # reconstruct — decline rather than return an all-gray guess
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(
        ">HH", 8, 8
    ) + b"\x01\x11\x00"
    assert decode_jpeg(b"\xff\xd8" + sof2 + b"\x00" * 32) is None


def test_header_only_fixture_declines():
    # the synthesize_media_table "jpeg" entries have no entropy data
    from clickhouse_table_copier_spark.operators.multimodal import (
        synthesize_media_table,
    )
    # build the same byte shape inline (no Spark needed): SOI+APP0+SOF0+pad
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 16, 16) + b"\x01\x11\x00"
    assert decode_jpeg(b"\xff\xd8" + app0 + sof0 + b"\x12" * 64) is None
    assert synthesize_media_table is not None  # referenced shape


def test_image_pixel_stats_includes_jpeg(spark):
    from clickhouse_table_copier_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_pixel_stats,
    )

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 30, 190, 90
    content = encode_baseline_jpeg(img)
    df = spark.createDataFrame(
        [(1, "image", bytearray(content), '{"fmt":"jpeg"}')], MEDIA_SCHEMA
    )
    row = image_pixel_stats(df).collect()[0]
    assert row["width"] == 16 and row["channels"] == 3
    assert abs(row["mean_r"] - 30) < 1.0
    assert abs(row["mean_g"] - 190) < 1.0
    assert abs(row["mean_b"] - 90) < 1.0


def test_ahash_cross_format_png_jpeg(spark):
    """The SAME high-contrast image as PNG and as baseline JPEG must
    produce the SAME 64-bit aHash — cross-format near-dup detection.
    High contrast (two flat luma levels far apart) survives JPEG
    quantization, so the 8x8 cell thresholds agree exactly."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        image_ahash,
    )

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 230
    img[8:] = 20
    png = encode_png(img.tobytes(), 16, 16, channels=3)
    jpg = encode_baseline_jpeg(img)
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(png), '{"fmt":"png"}'),
            (2, "image", bytearray(jpg), '{"fmt":"jpeg"}'),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert got[1] is not None and got[1] == got[2]


def test_ahash_cross_format_gif(spark):
    """GIF raster decode (round-9): the same high-contrast image as PNG
    and as GIF hashes identically — GIF is palette-lossless, so unlike
    JPEG the equality is exact by construction."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        image_ahash,
    )
    from tests.test_pipeline_ops import _gif_bytes, _lzw_encode

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 230
    img[8:] = 20
    png = encode_png(img.tobytes(), 16, 16, channels=3)
    palette = bytes([230, 230, 230, 20, 20, 20]) + bytes(6)  # 4 entries
    pixels = [0] * (8 * 16) + [1] * (8 * 16)
    gif = _gif_bytes(16, 16, pixels, palette, _lzw_encode(2, pixels), min_code=2)
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(png), '{"fmt":"png"}'),
            (2, "image", bytearray(gif), '{"fmt":"gif"}'),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert got[1] is not None and got[1] == got[2]


# ---------------------------------------------------------------------------
# Progressive (SOF2) encoding: spectral selection + successive approximation
# ---------------------------------------------------------------------------


def _zz_grids(img, subsample):
    """Per-component zigzag coefficient grids (nbh, nbw, 64) plus the
    sampling factors — all-ones quant, same color path as the baseline
    encoder."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes, hs, vs = [img.astype(np.float64)], [1], [1]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            planes, hs, vs = [y, cb, cr], [2, 1, 1], [2, 1, 1]
        else:
            planes, hs, vs = [y, cb, cr], [1, 1, 1], [1, 1, 1]
    grids = []
    for p in planes:
        ph, pw = p.shape
        nbh, nbw = ph // 8, pw // 8
        g = np.zeros((nbh, nbw, 64), dtype=np.int64)
        for by in range(nbh):
            for bx in range(nbw):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _M @ (blk - 128.0) @ _M.T
                g[by, bx] = np.rint(coef).astype(np.int64).flatten()[_ZIGZAG]
        grids.append(g)
    return grids, hs, vs, h, w


def _dc_first_tokens(grids, hs, vs, comps, al, dri):
    """Interleaved DC-first scan: baseline DC diff coding of dc >> al
    (arithmetic shift per T.81)."""
    mcux = grids[0].shape[1] // hs[0]
    mcuy = grids[0].shape[0] // vs[0]
    toks, pred, n_mcu, rst_n = [], [0] * len(comps), 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                toks.append(("rst", rst_n & 7))
                rst_n += 1
                pred = [0] * len(comps)
            for ci in comps:
                for by in range(vs[ci]):
                    for bx in range(hs[ci]):
                        v = int(grids[ci][my * vs[ci] + by, mx * hs[ci] + bx, 0]) >> al
                        diff = v - pred[ci]
                        pred[ci] = v
                        t = abs(diff).bit_length()
                        bits = diff if diff >= 0 else diff + (1 << t) - 1
                        toks.append(("h", t))
                        if t:
                            toks.append(("b", bits, t))
            n_mcu += 1
    return toks


def _dc_refine_tokens(grids, hs, vs, comps, al, dri):
    """Interleaved DC refinement: one raw bit per block, no Huffman.
    DRI stays in effect for every scan, so RSTs appear here too."""
    mcux = grids[0].shape[1] // hs[0]
    mcuy = grids[0].shape[0] // vs[0]
    toks, n_mcu, rst_n = [], 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                toks.append(("rst", rst_n & 7))
                rst_n += 1
            for ci in comps:
                for by in range(vs[ci]):
                    for bx in range(hs[ci]):
                        dc = int(grids[ci][my * vs[ci] + by, mx * hs[ci] + bx, 0])
                        toks.append(("b", (dc >> al) & 1, 1))
            n_mcu += 1
    return toks


def _ac_first_tokens(grid, ss, se, al, dri):
    """AC-first scan over one component's block grid, with EOB runs.
    Point transform truncates toward zero (libjpeg jcphuff semantics).
    In non-interleaved scans the restart unit is one block; pending EOB
    runs flush before each RST."""
    toks = []
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            toks.append(("h", nb << 4))
            if nb:
                toks.append(("b", eobrun & ((1 << nb) - 1), nb))
            eobrun = 0

    nbh, nbw = grid.shape[:2]
    n_blk, rst_n = 0, 0
    for by in range(nbh):
        for bx in range(nbw):
            if dri and n_blk and n_blk % dri == 0:
                flush()
                toks.append(("rst", rst_n & 7))
                rst_n += 1
            n_blk += 1
            zz = grid[by, bx]
            r = 0
            for k in range(ss, se + 1):
                v = int(zz[k])
                v = (abs(v) >> al) * (1 if v >= 0 else -1)
                if v == 0:
                    r += 1
                    continue
                flush()
                while r > 15:
                    toks.append(("h", 0xF0))
                    r -= 16
                t = abs(v).bit_length()
                bits = v if v > 0 else v + (1 << t) - 1
                toks.append(("h", (r << 4) | t))
                toks.append(("b", bits, t))
                r = 0
            if r:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
    flush()
    return toks


def _ac_refine_tokens(grid, ss, se, al, dri):
    """AC refinement over one component's grid: correction bits for
    history-nonzero coefficients, (run, ±1) codes for newly-nonzero
    ones, EOB runs carrying buffered correction bits — the
    jcphuff.c encode_mcu_AC_refine structure."""
    toks = []
    eobrun = 0
    be_bits: list = []  # correction bits buffered across EOB-run blocks

    def flush():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            toks.append(("h", nb << 4))
            if nb:
                toks.append(("b", eobrun & ((1 << nb) - 1), nb))
            eobrun = 0
        for bit in be_bits:
            toks.append(("b", bit, 1))
        be_bits.clear()

    nbh, nbw = grid.shape[:2]
    n_blk, rst_n = 0, 0
    for byi in range(nbh):
        for bxi in range(nbw):
            if dri and n_blk and n_blk % dri == 0:
                flush()
                toks.append(("rst", rst_n & 7))
                rst_n += 1
            n_blk += 1
            zz = grid[byi, bxi]
            absv = [(abs(int(zz[k])) >> al) for k in range(ss, se + 1)]
            eob = -1  # band index of the last NEWLY-nonzero coefficient
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i
            r, br = 0, []
            for i, temp in enumerate(absv):
                if temp == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush()
                    toks.append(("h", 0xF0))
                    r -= 16
                    for bit in br:
                        toks.append(("b", bit, 1))
                    br = []
                if temp > 1:
                    br.append(temp & 1)
                    continue
                flush()
                toks.append(("h", (r << 4) | 1))
                toks.append(("b", 1 if int(zz[ss + i]) > 0 else 0, 1))
                for bit in br:
                    toks.append(("b", bit, 1))
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                be_bits.extend(br)
                if eobrun == 0x7FFF:
                    flush()
    flush()
    return toks


def encode_progressive_jpeg(
    img: np.ndarray, subsample: bool = False, dri: int = 0
) -> bytes:
    """Minimal progressive (SOF2) JFIF writer: spectral selection +
    successive approximation with per-scan canonical Huffman tables.
    Scan script: interleaved DC first (Al=1); AC bands 1-5 / 6-63 per
    component first at Al=1; DC refinement to Al=0; AC refinements of
    both bands to Al=0. Dims must be multiples of the MCU size (8, or
    16 with ``subsample``) so interleaved and per-component block grids
    coincide."""
    grids, hs, vs, h, w = _zz_grids(img, subsample)
    ncomp = len(grids)
    all_comps = list(range(ncomp))

    out = bytearray(b"\xff\xd8")
    qtb = bytes([0]) + bytes([1] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(qtb)) + qtb
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, (hs[ci] << 4) | vs[ci], 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)

    scans = [("dc_first", all_comps, 0, 0, 0, 1)]
    for ci in all_comps:
        scans.append(("ac_first", [ci], 1, 5, 0, 1))
        scans.append(("ac_first", [ci], 6, 63, 0, 1))
    scans.append(("dc_refine", all_comps, 0, 0, 1, 0))
    for ci in all_comps:
        scans.append(("ac_refine", [ci], 1, 5, 1, 0))
        scans.append(("ac_refine", [ci], 6, 63, 1, 0))

    for kind, comps, ss, se, ah, al in scans:
        if kind == "dc_first":
            toks = _dc_first_tokens(grids, hs, vs, comps, al, dri)
        elif kind == "dc_refine":
            toks = _dc_refine_tokens(grids, hs, vs, comps, al, dri)
        elif kind == "ac_first":
            toks = _ac_first_tokens(grids[comps[0]], ss, se, al, dri)
        else:
            toks = _ac_refine_tokens(grids[comps[0]], ss, se, al, dri)
        syms = [t[1] for t in toks if t[0] == "h"]
        if syms:
            bits16, vals, cmap = _canonical_table(syms)
            cls = 0 if kind.startswith("dc") else 1
            body = bytes([cls << 4]) + bytes(bits16) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
        else:
            cmap = {}
        sos = bytes([len(comps)])
        for ci in comps:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        bw_ = _BitWriter()
        for t in toks:
            if t[0] == "h":
                ln, code = cmap[t[1]]
                bw_.put(code, ln)
            elif t[0] == "b":
                bw_.put(t[1], t[2])
            else:  # restart marker
                bw_.marker(0xD0 + t[1])
        bw_.align()
        out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_gray_roundtrip():
    img = np.tile(np.arange(16, dtype=np.uint8) * 10 + 20, (16, 1))
    got = decode_jpeg(encode_progressive_jpeg(img))
    plain = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None and plain is not None
    assert got[:3] == plain[:3] == (16, 16, 1)
    # same coefficients, same reconstruction: bit-identical pixels
    assert np.array_equal(got[3], plain[3])


def test_progressive_rgb_matches_baseline():
    """The progressive and baseline encodings carry the SAME quantized
    coefficients, so the decoder must reconstruct identical rasters —
    the cross-mode identity that lets progressive inputs join
    cross-format dedup."""
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    got = decode_jpeg(encode_progressive_jpeg(img))
    plain = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None and plain is not None
    assert got[:3] == plain[:3] == (32, 24, 3)
    assert np.array_equal(got[3], plain[3])


def test_progressive_subsampled_420():
    img = np.zeros((16, 32, 3), dtype=np.uint8)
    img[:, :16] = (250, 10, 10)
    img[:, 16:] = (10, 10, 250)
    got = decode_jpeg(encode_progressive_jpeg(img, subsample=True))
    plain = decode_jpeg(encode_baseline_jpeg(img, subsample=True))
    assert got is not None and plain is not None
    assert got[:3] == plain[:3] == (32, 16, 3)
    assert np.array_equal(got[3], plain[3])


def test_progressive_with_restart_markers():
    img = np.zeros((16, 48, 3), dtype=np.uint8)
    img[..., 0] = np.linspace(0, 240, 48, dtype=np.uint8)[None, :]
    img[..., 1] = 77
    img[..., 2] = 180
    got = decode_jpeg(encode_progressive_jpeg(img, dri=2))
    plain = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None and plain is not None
    assert got[:3] == plain[:3]
    assert np.array_equal(got[3], plain[3])


def test_progressive_sparse_blocks_exercise_eob_runs():
    """A mostly-flat image makes most blocks all-zero in the AC bands —
    long EOB runs with appended length bits on both passes."""
    img = np.full((32, 32), 128, dtype=np.uint8)
    img[5, 7] = 200  # one active block
    got = decode_jpeg(encode_progressive_jpeg(img))
    plain = decode_jpeg(encode_baseline_jpeg(img))
    assert got is not None and plain is not None
    assert np.array_equal(got[3], plain[3])


def test_ahash_cross_mode_progressive(spark):
    """A progressive and a baseline encoding of the SAME image carry the
    same quantized coefficients, so their aHashes are identical — the
    cross-mode identity that lets progressive inputs join dedup."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_ahash,
    )

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 230
    img[8:] = 20
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(encode_baseline_jpeg(img)), '{"fmt":"jpeg"}'),
            (2, "image", bytearray(encode_progressive_jpeg(img)), '{"fmt":"jpeg"}'),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert got[1] is not None and got[1] == got[2]


# ---------------------------------------------------------------------------
# Property: progressive and baseline encodings of ANY image decode to the
# same raster (they carry identical quantized coefficients).
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    bw=st.integers(1, 4),
    bh=st.integers(1, 4),
    gray=st.booleans(),
    dri=st.sampled_from([0, 1, 3]),
)
def test_progressive_equals_baseline_property(seed, bw, bh, gray, dri):
    rng = np.random.default_rng(seed)
    shape = (bh * 8, bw * 8) if gray else (bh * 8, bw * 8, 3)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    prog = decode_jpeg(encode_progressive_jpeg(img, dri=dri))
    base = decode_jpeg(encode_baseline_jpeg(img, dri=dri))
    assert prog is not None and base is not None
    assert prog[:3] == base[:3]
    assert np.array_equal(prog[3], base[3])
