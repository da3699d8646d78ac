"""PDF Standard-security-handler decryption.

Two layers of pinning:

1. **Cipher cores against INDEPENDENT published vectors** — AES block
   against FIPS-197 Appendix C known answers, CBC mode against NIST SP
   800-38A F.2.1/F.2.5, RC4 against RFC 6229 and the classic
   Key/Plaintext vector.  A symmetric misreading of the cipher cannot
   hide behind an encrypt/decrypt roundtrip.
2. **Handler level via a test-side encryptor**: real PDFs from the
   fixture writers in test_pdf_extract are post-processed into
   encrypted documents (Algorithms 2/3/4/5 for R2-4, 8/9-shaped salted
   hashes for R6), then the extractor must recover the IDENTICAL text
   the plaintext document yields.  No independent PDF encryptor exists
   in this container, so the derivation layer's mirror-risk is the
   documented seam (operators/pdf_crypt.py module header).
"""

import hashlib
import re
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clickhouse_table_copier_spark.operators import pdf_crypt as pc
from clickhouse_table_copier_spark.operators.pdf_extract import (
    _extract_pdf,
    _extract_pdf_jpegs,
    _stream_raw,
    extract_pdf_text,
)

from tests.test_pdf_extract import _CJK_CMAP, _cid_pdf, make_pdf

# Driver-gate lane split (r17): this suite is in the SLOW lane so the
# default `pytest tests/` gate completes inside the driver's verify
# budget (r16 cut at 43% with zero failures).  Run the slow lane with
#   python -m pytest tests/ -m slow -q
pytestmark = pytest.mark.slow

# ------------------------------------------------------------ ciphers


def test_aes128_block_fips197_c1():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    exp = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    rks, nr = pc._expand_key(key)
    assert pc._aes_encrypt_block(rks, nr, pt) == exp
    # CBC with zero IV over one block == raw block decrypt
    assert pc.aes_cbc_decrypt(key, b"\x00" * 16, exp) == pt


def test_aes256_block_fips197_c3():
    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    exp = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rks, nr = pc._expand_key(key)
    assert pc._aes_encrypt_block(rks, nr, pt) == exp
    assert pc.aes_cbc_decrypt(key, b"\x00" * 16, exp) == pt


_NIST_PT = bytes.fromhex(
    "6bc1bee22e409f96e93d7e117393172a"
    "ae2d8a571e03ac9c9eb76fac45af8e51"
    "30c81c46a35ce411e5fbc1191a0a52ef"
    "f69f2445df4f9b17ad2b417be66c3710"
)
_NIST_IV = bytes.fromhex("000102030405060708090a0b0c0d0e0f")


def test_cbc_aes128_sp80038a_f21():
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    exp = bytes.fromhex(
        "7649abac8119b246cee98e9b12e9197d"
        "5086cb9b507219ee95db113a917678b2"
        "73bed6b8e3c1743b7116e69e22229516"
        "3ff1caa1681fac09120eca307586e1a7"
    )
    assert pc.aes_cbc_encrypt(key, _NIST_IV, _NIST_PT) == exp
    assert pc.aes_cbc_decrypt(key, _NIST_IV, exp) == _NIST_PT


def test_cbc_aes256_sp80038a_f25():
    key = bytes.fromhex(
        "603deb1015ca71be2b73aef0857d7781"
        "1f352c073b6108d72d9810a30914dff4"
    )
    exp = bytes.fromhex(
        "f58c4c04d6e5f1ba779eabfb5f7bfbd6"
        "9cfc4e967edb808d679f777bc6702c7d"
        "39f23369a9d9bacfa530e26304231461"
        "b2eb05e2c39be9fcda6c19078c6a9d1b"
    )
    assert pc.aes_cbc_encrypt(key, _NIST_IV, _NIST_PT) == exp
    assert pc.aes_cbc_decrypt(key, _NIST_IV, exp) == _NIST_PT


def test_rc4_vectors():
    # RFC 6229, 40-bit key 0x0102030405, keystream offset 0
    ks = pc.rc4(bytes.fromhex("0102030405"), b"\x00" * 16)
    assert ks.hex() == "b2396305f03dc027ccc3524a0a1118a8"
    # the classic Key/Plaintext vector
    assert pc.rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    # involution: RC4 is its own inverse
    assert pc.rc4(b"Key", pc.rc4(b"Key", b"round trip")) == b"round trip"


def test_cbc_decrypt_declines_unaligned():
    assert pc.aes_cbc_decrypt(b"k" * 16, b"\x00" * 16, b"short") is None
    assert pc.aes_cbc_decrypt(b"k" * 16, b"\x00" * 16, b"") == b""


def _escape_literal(val: bytes) -> bytes:
    """Arbitrary bytes as a PDF ``(…)`` literal body: escape the
    parentheses and the backslash, spell CR and LF as ``\\r``/``\\n``."""
    out = bytearray()
    for c in val:
        if c in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([c])
        elif c == 0x0D:
            out += b"\\r"
        elif c == 0x0A:
            out += b"\\n"
        else:
            out.append(c)
    return bytes(out)


@given(st.binary(max_size=64))
@settings(max_examples=50, deadline=None)
def test_pdf_string_escape_roundtrip(raw):
    body = _escape_literal(raw)
    got, _ = pc._literal_bytes(b"(" + body + b")", 0)
    assert got == raw


# ------------------------------------- test-side Standard encryptor

_ID0 = bytes.fromhex("deadbeef" * 4)


def _alg3_o_entry(owner_pwd: bytes, user_pwd: bytes, r: int, n: int):
    """Algorithm 3: the /O entry (RC4 wrap of the padded user password
    under the owner-password key)."""
    okey = hashlib.md5((owner_pwd + pc._PAD)[:32]).digest()
    if r >= 3:
        # Algorithm 3's 50-round loop hashes the FULL digest (only
        # Algorithm 2 truncates inside its loop)
        for _ in range(50):
            okey = hashlib.md5(okey).digest()
    okey = okey[:n]
    o = pc.rc4(okey, (user_pwd + pc._PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = pc.rc4(bytes(b ^ i for b in okey), o)
    return o


def _encrypt_object(key: bytes, cfm: str, num: int, gen: int, data: bytes):
    """Mirror of PdfDecryptor.decrypt for fixture building."""
    if cfm == "identity":
        return data
    if cfm == "aes256":
        okey = key
    else:
        okey = hashlib.md5(
            key
            + (num & 0xFFFFFF).to_bytes(3, "little")
            + (gen & 0xFFFF).to_bytes(2, "little")
            + (b"sAlT" if cfm == "aes128" else b"")
        ).digest()[: min(len(key) + 5, 16)]
    if cfm == "rc4":
        return pc.rc4(okey, data)
    pad = 16 - len(data) % 16
    iv = bytes((7 * num + i) & 0xFF for i in range(16))
    return iv + pc.aes_cbc_encrypt(okey, iv, data + bytes([pad]) * pad)


_P = -44


def _encrypt_dict_and_key(
    r: int,
    user_pwd: bytes,
    owner_pwd: bytes,
    encrypt_metadata: bool = True,
    stmf_identity: bool = False,
):
    """(encrypt-dict bytes, file key, cfm) for revision ``r``."""
    if r in (2, 3, 4):
        n = 5 if r == 2 else 16
        o = _alg3_o_entry(owner_pwd, user_pwd, r, n)
        key = pc._legacy_user_key(
            o, _P, _ID0, r, n, encrypt_metadata, user_pwd
        )
        u = pc._legacy_expected_u(key, _ID0, r)
        if r >= 3:
            u += b"\x00" * 16
        v = {2: 1, 3: 2, 4: 4}[r]
        d = (
            f"<< /Filter /Standard /V {v} /R {r} /Length {n * 8} "
            f"/P {_P} ".encode()
            + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
        )
        cfm = "rc4"
        if r == 4:
            stmf = b"/Identity" if stmf_identity else b"/StdCF"
            d += (
                b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >> "
                b"/StmF " + stmf + b" /StrF /StdCF "
            )
            cfm = "identity" if stmf_identity else "aes128"
            if not encrypt_metadata:
                d += b"/EncryptMetadata false "
        return d + b">>", key, cfm
    assert r == 6
    file_key = bytes(range(32))
    uvs, uks = b"UVALSALT", b"UKEYSALT"
    u = pc._hash_2b(user_pwd, uvs, b"") + uvs + uks
    ue = pc.aes_cbc_encrypt(
        pc._hash_2b(user_pwd, uks, b""), b"\x00" * 16, file_key
    )
    ovs, oks = b"OVALSALT", b"OKEYSALT"
    o = pc._hash_2b(owner_pwd, ovs, u[:48]) + ovs + oks
    oe = pc.aes_cbc_encrypt(
        pc._hash_2b(owner_pwd, oks, u[:48]), b"\x00" * 16, file_key
    )
    d = (
        f"<< /Filter /Standard /V 5 /R 6 /Length 256 /P {_P} ".encode()
        + b"/CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF /StrF /StdCF "
        + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
        + b"/OE <" + oe.hex().encode() + b"> /UE <" + ue.hex().encode() + b"> "
        + b">>"
    )
    return d, file_key, "aes256"


_STREAM_IN_BODY_RE = re.compile(rb">>\s*stream\r?\n")


def encrypt_pdf(
    b: bytes,
    r: int,
    user_pwd: bytes = b"",
    owner_pwd: bytes = b"",
    encrypt_metadata: bool = True,
    stmf_identity: bool = False,
) -> bytes:
    """Post-process a fixture PDF into its encrypted twin: every
    stream's data is wrapped with the revision-``r`` cipher under its
    per-object key, the /Encrypt object is appended and the trailer
    rewritten with /Encrypt + /ID.  (Plain string OBJECTS outside
    streams are not rewrapped — the fixtures carry no shown text
    there, and the extractor never reads them.)"""
    encdict, key, cfm = _encrypt_dict_and_key(
        r, user_pwd, owner_pwd, encrypt_metadata, stmf_identity
    )
    spans = pc.object_spans(b)
    out = bytearray(b"%PDF-1.6\n")
    for s0, e0, num, gen in spans:
        body = b[s0:e0]
        m = _STREAM_IN_BODY_RE.search(body)
        if m is not None:
            d = body[: m.start() + 2]
            raw = _stream_raw(body, d, m.end())
            assert raw is not None, "fixture stream must parse"
            enc = _encrypt_object(key, cfm, num, gen, raw)
            d2 = re.sub(
                rb"/Length\s+\d+",
                b"/Length %d" % len(enc),
                d,
                count=1,
            )
            body = d2 + b"stream\n" + enc + b"\nendstream"
        out += b"%d %d obj\n" % (num, gen) + body.strip() + b"\nendobj\n"
    enc_num = max(s[2] for s in spans) + 1
    out += b"%d 0 obj\n" % enc_num + encdict + b"\nendobj\n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R /ID [<%s> <%s>] >>\n"
        b"%%%%EOF\n"
        % (enc_num + 1, enc_num, _ID0.hex().encode(), _ID0.hex().encode())
    )
    return bytes(out)


_SIMPLE = (
    b"BT /F1 12 Tf 72 720 Td (Restricted but readable.) Tj "
    b"0 -14 Td (Owner locked printing only.) Tj ET"
)


def _plain_text():
    got = _extract_pdf(make_pdf([_SIMPLE]))
    assert got is not None
    return got[1]


@pytest.mark.parametrize("r", [2, 3, 4, 6])
def test_empty_user_password_extracts_identical_text(r):
    """The DRM-only case: user password empty, owner password set.
    Extraction must equal the plaintext document's text exactly."""
    plain = _plain_text()
    enc = encrypt_pdf(make_pdf([_SIMPLE]), r, owner_pwd=b"ownerpass")
    got = _extract_pdf(enc)
    assert got is not None
    n_pages, text = got
    assert n_pages == 1
    assert text == plain


@pytest.mark.parametrize("r", [3, 6])
def test_empty_owner_password_path(r):
    """User password set but owner password EMPTY: the owner unwrap
    (Algorithm 3 reversed / the O-salted hash) recovers the file key."""
    plain = _plain_text()
    enc = encrypt_pdf(
        make_pdf([_SIMPLE]), r, user_pwd=b"secret", owner_pwd=b""
    )
    got = _extract_pdf(enc)
    assert got is not None
    assert got[1] == plain


@pytest.mark.parametrize("r", [2, 3, 4, 6])
def test_passworded_document_declines(r):
    """Both passwords non-empty: no key validates — the document
    declines (NULL text), never a wrong-key garbage 'extraction'."""
    enc = encrypt_pdf(
        make_pdf([_SIMPLE]), r, user_pwd=b"u-secret", owner_pwd=b"o-secret"
    )
    got = _extract_pdf(enc)
    assert got is not None
    assert got[1] is None
    # page dicts are plaintext object bodies — the count survives
    assert got[0] == 1


def test_encrypt_metadata_false_key_suffix():
    plain = _plain_text()
    enc = encrypt_pdf(
        make_pdf([_SIMPLE]), 4, owner_pwd=b"own", encrypt_metadata=False
    )
    got = _extract_pdf(enc)
    assert got is not None and got[1] == plain


def test_stmf_identity_streams_stay_plain():
    """/StmF /Identity: the document declares encryption but streams
    pass through unwrapped."""
    plain = _plain_text()
    enc = encrypt_pdf(
        make_pdf([_SIMPLE]), 4, owner_pwd=b"own", stmf_identity=True
    )
    got = _extract_pdf(enc)
    assert got is not None and got[1] == plain


def test_encrypted_cid_font_cmap_stream_decrypts():
    """The ToUnicode CMap stream is encrypted too — CJK text must
    survive the wrap (exercises _document_fonts' decrypt path)."""
    content = b"BT /F1 12 Tf (\x00\x01\x00\x02\x00\x10) Tj ET"
    plain = _extract_pdf(_cid_pdf(content, _CJK_CMAP))
    assert plain is not None and "日本語" in plain[1]
    enc = encrypt_pdf(_cid_pdf(content, _CJK_CMAP), 4, owner_pwd=b"own")
    got = _extract_pdf(enc)
    assert got is not None
    assert got[1] == plain[1]


def _jpeg_xobject_pdf(jpeg: bytes) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R >>",
        b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length " + str(len(jpeg)).encode() + b" >>\nstream\n"
        + jpeg + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs):
        out += f"{i + 1} 0 obj\n".encode() + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


@pytest.mark.parametrize("r", [3, 6])
def test_encrypted_dct_image_xobject_unwraps(r):
    """An encrypted /DCTDecode image stream decrypts back to the exact
    JPEG payload before the media-table lift."""
    jpeg = b"\xff\xd8\xff\xdb exact jpeg payload bytes \xff\xd9"
    enc = encrypt_pdf(_jpeg_xobject_pdf(jpeg), r, owner_pwd=b"own")
    got = _extract_pdf_jpegs(enc)
    assert got == [jpeg]


def test_xref_stream_not_decrypted():
    """/Type /XRef streams are never encrypted per spec — the
    decryptor must pass them through (a 'decrypt' would corrupt)."""
    xref_data = zlib.compress(b"\x01\x00\x00\x01\x02\x03")
    body = (
        b"<< /Type /XRef /Filter /FlateDecode /Length %d /W [1 2 1] "
        b"/Size 4 >>\nstream\n" % len(xref_data)
        + xref_data
        + b"\nendstream"
    )
    b = (
        b"%PDF-1.5\n1 0 obj\n" + body + b"\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    # splice an Encrypt dict in without encrypting the xref stream
    enc = encrypt_pdf(make_pdf([_SIMPLE]), 3, owner_pwd=b"own")
    merged = enc.replace(b"trailer", b.split(b"%PDF-1.5\n", 1)[1].split(b"trailer")[0] + b"trailer", 1)
    got = _extract_pdf(merged)
    assert got is not None  # never raises; text still extracts
    assert "Restricted but readable." in (got[1] or "")


def test_junk_with_encrypt_marker_never_raises():
    for b in (
        b"%PDF-1.4\n/Encrypt garbage",
        b"%PDF-1.4\n1 0 obj\n<< /Filter /Standard /V 9 /R 9 >>\nendobj\n"
        b"trailer << /Encrypt 1 0 R >>",
        b"%PDF-1.4\ntrailer << /Encrypt 99 0 R /ID [<zz> <zz>] >>",
        b"not a pdf /Encrypt",
    ):
        assert pc.find_decryptor(b) is None or True  # no raise
        _extract_pdf(b)  # no raise
        _extract_pdf_jpegs(b)  # no raise


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_find_decryptor_never_raises_on_fuzz(raw):
    b = b"%PDF-1.4\n" + raw + b"/Encrypt 1 0 R" + raw
    pc.find_decryptor(b)
    _extract_pdf(b)


def test_spark_mixed_encrypted_and_plain(spark):
    """End-to-end through the Arrow-batched stage: plain, encrypted
    (RC4 + AES-256) and junk rows in one frame."""
    plain_pdf = make_pdf([_SIMPLE])
    rows = [
        (1, bytearray(plain_pdf)),
        (2, bytearray(encrypt_pdf(plain_pdf, 3, owner_pwd=b"o"))),
        (3, bytearray(encrypt_pdf(plain_pdf, 6, owner_pwd=b"o"))),
        (4, bytearray(b"junk bytes, not a pdf")),
        (5, bytearray(encrypt_pdf(plain_pdf, 4, user_pwd=b"locked", owner_pwd=b"locked2"))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {
        r["doc_id"]: (r["n_pages"], r["text"])
        for r in extract_pdf_text(df, "content", "doc_id").collect()
    }
    plain = got[1][1]
    assert plain and "Restricted but readable." in plain
    assert got[2][1] == plain
    assert got[3][1] == plain
    assert got[4] == (None, None)
    assert got[5][1] is None  # genuinely passworded: declines


def test_r3_40bit_owner_path():
    """Algorithm 3's 50-round loop hashes the FULL digest; with
    /Length 40 (5-byte keys) a truncating loop diverges — the review
    finding the 128-bit fixtures could not catch."""
    plain = _plain_text()
    # R3 with 40-bit key: build the dict by hand via the encryptor
    # pieces (the standard helper pins Length=128 for R3)
    n = 5
    o = _alg3_o_entry(b"", b"secret", 3, n)
    key = pc._legacy_user_key(o, _P, _ID0, 3, n, True, b"secret")
    u = pc._legacy_expected_u(key, _ID0, 3) + b"\x00" * 16
    encdict = (
        b"<< /Filter /Standard /V 2 /R 3 /Length 40 /P -44 "
        b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> >>"
    )
    b = make_pdf([_SIMPLE])
    spans = pc.object_spans(b)
    out = bytearray(b"%PDF-1.4\n")
    for s0, e0, num, gen in spans:
        body = b[s0:e0]
        m = _STREAM_IN_BODY_RE.search(body)
        if m is not None:
            d = body[: m.start() + 2]
            raw = _stream_raw(body, d, m.end())
            enc = _encrypt_object(key, "rc4", num, gen, raw)
            d2 = re.sub(
                rb"/Length\s+\d+", b"/Length %d" % len(enc), d, count=1
            )
            body = d2 + b"stream\n" + enc + b"\nendstream"
        out += b"%d %d obj\n" % (num, gen) + body.strip() + b"\nendobj\n"
    enc_num = max(s[2] for s in spans) + 1
    out += b"%d 0 obj\n" % enc_num + encdict + b"\nendobj\n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
        b"/ID [<%s> <%s>] >>\n%%%%EOF\n"
        % (enc_num + 1, enc_num, _ID0.hex().encode(), _ID0.hex().encode())
    )
    got = _extract_pdf(bytes(out))
    # user pwd is non-empty -> the EMPTY-OWNER path must recover it
    assert got is not None and got[1] == plain


def test_cf_subdict_length_does_not_shadow_top_level():
    """Alphabetical-order writers emit /CF (with its byte-unit
    /Length 16) BEFORE the top-level bit-unit /Length 128 — the key
    size must come from the top level (review finding)."""
    plain = _plain_text()
    enc = encrypt_pdf(make_pdf([_SIMPLE]), 4, owner_pwd=b"own")
    # reorder: put the CF dict (with an inner /Length 16) first
    old = (
        b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >> "
        b"/StmF /StdCF /StrF /StdCF "
    )
    assert old in enc
    body_at = enc.index(b"<< /Filter /Standard")
    head = b"<< /Filter /Standard "
    reordered = enc.replace(old, b"", 1).replace(
        head,
        head
        + b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
        + b"/StmF /StdCF /StrF /StdCF ",
        1,
    )
    got = _extract_pdf(reordered)
    assert got is not None and got[1] == plain


def test_r6_without_v_declines_not_garbage():
    """An R6 dict missing /V must not pair the AES-256 key with RC4
    (review finding): either decrypt correctly or decline — never
    fabricate."""
    plain = _plain_text()
    enc = encrypt_pdf(make_pdf([_SIMPLE]), 6, owner_pwd=b"o")
    assert b"/V 5 " in enc
    stripped = enc.replace(b"/V 5 ", b"", 1)
    got = _extract_pdf(stripped)
    # with cfm now keyed off R, the document still decrypts correctly
    assert got is not None and got[1] == plain


def test_truncated_ue_declines():
    """A truncated /UE cannot yield a 32-byte file key — the document
    must decline, not raise or decrypt under a wrong-size key (review
    finding)."""
    enc = encrypt_pdf(make_pdf([_SIMPLE]), 6, owner_pwd=b"o")
    import re as _re

    m = _re.search(rb"/UE <([0-9a-f]+)>", enc)
    assert m is not None
    short = enc.replace(m.group(0), b"/UE <" + m.group(1)[:32] + b">", 1)
    got = _extract_pdf(short)
    assert got is not None and got[1] is None  # declines cleanly


def test_encrypt_metadata_whitespace_variants():
    """'/EncryptMetadata\\nfalse' (newline/tab separators) must parse
    as false (review finding)."""
    plain = _plain_text()
    enc = encrypt_pdf(
        make_pdf([_SIMPLE]), 4, owner_pwd=b"o", encrypt_metadata=False
    )
    assert b"/EncryptMetadata false" in enc
    wrapped = enc.replace(
        b"/EncryptMetadata false", b"/EncryptMetadata\nfalse", 1
    )
    got = _extract_pdf(wrapped)
    assert got is not None and got[1] == plain
