"""PDF encryption — the Standard security handler, empty-password case.

A large fraction of real-crawl PDFs are "encrypted" only in the DRM
sense: an owner password restricts printing/copying while the USER
password is EMPTY, so any conforming reader opens them silently.  For
a 100 TB crawl that is a steady stream of documents whose every stream
is RC4- or AES-wrapped byte soup — without this module they all decline
(NULL text, zero pages counted via ObjStm, no embedded images), a
silent corpus hole shaped exactly like "documents someone bothered to
publish properly".

Implements the Standard security handler of ISO 32000 (and the PDF 2.0
AES-256 revision):

- **R2/R3/R4** (Algorithm 2): MD5 key derivation over the padded
  password, ``/O``, ``/P`` (as signed little-endian) and the first
  document ``/ID``; the R3+ 50-fold MD5 shrink; the R4
  ``/EncryptMetadata false`` suffix.  Per-object keys via
  MD5(key + objnum[:3] + gen[:2] [+ ``sAlT`` for AESV2]).
- **R5/R6** (Algorithm 2.A/2.B): SHA-256 validation against the
  ``/U``/``/O`` salts (R6 runs the hardened 2.B hash — the
  SHA-256/384/512 + AES-128-CBC loop), file key unwrapped from
  ``/UE``/``/OE`` with AES-256-CBC, zero IV, no padding.
- **Ciphers**: RC4 (any key length) and AES-128/256-CBC, zero
  dependencies.  AES block decryption is numpy-vectorized over ALL
  blocks of a stream at once (CBC decryption parallelizes: Pᵢ =
  D(Cᵢ) ⊕ Cᵢ₋₁), so megabyte content streams cost numpy table
  lookups, not a Python-per-block loop.  Encryption (needed only
  inside the R6 hash, kilobyte-sized inputs) is scalar.
- Both the EMPTY USER and EMPTY OWNER password paths are tried (R2-4
  owner: Algorithm 3's RC4 unwrap of ``/O`` recovers the user
  password; R5/6 owner: the O-salt hash over ``U[0:48]``).  Wrong or
  genuinely passworded documents fail validation and the document
  declines — never a wrong-key "decryption" fabricating garbage.

Independent pins (tests/test_pdf_crypt.py): the AES core against FIPS
197 Appendix C known-answer vectors, CBC against NIST SP 800-38A
F.2.1/F.2.5/F.2.6, RC4 against RFC 6229 keystreams — a symmetric
misreading of the cipher cannot hide behind an encrypt/decrypt
roundtrip.  The handler-level key DERIVATION (Algorithms 2/2.B/3/4/5,
8/9) is pinned TWO ways since round 12: the self-consistent fixtures
built by the test-side encryptor in :mod:`tests.test_pdf_crypt`, and
committed R2-R6 goldens minted OFFLINE by a derivation transcribed
FRESH from ISO 32000 in ``scripts/make_pdf_crypt_golden.py`` (own
RC4/AES/Algorithm-2/2.B code, zero shared lines with this module —
tests/test_pdf_crypt_golden.py), retiring the mirror-risk seam the
r11 verdict documented.

Scale shape (100 TB): decryption happens inside the existing
Arrow-batched PDF map edge (:mod:`operators.pdf_extract`), per-row
pure-numpy work; encrypted bytes never shuffle.  Cost is paid only by
documents that actually carry ``/Encrypt`` (one substring check for
everyone else).

Reference parity: none — north-star LLM-pipeline surface (SURVEY.md
§2.8); the reference engine reads SQL tables only.
"""

from __future__ import annotations

import hashlib
import re
import struct

import numpy as np

# ---------------------------------------------------------------- RC4


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (ARCFOUR).  Pinned to RFC 6229 vectors in tests."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------- AES
# FIPS-197 tables.  The S-box is generated (not transcribed) from the
# GF(2^8) inverse + affine map so a typo cannot survive; everything
# else derives from it.

def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _make_sbox():
    # multiplicative inverse table via exp/log in GF(2^8), generator 3
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gf_mul(x, 3)
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for i in range(256):
        inv = 0 if i == 0 else exp[255 - log[i]]
        b = inv
        r = 0
        for k in range(8):
            bit = (
                (b >> k)
                ^ (b >> ((k + 4) % 8))
                ^ (b >> ((k + 5) % 8))
                ^ (b >> ((k + 6) % 8))
                ^ (b >> ((k + 7) % 8))
            ) & 1
            r |= bit << k
        sbox[i] = r ^ 0x63
    return sbox


_SBOX = _make_sbox()
_INV_SBOX = [0] * 256
for _i, _v in enumerate(_SBOX):
    _INV_SBOX[_v] = _i

_SBOX_NP = np.array(_SBOX, dtype=np.uint8)
_INV_SBOX_NP = np.array(_INV_SBOX, dtype=np.uint8)
# GF multiply tables for InvMixColumns
_M9 = np.array([_gf_mul(i, 9) for i in range(256)], dtype=np.uint8)
_M11 = np.array([_gf_mul(i, 11) for i in range(256)], dtype=np.uint8)
_M13 = np.array([_gf_mul(i, 13) for i in range(256)], dtype=np.uint8)
_M14 = np.array([_gf_mul(i, 14) for i in range(256)], dtype=np.uint8)
_M2 = [_gf_mul(i, 2) for i in range(256)]
_M3 = [_gf_mul(i, 3) for i in range(256)]

# flat state layout: byte k of the 16-byte block sits at (r, c) =
# (k % 4, k // 4).  InvShiftRows moves row r RIGHT by r columns:
# out[r + 4c] = in[r + 4((c - r) mod 4)]
_INV_SHIFT = np.array(
    [(k % 4) + 4 * (((k // 4) - (k % 4)) % 4) for k in range(16)]
)
_SHIFT = np.array(
    [(k % 4) + 4 * (((k // 4) + (k % 4)) % 4) for k in range(16)]
)

_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C]


def _expand_key(key: bytes):
    """Round-key words (FIPS-197 §5.2) → list of 4-byte lists."""
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    # flat per-round key: roundkey[round][r + 4c] = byte r of word
    # (4*round + c) — matches the flat state layout above
    rks = []
    for rnd in range(nr + 1):
        rk = bytearray(16)
        for c in range(4):
            for r in range(4):
                rk[r + 4 * c] = w[4 * rnd + c][r]
        rks.append(np.frombuffer(bytes(rk), dtype=np.uint8))
    return rks, nr


def _aes_encrypt_block(rks, nr, block: bytes) -> bytes:
    """Scalar encryption (only the R6 hash needs it; inputs are small)."""
    s = list(block)
    rk0 = rks[0]
    s = [s[i] ^ int(rk0[i]) for i in range(16)]
    for rnd in range(1, nr):
        s = [_SBOX[b] for b in s]
        s = [s[_SHIFT[i]] for i in range(16)]
        ns = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
            ns[4 * c + 0] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3
            ns[4 * c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3
            ns[4 * c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3]
            ns[4 * c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3]
        rk = rks[rnd]
        s = [ns[i] ^ int(rk[i]) for i in range(16)]
    s = [_SBOX[b] for b in s]
    s = [s[_SHIFT[i]] for i in range(16)]
    rk = rks[nr]
    return bytes(s[i] ^ int(rk[i]) for i in range(16))


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC encrypt, NO padding (len(data) must be a multiple of
    16).  Used by the R6 hash and by the test-side fixture encryptor."""
    rks, nr = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rks, nr, blk)
        out += prev
    return bytes(out)


def _aes_decrypt_blocks(rks, nr, blocks: np.ndarray) -> np.ndarray:
    """InvCipher (FIPS-197 §5.3) vectorized over shape (N, 16) uint8 —
    every block of a stream decrypts in one numpy pass per round."""
    s = blocks ^ rks[nr]
    for rnd in range(nr - 1, 0, -1):
        s = s[:, _INV_SHIFT]
        s = _INV_SBOX_NP[s]
        s = s ^ rks[rnd]
        # InvMixColumns on each 4-byte column
        v = s.reshape(-1, 4, 4)
        a0, a1, a2, a3 = v[:, :, 0], v[:, :, 1], v[:, :, 2], v[:, :, 3]
        n0 = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
        n1 = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
        n2 = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
        n3 = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        s = np.stack([n0, n1, n2, n3], axis=2).reshape(-1, 16)
    s = s[:, _INV_SHIFT]
    s = _INV_SBOX_NP[s]
    return s ^ rks[0]


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes | None:
    """AES-CBC decrypt, NO padding handling (caller strips).  Returns
    None when data isn't block-aligned (malformed stream: decline)."""
    if len(data) % 16 or not data:
        return b"" if not data else None
    rks, nr = _expand_key(key)
    ct = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    pt = _aes_decrypt_blocks(rks, nr, ct)
    prev = np.vstack(
        [np.frombuffer(iv, dtype=np.uint8).reshape(1, 16), ct[:-1]]
    )
    return (pt ^ prev).tobytes()


def _strip_pkcs7(data: bytes) -> bytes | None:
    if not data:
        return None
    n = data[-1]
    if not 1 <= n <= 16 or len(data) < n:
        return None
    return data[:-n]


# -------------------------------------------- Standard security handler

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)

_INT_RE = {
    k: re.compile(rb"/" + k + rb"\s+(-?\d+)")
    for k in (b"V", b"R", b"P", b"Length")
}
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R")
_ID_HEX_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")
_ID_LIT_RE = re.compile(rb"/ID\s*\[\s*\(")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")

_PDF_ESC = {
    ord("n"): 0x0A, ord("r"): 0x0D, ord("t"): 0x09, ord("b"): 0x08,
    ord("f"): 0x0C, ord("("): 0x28, ord(")"): 0x29, ord("\\"): 0x5C,
}


def _literal_bytes(b: bytes, start: int):
    """Byte-exact ``(…)`` literal parse from the open paren — the /O,
    /U, /OE, /UE entries are BINARY strings, so the text-mode parser in
    pdf_extract (which returns str) cannot be reused."""
    out = bytearray()
    depth = 1
    i = start + 1
    n = len(b)
    while i < n and depth:
        c = b[i]
        if c == 0x5C:  # backslash
            nxt = b[i + 1] if i + 1 < n else -1
            if nxt in _PDF_ESC:
                out.append(_PDF_ESC[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:
                j = i + 1
                while j < min(i + 4, n) and 0x30 <= b[j] <= 0x37:
                    j += 1
                out.append(int(b[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (0x0A, 0x0D):
                i += 2
                if nxt == 0x0D and i < n and b[i] == 0x0A:
                    i += 1
            else:
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _string_entry(d: bytes, key: bytes):
    """Binary value of ``/key (…)`` or ``/key <…>`` in dict bytes."""
    m = re.search(rb"/" + key + rb"\s*(\(|<(?!<))", d)
    if m is None:
        return None
    if m.group(1) == b"(":
        val, _ = _literal_bytes(d, m.end() - 1)
        return val
    e = d.find(b">", m.end())
    if e == -1:
        return None
    h = re.sub(rb"\s", b"", d[m.end() : e])
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return None


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (R6 hardened hash): SHA-256 seed, then rounds of
    64×(pwd‖K‖udata) AES-128-CBC-encrypted under K's halves, digest
    algorithm chosen by E[:16] mod 3, until round ≥ 64 and the last
    byte of E ≤ round − 32."""
    K = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        K1 = (pwd + K + udata) * 64
        E = aes_cbc_encrypt(K[:16], K[16:32], K1)
        # E[:16] as a big integer mod 3 == byte-sum mod 3 (256 ≡ 1 mod 3)
        mod = sum(E[:16]) % 3
        K = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](E).digest()
        i += 1
        if i >= 64 and E[-1] <= i - 32:
            return K[:32]


class PdfDecryptor:
    """File-key holder + per-object decryptor for one document.

    ``cfm`` is one of ``'rc4'`` (V1/V2 and V4 /V2 crypt filters),
    ``'aes128'`` (AESV2), ``'aes256'`` (AESV3), ``'identity'``."""

    def __init__(self, key: bytes, cfm: str, v: int):
        self.key = key
        self.cfm = cfm
        self.v = v

    def decrypt(self, num: int, gen: int, data: bytes):
        if self.cfm == "identity":
            return data
        if self.cfm == "aes256":
            if len(data) < 16:
                return None
            pt = aes_cbc_decrypt(self.key, data[:16], data[16:])
            return _strip_pkcs7(pt) if pt is not None else None
        salt = b"sAlT" if self.cfm == "aes128" else b""
        okey = hashlib.md5(
            self.key
            + (num & 0xFFFFFF).to_bytes(3, "little")
            + (gen & 0xFFFF).to_bytes(2, "little")
            + salt
        ).digest()[: min(len(self.key) + 5, 16)]
        if self.cfm == "aes128":
            if len(data) < 16:
                return None
            pt = aes_cbc_decrypt(okey, data[:16], data[16:])
            return _strip_pkcs7(pt) if pt is not None else None
        return rc4(okey, data)


def _legacy_user_key(
    o: bytes, p: int, id0: bytes, r: int, nbytes: int,
    encrypt_metadata: bool, pwd: bytes,
) -> bytes:
    """Algorithm 2: the RC4/AESV2 file key from a (padded) password."""
    padded = (pwd + _PAD)[:32]
    h = padded + o[:32] + struct.pack("<I", p & 0xFFFFFFFF) + id0
    if r >= 4 and not encrypt_metadata:
        h += b"\xff\xff\xff\xff"
    key = hashlib.md5(h).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def _legacy_expected_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the /U value implied by a file key."""
    if r == 2:
        return rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u  # 16 bytes; /U pads with 16 arbitrary bytes


def _compute_file_key(enc: dict):
    """Try the empty USER then empty OWNER password; None when neither
    validates (a genuinely passworded document — decline, don't
    fabricate)."""
    r, v = enc["r"], enc["v"]
    o, u, p, id0 = enc["o"], enc["u"], enc["p"], enc["id0"]
    if r in (2, 3, 4):
        if o is None or u is None:
            return None
        nbytes = 5 if r == 2 else max(5, min(16, enc["length"] // 8))
        key = _legacy_user_key(
            o, p, id0, r, nbytes, enc["encrypt_metadata"], b""
        )
        exp = _legacy_expected_u(key, id0, r)
        if u[: len(exp)] == exp:
            return key
        # empty OWNER password (Algorithm 3 reversed: unwrap /O to the
        # user password, then Algorithm 2 with it).  NOTE: unlike
        # Algorithm 2's 50-round loop, Algorithm 3 hashes the FULL
        # 16-byte digest each round; truncation to the key length
        # happens only at the end (matters for /Length < 128)
        okey = hashlib.md5(_PAD).digest()
        if r >= 3:
            for _ in range(50):
                okey = hashlib.md5(okey).digest()
        okey = okey[:nbytes]
        userpwd = o
        if r == 2:
            userpwd = rc4(okey, o)
        else:
            for i in range(19, -1, -1):
                userpwd = rc4(bytes(b ^ i for b in okey), userpwd)
        key = _legacy_user_key(
            o, p, id0, r, nbytes, enc["encrypt_metadata"], userpwd
        )
        exp = _legacy_expected_u(key, id0, r)
        if u[: len(exp)] == exp:
            return key
        return None
    if r in (5, 6):
        if o is None or u is None or len(u) < 48 or len(o) < 48:
            return None

        def hsh(pwd, salt, udata):
            if r == 5:
                return hashlib.sha256(pwd + salt + udata).digest()
            return _hash_2b(pwd, salt, udata)

        ue, oe = enc["ue"], enc["oe"]
        key = None
        # empty USER password: validation salt U[32:40], key salt U[40:48]
        if ue is not None and hsh(b"", u[32:40], b"") == u[:32]:
            ik = hsh(b"", u[40:48], b"")
            key = aes_cbc_decrypt(ik, b"\x00" * 16, ue[:32])
        # empty OWNER password: salts in O, U[0:48] as udata
        elif oe is not None and hsh(b"", o[32:40], u[:48]) == o[:32]:
            ik = hsh(b"", o[40:48], u[:48])
            key = aes_cbc_decrypt(ik, b"\x00" * 16, oe[:32])
        # a truncated /UE//OE yields a short key: AES-256 needs
        # exactly 32 bytes — anything else would either raise in the
        # key schedule or silently decrypt under the wrong cipher
        if key is None or len(key) != 32:
            return None
        return key
    return None


def _strip_subdicts(d: bytes) -> bytes:
    """Remove nested ``<< … >>`` sub-dictionaries (depth ≥ 2) so
    integer-entry regexes match TOP-LEVEL keys only."""
    out = bytearray()
    depth = 0
    i = 0
    n = len(d)
    while i < n:
        two = d[i : i + 2]
        if two == b"<<":
            depth += 1
            if depth <= 1:
                out += two
            i += 2
        elif two == b">>":
            if depth <= 1:
                out += two
            depth -= 1
            i += 2
        else:
            if depth <= 1:
                out.append(d[i])
            i += 1
    return bytes(out)


def find_decryptor(b: bytes):
    """``(PdfDecryptor, encrypt_obj_num)`` for an encrypted PDF whose
    user or owner password is empty; ``None`` for unencrypted documents
    (the overwhelmingly common case — one substring check) or when the
    handler/password is out of scope (caller declines the document,
    matching every decoder's contract)."""
    if b"/Encrypt" not in b:
        return None
    m = _ENCRYPT_REF_RE.search(b)
    enc_num = None
    d = None
    if m:
        enc_num = int(m.group(1))
        # locate the object body
        for om in _OBJ_RE.finditer(b):
            if int(om.group(1)) == enc_num:
                e = b.find(b"endobj", om.end())
                d = b[om.end() : e if e != -1 else len(b)]
                break
    if d is None:
        # inline /Encrypt <<…>> dict in the trailer, or tolerant scan
        # for a /Filter /Standard object
        im = re.search(rb"/Encrypt\s*<<", b)
        if im:
            depth, k = 1, im.end()
            while k < len(b) and depth:
                two = b[k : k + 2]
                if two == b"<<":
                    depth += 1
                    k += 2
                elif two == b">>":
                    depth -= 1
                    k += 2
                else:
                    k += 1
            d = b[im.end() - 2 : k]
        else:
            return None
    if b"/Standard" not in d:
        return None  # non-standard handlers: out of scope
    # top-level integer entries only: a crypt-filter SUB-dictionary
    # carries its own /Length (16, in bytes) that alphabetical-order
    # writers emit BEFORE the top-level /Length (bits) — matching it
    # would derive a wrong-size key and falsely decline the document
    top = _strip_subdicts(d)
    ints = {}
    for k, rx in _INT_RE.items():
        mm = rx.search(top)
        ints[k] = int(mm.group(1)) if mm else None
    v = ints[b"V"] or 0
    r = ints[b"R"] or (2 if v < 2 else 3)
    # first /ID element (hex or literal form); R2-4 need it, R5/6 don't
    id0 = b""
    idm = _ID_HEX_RE.search(b)
    if idm is not None:
        h = re.sub(rb"\s", b"", idm.group(1))
        if len(h) % 2:
            h += b"0"  # odd hex digit count: implied trailing 0
        try:
            id0 = bytes.fromhex(h.decode("ascii"))
        except ValueError:
            id0 = b""
    else:
        lm = _ID_LIT_RE.search(b)
        if lm is not None:
            id0, _ = _literal_bytes(b, lm.end() - 1)
    enc = {
        "v": v,
        "r": r,
        "p": ints[b"P"] if ints[b"P"] is not None else -1,
        "length": ints[b"Length"] or 40,
        "o": _string_entry(d, b"O"),
        "u": _string_entry(d, b"U"),
        "oe": _string_entry(d, b"OE"),
        "ue": _string_entry(d, b"UE"),
        "id0": id0,
        "encrypt_metadata": re.search(
            rb"/EncryptMetadata\s+false", d
        ) is None,
    }
    key = _compute_file_key(enc)
    if key is None:
        return None
    if v == 5 or r in (5, 6):
        # the key derivation is revision-driven: an R6 dict missing
        # /V still yielded a 32-byte AES-256 key above — pairing it
        # with RC4 would fabricate garbage plaintext
        cfm = "aes256"
    elif v == 4:
        # stream crypt filter: /StmF names a CF entry; resolve its /CFM.
        # Tolerant: /Identity short-circuits, else the dict's CFM names
        # (documents with differing StmF/StrF filters are out of scope —
        # streams are what the extractor decrypts).
        if re.search(rb"/StmF\s*/Identity", d):
            cfm = "identity"
        elif b"/AESV2" in d:
            cfm = "aes128"
        else:
            cfm = "rc4"
    else:
        cfm = "rc4"
    return PdfDecryptor(key, cfm, v), enc_num


def object_spans(b: bytes):
    """Sorted ``(start, end, num, gen)`` spans of every ``N G obj``
    body — the per-object (num, gen) a legacy crypt key needs."""
    spans = []
    for m in _OBJ_RE.finditer(b):
        e = b.find(b"endobj", m.end())
        spans.append(
            (m.end(), e if e != -1 else len(b), int(m.group(1)), int(m.group(2)))
        )
    return spans


def span_for(spans, pos: int):
    """The (num, gen) of the object whose body contains ``pos`` —
    linear bisect over the sorted span starts."""
    lo, hi = 0, len(spans) - 1
    best = None
    while lo <= hi:
        mid = (lo + hi) // 2
        if spans[mid][0] <= pos:
            best = spans[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    if best is not None and pos < best[1]:
        return best[2], best[3]
    return None
