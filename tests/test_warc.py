"""WARC ingest: crafted records in both layouts, end-to-end to text.

The writer lives test-side: real WARC/1.0 records (warcinfo, request,
response with an HTTP envelope) assembled byte-exactly, stored both
plain and as the member-per-record .warc.gz layout — so the reader's
member-at-a-time walk and the HTTP envelope split are pinned against
known bytes, and the response flows through responses_to_documents →
extract_html_text to prose.
"""

import gzip
import os

import pytest

from clickhouse_table_copier_spark.operators.html_extract import (
    extract_html_text,
)
from clickhouse_table_copier_spark.sources.warc import (
    read_warc,
    responses_to_documents,
)

# Driver-gate lane split (r17): SLOW lane (see pytest.ini) so the
# default gate completes inside the driver's verify budget; run with
#   python -m pytest tests/ -m slow -q
pytestmark = pytest.mark.slow

_HTML = (
    "<html><head><title>T</title></head><body><p>Genuine prose long "
    "enough to clear the extractor's minimum block length easily, "
    "flowing on and on.</p></body></html>"
)


def _record(headers: dict, block: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in headers.items()
    )
    head += f"Content-Length: {len(block)}\r\n".encode()
    return head + b"\r\n" + block + b"\r\n\r\n"


def _records() -> list:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Server: x\r\n\r\n" + _HTML.encode()
    )
    return [
        _record(
            {"WARC-Type": "warcinfo", "WARC-Date": "2026-08-15T00:00:00Z"},
            b"software: test-writer",
        ),
        _record(
            {
                "WARC-Type": "request",
                "WARC-Target-URI": "https://example.com/page",
                "WARC-Date": "2026-08-15T00:00:01Z",
            },
            b"GET /page HTTP/1.1\r\nHost: example.com\r\n\r\n",
        ),
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://example.com/page",
                "WARC-Date": "2026-08-15T00:00:02Z",
                "Content-Type": "application/http; msgtype=response",
            },
            http,
        ),
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://example.com/404",
                "WARC-Date": "2026-08-15T00:00:03Z",
            },
            b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\ngone",
        ),
    ]


def _write_shards(d: str) -> None:
    recs = _records()
    with open(os.path.join(d, "a.warc"), "wb") as f:
        f.write(b"".join(recs))
    # member-per-record gzip: the CC layout
    with open(os.path.join(d, "b.warc.gz"), "wb") as f:
        for r in recs:
            f.write(gzip.compress(r))


def test_both_layouts_yield_identical_records(spark, tmp_path):
    _write_shards(str(tmp_path))
    rows = read_warc(spark, str(tmp_path)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r["warc_file"]), []).append(r)
    for fname, rs in by_file.items():
        rs.sort(key=lambda r: r["record_idx"])
        assert [r["warc_type"] for r in rs] == [
            "warcinfo", "request", "response", "response",
        ], fname
    a = [(r["warc_type"], r["target_uri"], bytes(r["payload"]))
         for r in by_file["a.warc"]]
    b = [(r["warc_type"], r["target_uri"], bytes(r["payload"]))
         for r in by_file["b.warc.gz"]]
    assert a == b


def test_http_envelope_split(spark, tmp_path):
    _write_shards(str(tmp_path))
    rows = read_warc(spark, str(tmp_path / "a.warc")).collect()
    resp = [r for r in rows if r["warc_type"] == "response"]
    ok = next(r for r in resp if r["http_status"] == 200)
    assert ok["content_type"].startswith("text/html")
    assert bytes(ok["payload"]) == _HTML.encode()
    nf = next(r for r in resp if r["http_status"] == 404)
    assert bytes(nf["payload"]) == b"gone"


def test_truncated_tail_salvages_prefix(spark, tmp_path):
    recs = _records()
    p = tmp_path / "t.warc"
    with open(p, "wb") as f:
        f.write(b"".join(recs) + b"WARC/1.0\r\nWARC-Type: resp")  # cut off
    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 4  # the whole records survive, the stub drops


def test_warc_to_text_end_to_end(spark, tmp_path):
    """The full path a web corpus takes: WARC shard → 200 text/html
    responses → HTML extraction → prose."""
    _write_shards(str(tmp_path))
    docs = responses_to_documents(
        read_warc(spark, str(tmp_path / "b.warc.gz"))
    )
    rows = docs.collect()
    assert len(rows) == 1  # the 404 is filtered
    assert rows[0]["url"] == "https://example.com/page"
    text = extract_html_text(docs, "raw_html", id_col="doc_id").collect()[0]
    assert "Genuine prose" in text["text"]
    assert text["title"] == "T"


def test_gzip_truncated_member_salvages_prefix(spark, tmp_path):
    """The .warc.gz layout truncated mid-member (the common transfer
    failure) must salvage the preceding whole records."""
    recs = _records()
    p = tmp_path / "t.warc.gz"
    with open(p, "wb") as f:
        for r in recs:
            f.write(gzip.compress(r))
        f.write(gzip.compress(_record({"WARC-Type": "response"}, b"x" * 64))[:20])
    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 4


def test_truncated_payload_drops_partial_record(spark, tmp_path):
    recs = _records()
    p = tmp_path / "cut.warc"
    blob = b"".join(recs)
    with open(p, "wb") as f:
        f.write(blob[: len(blob) - 30])  # cut inside the last body
    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 3  # the cut record drops whole


def test_content_type_case_insensitive(spark, tmp_path):
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: Text/HTML; charset=utf-8\r\n\r\n"
        + _HTML.encode()
    )
    rec = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://example.com/up",
            "WARC-Date": "2026-08-15T00:00:00Z",
        },
        http,
    )
    p = tmp_path / "c.warc"
    with open(p, "wb") as f:
        f.write(rec)
    docs = responses_to_documents(read_warc(spark, str(p))).collect()
    assert len(docs) == 1 and docs[0]["url"] == "https://example.com/up"


def test_non_utf8_body_does_not_kill_the_job(spark, tmp_path):
    """A Latin-1 page must replacement-decode, not raise ANSI
    MALFORMED_CHARACTER_CODING and fail the whole ingest."""
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        b"<html><body><p>caf\xe9 cr\xe8me, a paragraph long enough to "
        b"survive downstream filters in any case.</p></body></html>"
    )
    rec = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://example.com/latin1",
            "WARC-Date": "2026-08-15T00:00:00Z",
        },
        http,
    )
    p = tmp_path / "l1.warc"
    with open(p, "wb") as f:
        f.write(rec)
    docs = responses_to_documents(read_warc(spark, str(p))).collect()
    assert len(docs) == 1
    # no charset declared anywhere: the sniff falls back to UTF-8 with
    # replacement — the job survives and the ASCII text is intact
    assert "caf" in docs[0]["raw_html"]
    # the explicit JVM fast path also survives (defers validation)
    docs_fast = responses_to_documents(
        read_warc(spark, str(p)), sniff_charset=False
    ).collect()
    assert len(docs_fast) == 1 and "caf" in docs_fast[0]["raw_html"]


def _one_response(tmp_path, name, http_bytes, uri="https://example.com/x"):
    rec = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": uri,
            "WARC-Date": "2026-08-15T00:00:00Z",
        },
        http_bytes,
    )
    p = tmp_path / name
    with open(p, "wb") as f:
        f.write(rec)
    return str(p)


def test_charset_from_content_type_header(spark, tmp_path):
    """VERDICT r9 item 7: a declared Latin-1 page decodes to the text
    it IS — café crème, not mojibake or replacement characters."""
    body = "<html><body><p>caf\u00e9 cr\u00e8me</p></body></html>".encode(
        "iso-8859-1"
    )
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n\r\n" + body
    )
    p = _one_response(tmp_path, "l1h.warc", http)
    docs = responses_to_documents(read_warc(spark, p)).collect()
    assert len(docs) == 1
    assert "caf\u00e9 cr\u00e8me" in docs[0]["raw_html"]


def test_charset_from_meta_tag(spark, tmp_path):
    """No header charset, Shift-JIS declared in <meta> within the HTML5
    1024-byte sniff window: the Japanese text round-trips exactly."""
    jp = "\u65e5\u672c\u8a9e\u306e\u30da\u30fc\u30b8"  # 日本語のページ
    html = (
        '<html><head><meta charset="shift_jis"><title>t</title></head>'
        f"<body><p>{jp}</p></body></html>"
    )
    body = html.encode("shift_jis")
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    p = _one_response(tmp_path, "sjis.warc", http)
    docs = responses_to_documents(read_warc(spark, p)).collect()
    assert len(docs) == 1
    assert jp in docs[0]["raw_html"]


def test_charset_bom_wins_over_wrong_declaration(spark, tmp_path):
    """A UTF-8 BOM outranks a (wrong) Latin-1 header declaration, and
    the BOM itself is stripped from the decoded text."""
    text = "caf\u00e9"
    body = b"\xef\xbb\xbf" + f"<html><body><p>{text}</p></body></html>".encode(
        "utf-8"
    )
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n\r\n" + body
    )
    p = _one_response(tmp_path, "bom.warc", http)
    docs = responses_to_documents(read_warc(spark, p)).collect()
    assert len(docs) == 1
    assert text in docs[0]["raw_html"]
    assert not docs[0]["raw_html"].startswith("\ufeff")


def test_charset_bogus_declaration_falls_back(spark, tmp_path):
    """An unknown charset name must fall back to UTF-8-with-replacement,
    never raise in the task."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=not-a-real-charset\r\n\r\n"
        b"<html><body><p>plain ascii survives</p></body></html>"
    )
    p = _one_response(tmp_path, "bogus.warc", http)
    docs = responses_to_documents(read_warc(spark, p)).collect()
    assert len(docs) == 1
    assert "plain ascii survives" in docs[0]["raw_html"]


def test_incremental_warc_ingest_only_processes_new_shards(spark, tmp_path):
    """Structured Streaming crawl ingest: run 1 lands shard A's
    documents; shard B arrives; run 2 appends ONLY B's documents (the
    checkpoint file ledger skips A) — with the same parsing and charset
    decoding as the batch reader."""
    from clickhouse_table_copier_spark.streaming.incremental import (
        incremental_warc_documents,
    )

    warc_dir = tmp_path / "crawl"
    out = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    warc_dir.mkdir()

    def shard(name, urls):
        recs = []
        for u in urls:
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                b"charset=ISO-8859-1\r\n\r\n<p>caf\xe9 " + u.encode() + b"</p>"
            )
            recs.append(
                _record(
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": u,
                        "WARC-Date": "2026-08-15T00:00:00Z",
                    },
                    body,
                )
            )
        with open(warc_dir / name, "wb") as f:
            for r in recs:
                f.write(gzip.compress(r))

    shard("a.warc.gz", ["https://x/1", "https://x/2"])
    q = incremental_warc_documents(spark, str(warc_dir), out, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(out).collect()
    assert sorted(r["url"] for r in first) == ["https://x/1", "https://x/2"]
    assert all("café" in r["raw_html"] for r in first)  # sniff applied

    shard("b.warc.gz", ["https://x/3"])
    q = incremental_warc_documents(spark, str(warc_dir), out, ckpt)
    q.awaitTermination()
    second = spark.read.parquet(out).collect()
    assert sorted(r["url"] for r in second) == [
        "https://x/1", "https://x/2", "https://x/3",
    ]


def test_bom_encodings_decode_to_identical_text(spark, tmp_path):
    """Review finding (r10): the same page as UTF-8+BOM, UTF-16LE and
    UTF-16BE (BOM'd) must decode to ONE string — BOM always stripped,
    so dedup keys can't split by source encoding."""
    text = "<p>same page content</p>"
    variants = {
        "u8.warc": b"\xef\xbb\xbf" + text.encode("utf-8"),
        "u16le.warc": text.encode("utf-16"),        # BOM'd LE
        "u16be.warc": b"\xfe\xff" + text.encode("utf-16-be"),
    }
    for name, body in variants.items():
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        rec = _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": f"https://x/{name}",
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            http,
        )
        with open(tmp_path / name, "wb") as f:
            f.write(rec)
    docs = responses_to_documents(read_warc(spark, str(tmp_path))).collect()
    texts = {r["raw_html"] for r in docs}
    assert texts == {text}


def test_warc_to_images_end_to_end(spark, tmp_path):
    """The crawl's image path: WARC → image/* responses →
    decode_image_meta + aHash — the third modality projection."""
    from clickhouse_table_copier_spark.operators.multimodal import (
        decode_image_meta,
        image_ahash,
    )
    from clickhouse_table_copier_spark.sources.warc import responses_to_media
    from tests.test_jpeg_decode import encode_baseline_jpeg
    import numpy as np

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    jpg = encode_baseline_jpeg(img)
    recs = [
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://x/cat.jpg",
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: image/jpeg\r\n\r\n" + jpg,
        ),
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://x/page.html",
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>",
        ),
    ]
    p = tmp_path / "imgs.warc"
    with open(p, "wb") as f:
        f.write(b"".join(recs))
    media = responses_to_media(read_warc(spark, str(p)))
    rows = media.collect()
    assert len(rows) == 1 and '"url":"https://x/cat.jpg"' in rows[0]["meta_json"]
    meta = decode_image_meta(media).collect()[0]
    assert (meta["fmt"], meta["width"], meta["height"]) == ("jpeg", 16, 16)
    assert image_ahash(media).collect()[0]["ahash"] is not None


def _chunked(body: bytes, sizes: list) -> bytes:
    out = bytearray()
    pos = 0
    for s in sizes:
        piece = body[pos : pos + s]
        out += f"{len(piece):x}".encode() + b"\r\n" + piece + b"\r\n"
        pos += s
    out += b"0\r\n\r\n"
    return bytes(out)


def test_chunked_and_content_encoded_bodies(spark, tmp_path):
    """Raw-captured HTTP (wget/heritrix WARCs) stores the WIRE bytes:
    chunked framing interleaves hex size lines with the content, and
    Content-Encoding leaves the body gzipped — both must undo before
    text extraction, or every scanned page leaks framing garbage into
    the corpus."""
    import gzip as _gzip
    import zlib as _zlib

    html = ("<html><body><p>" + "clean prose words " * 20
            + "</p></body></html>").encode()
    chunked = _chunked(html, [7, 64, 11, len(html)])
    gz = _gzip.compress(html)
    both = _chunked(gz, [13, 50, 10**6])  # chunked OVER gzip, wire order
    cases = [
        ("https://a.example/chunked",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
         b"Transfer-Encoding: chunked\r\n\r\n" + chunked),
        ("https://a.example/gzip",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
         b"Content-Encoding: gzip\r\n\r\n" + gz),
        ("https://a.example/both",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
         b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
         + both),
        ("https://a.example/deflate-raw",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
         b"Content-Encoding: deflate\r\n\r\n"
         + _zlib.compress(html)[2:-4]),  # the common raw-deflate misuse
        ("https://a.example/plain",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html),
    ]
    recs = [
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": url,
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            block,
        )
        for url, block in cases
    ]
    p = tmp_path / "wire.warc"
    p.write_bytes(b"".join(recs))
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc,
        responses_to_documents,
    )

    docs = {
        r["url"]: r["raw_html"]
        for r in responses_to_documents(read_warc(spark, str(p))).collect()
    }
    assert len(docs) == 5
    for url, text in docs.items():
        assert "clean prose words" in text, url
        assert "Transfer" not in text and "\r" not in text, url
    # framing garbage (hex size lines) must be gone from the chunked one
    assert docs["https://a.example/chunked"] == docs["https://a.example/plain"]
    assert docs["https://a.example/both"] == docs["https://a.example/plain"]


def test_chunked_salvage_and_fallback(spark, tmp_path):
    """Mid-chunk truncation salvages the arrived bytes; a malformed
    size line keeps the raw payload (never worse than before)."""
    html = b"<p>salvaged prefix content that still extracts fine</p>"
    full = _chunked(html, [len(html)])
    truncated = full[: len(full) - 12]  # cut inside the final framing
    malformed = b"ZZZ\r\nnot chunked at all"
    recs = [
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://a.example/trunc",
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + truncated,
        ),
        _record(
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://a.example/malformed",
                "WARC-Date": "2026-08-15T00:00:00Z",
            },
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + malformed,
        ),
    ]
    p = tmp_path / "tail.warc"
    p.write_bytes(b"".join(recs))
    from clickhouse_table_copier_spark.sources.warc import read_warc

    rows = {
        r["target_uri"]: bytes(r["payload"])
        for r in read_warc(spark, str(p)).collect()
    }
    assert rows["https://a.example/trunc"].startswith(b"<p>salvaged")
    assert rows["https://a.example/malformed"] == malformed


def test_wat_metadata_records_project_to_json(spark, tmp_path):
    """WAT shards: 'metadata' records carry one JSON envelope per
    page; the projection keeps it a string for get_json_object
    pruning."""
    from pyspark.sql import functions as F

    from clickhouse_table_copier_spark.sources.warc import (
        metadata_to_records,
    )

    wat = [
        _record(
            {
                "WARC-Type": "metadata",
                "WARC-Target-URI": "https://example.com/page",
                "WARC-Date": "2026-08-15T00:00:02Z",
                "Content-Type": "application/json",
            },
            b'{"Envelope": {"WARC-Header-Length": "238", '
            b'"Payload-Metadata": {"Title": "A Page"}}}',
        ),
    ]
    with open(os.path.join(str(tmp_path), "d.warc"), "wb") as f:
        f.write(b"".join(wat))
    got = (
        metadata_to_records(read_warc(spark, str(tmp_path)))
        .select(
            "url",
            F.get_json_object(
                "meta_json", "$.Envelope.Payload-Metadata.Title"
            ).alias("title"),
        )
        .collect()
    )
    assert len(got) == 1
    assert got[0]["url"] == "https://example.com/page"
    assert got[0]["title"] == "A Page"


def test_zstd_content_encoding_undone():
    """Content-Encoding: zstd bodies decode through the in-repo RFC
    8878 decoder; corrupt zstd keeps raw bytes (decline contract)."""
    from clickhouse_table_copier_spark.sources.warc import _parse_record
    from tests.test_zstd_golden import TEXT_L3
    from scripts.make_zstd_golden import text_payload

    rec = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://example.com/z",
            "WARC-Date": "2026-08-16T00:00:00Z",
        },
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: zstd\r\n\r\n" + TEXT_L3,
    )
    got = _parse_record(rec)
    assert got is not None and got[5] == text_payload()
    bad = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://example.com/bad",
            "WARC-Date": "2026-08-16T00:00:01Z",
        },
        b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n\r\nnot zstd",
    )
    got = _parse_record(bad)
    assert got is not None and got[5] == b"not zstd"


def test_empty_compressed_body_decodes_to_empty():
    """A 200 response with Content-Encoding and a legitimately EMPTY
    body must yield b'', not the compressed wrapper bytes (review
    finding)."""
    import gzip as _gzip

    from clickhouse_table_copier_spark.sources.warc import _parse_record

    rec = _record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": "https://example.com/empty",
            "WARC-Date": "2026-08-16T00:00:00Z",
        },
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + _gzip.compress(b""),
    )
    got = _parse_record(rec)
    assert got is not None and got[5] == b""


def test_cdx_range_fetch_roundtrip(spark, tmp_path):
    """The full CC selection workflow: write a member-per-record
    .warc.gz, build its CDX index (filename/offset/length), SELECT a
    subset in the index frame, range-fetch exactly those records."""
    import json

    from clickhouse_table_copier_spark.sources.warc import (
        read_warc_ranges,
    )

    recs = _records()
    shard = os.path.join(str(tmp_path), "r.warc.gz")
    index_lines = []
    with open(shard, "wb") as f:
        for i, r in enumerate(recs):
            off = f.tell()
            member = gzip.compress(r)
            f.write(member)
            # index only the response records, like a real CDX
            if b"WARC-Type: response" in r:
                uri = r.split(b"WARC-Target-URI: ", 1)[1].split(b"\r\n")[0]
                index_lines.append(
                    f"x)/p{i} 20260815{i:06d} "
                    + json.dumps(
                        {
                            "url": uri.decode(),
                            "filename": "r.warc.gz",
                            "offset": str(off),
                            "length": str(len(member)),
                            "status": "200" if b"200 OK" in r else "404",
                        }
                    )
                )
    with open(os.path.join(str(tmp_path), "cdx-0.gz"), "wb") as f:
        f.write(gzip.compress(("\n".join(index_lines) + "\n").encode()))

    from clickhouse_table_copier_spark.sources.jsonl import (
        cdxj_records,
        read_cdxj,
    )

    idx = cdxj_records(read_cdxj(spark, os.path.join(str(tmp_path), "cdx-0.gz")))
    picked = idx.where("status = 200")  # the selection step
    got = read_warc_ranges(picked, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0]["warc_type"] == "response"
    assert got[0]["target_uri"] == "https://example.com/page"
    assert b"Genuine prose" in bytes(got[0]["payload"])
    # a bogus range declines row-wise, the good row still arrives
    from pyspark.sql import functions as F

    bad = idx.withColumn(
        "warc_offset", F.col("warc_offset") + 7
    ).unionByName(picked)
    got2 = read_warc_ranges(bad, str(tmp_path)).collect()
    assert sum(1 for r in got2 if r["target_uri"] == "https://example.com/page") >= 1


def test_write_warc_roundtrip(spark, tmp_path):
    """The egress half: filtered records written as member-per-record
    .warc.gz read back with the same semantic fields."""
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    src_dir = os.path.join(str(tmp_path), "in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "a.warc"), "wb") as f:
        f.write(b"".join(_records()))
    rows = read_warc(spark, src_dir)
    out_dir = os.path.join(str(tmp_path), "out")
    shards = write_warc(rows, out_dir, n_shards=2)
    assert shards and all(s.endswith(".warc.gz") for s in shards)
    back = read_warc(spark, out_dir)
    orig = sorted(
        (
            (r["warc_type"], r["target_uri"], r["warc_date"],
             r["http_status"], bytes(r["payload"] or b""))
            for r in rows.collect()
        )
    )
    got = sorted(
        (
            (r["warc_type"], r["target_uri"], r["warc_date"],
             r["http_status"], bytes(r["payload"] or b""))
            for r in back.collect()
        )
    )
    assert got == orig


def test_write_warc_statusless_response_roundtrips(spark, tmp_path):
    """A response row with NULL http_status (raw capture whose block
    was not parseable HTTP) must write verbatim and read back with a
    NULL status — not crash the task, not fabricate a 200 (review
    finding)."""
    from clickhouse_table_copier_spark.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        write_warc,
    )

    rows = spark.createDataFrame(
        [
            ("f", 0, "response", "https://x/raw", "2026-08-16T00:00:00Z",
             None, None, bytearray(b"not-http raw block")),
        ],
        WARC_SCHEMA,
    )
    out = os.path.join(str(tmp_path), "o")
    shards = write_warc(rows, out, n_shards=1)
    assert len(shards) == 1
    back = read_warc(spark, out).collect()
    assert len(back) == 1
    assert back[0]["http_status"] is None
    assert bytes(back[0]["payload"]) == b"not-http raw block"


def test_write_warc_null_content_type_roundtrips(spark, tmp_path):
    """ADVICE r11: NULL content_type must survive the round trip in
    BOTH shapes — a response row with status but no Content-Type in
    its envelope, and a non-response row with no block type.  Neither
    may read back as the WARC block type or a fabricated
    octet-stream."""
    from clickhouse_table_copier_spark.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        write_warc,
    )

    rows = spark.createDataFrame(
        [
            ("f", 0, "response", "https://x/a", "2026-08-16T00:00:00Z",
             200, None, bytearray(b"status yes, ctype no")),
            ("f", 1, "resource", "https://x/b", "2026-08-16T00:00:00Z",
             None, None, bytearray(b"typeless resource")),
            ("f", 2, "response", "https://x/c", "2026-08-16T00:00:00Z",
             200, "text/html", bytearray(b"<p>typed</p>")),
        ],
        WARC_SCHEMA,
    )
    out = os.path.join(str(tmp_path), "o")
    write_warc(rows, out, n_shards=1)
    back = {
        r["target_uri"]: (r["http_status"], r["content_type"],
                          bytes(r["payload"]))
        for r in read_warc(spark, out).collect()
    }
    assert back["https://x/a"] == (200, None, b"status yes, ctype no")
    assert back["https://x/b"] == (None, None, b"typeless resource")
    assert back["https://x/c"] == (200, "text/html", b"<p>typed</p>")


def test_write_warc_zstd_roundtrip(spark, tmp_path):
    """compression='zstd': frame-per-record .warc.zst shards read
    back with the same semantic rows as the gzip layout — the egress
    twin of the .warc.zst ingest path."""
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    src_dir = os.path.join(str(tmp_path), "in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "a.warc"), "wb") as f:
        f.write(b"".join(_records()))
    rows = read_warc(spark, src_dir)
    out_dir = os.path.join(str(tmp_path), "outz")
    shards = write_warc(rows, out_dir, n_shards=2, compression="zstd")
    assert shards and all(s.endswith(".warc.zst") for s in shards)
    back = read_warc(spark, out_dir)
    key = lambda r: (  # noqa: E731
        r["warc_type"], r["target_uri"], r["warc_date"],
        r["http_status"], r["content_type"],
        bytes(r["payload"] or b""),
    )
    assert sorted(map(key, back.collect())) == sorted(
        map(key, rows.collect())
    )


def test_write_warc_rejects_unknown_compression(spark, tmp_path):
    from clickhouse_table_copier_spark.sources.warc import (
        WARC_SCHEMA,
        write_warc,
    )

    rows = spark.createDataFrame([], WARC_SCHEMA)
    import pytest

    with pytest.raises(ValueError):
        write_warc(rows, str(tmp_path), compression="xz")


def test_zst_range_fetch(spark, tmp_path):
    """CDX range fetch over a .warc.zst shard (frame-per-record, no
    dictionary — this repo's own egress layout): each indexed range
    is one zstd frame and parses to one record."""
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc_ranges,
    )
    from clickhouse_table_copier_spark.sources.zstd import (
        zstd_compress,
    )

    recs = _records()
    shard = os.path.join(str(tmp_path), "r.warc.zst")
    ranges = []
    with open(shard, "wb") as f:
        for r in recs:
            off = f.tell()
            member = zstd_compress(r)
            f.write(member)
            ranges.append(("r.warc.zst", off, len(member)))
    df = spark.createDataFrame(
        ranges, "warc_filename string, warc_offset long, warc_length long"
    )
    got = read_warc_ranges(df, str(tmp_path)).collect()
    assert len(got) == len(recs)
    types = sorted(r["warc_type"] for r in got)
    assert "response" in types and "warcinfo" in types
    resp = sorted(r["http_status"] for r in got
                  if r["warc_type"] == "response")
    assert resp == [200, 404]


def test_zst_range_fetch_with_embedded_dictionary(spark, tmp_path):
    """The IIPC shared-dictionary layout: a leading skippable frame
    (0x184D2A5D) carries a raw-content dictionary, every following
    frame was compressed against it — the range fetch must read the
    dict once per shard and decode every indexed frame."""
    import pytest as _pytest

    from clickhouse_table_copier_spark.sources import (
        _native_codecs as nc,
    )

    if not nc.zstd_available():
        _pytest.skip("dictionary compression needs libzstd")
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc_ranges,
    )

    recs = _records()
    # raw-content dictionary: the shared WARC header boilerplate
    zdict = b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " \
        b"https://example.com/page\r\nContent-Type: application/http"
    shard = os.path.join(str(tmp_path), "d.warc.zst")
    ranges = []
    with open(shard, "wb") as f:
        f.write(
            (0x184D2A5D).to_bytes(4, "little")
            + len(zdict).to_bytes(4, "little")
            + zdict
        )
        for r in recs:
            off = f.tell()
            member = nc.zstd_compress_native(r, 19, zdict)
            f.write(member)
            ranges.append(("d.warc.zst", off, len(member)))
    df = spark.createDataFrame(
        ranges, "warc_filename string, warc_offset long, warc_length long"
    )
    got = read_warc_ranges(df, str(tmp_path)).collect()
    assert len(got) == len(recs)
    resp = sorted(r["http_status"] for r in got
                  if r["warc_type"] == "response")
    assert resp == [200, 404]


def test_incremental_ingest_over_zstd_egress(spark, tmp_path):
    """The full r12 loop: write_warc(compression='zstd') shards feed
    the Structured Streaming ingest through the SAME shard expander
    as the batch reader — run 1 lands shard set A, a zstd shard B
    arrives, run 2 appends only B (checkpoint ledger)."""
    from clickhouse_table_copier_spark.sources.warc import (
        WARC_SCHEMA,
        write_warc,
    )
    from clickhouse_table_copier_spark.streaming.incremental import (
        incremental_warc_documents,
    )

    crawl = tmp_path / "zcrawl"
    crawl.mkdir()
    out = str(tmp_path / "zdocs")
    ckpt = str(tmp_path / "zckpt")

    def rows(urls):
        return spark.createDataFrame(
            [
                ("f", i, "response", u, "2026-08-16T00:00:00Z", 200,
                 "text/html",
                 bytearray(b"<p>hello " + u.encode() + b"</p>"))
                for i, u in enumerate(urls)
            ],
            WARC_SCHEMA,
        )

    write_warc(rows(["https://z/1", "https://z/2"]), str(crawl),
               n_shards=1, compression="zstd")
    q = incremental_warc_documents(spark, str(crawl), out, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(out).collect()
    assert sorted(r["url"] for r in first) == [
        "https://z/1", "https://z/2",
    ]

    # a second zstd shard arrives under a different name
    more = tmp_path / "more"
    write_warc(rows(["https://z/3"]), str(more),
               n_shards=1, compression="zstd")
    import shutil

    shutil.move(
        os.path.join(str(more), "shard-00000.warc.zst"),
        os.path.join(str(crawl), "late-00000.warc.zst"),
    )
    q = incremental_warc_documents(spark, str(crawl), out, ckpt)
    q.awaitTermination()
    second = spark.read.parquet(out).collect()
    assert sorted(r["url"] for r in second) == [
        "https://z/1", "https://z/2", "https://z/3",
    ]


def test_write_warc_plain_roundtrip(spark, tmp_path):
    """compression='none' (via the shared egress codec): plain
    concatenated .warc shards read back row-identically."""
    from clickhouse_table_copier_spark.sources.warc import (
        read_warc,
        write_warc,
    )

    src_dir = os.path.join(str(tmp_path), "in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "a.warc"), "wb") as f:
        f.write(b"".join(_records()))
    rows = read_warc(spark, src_dir)
    out_dir = os.path.join(str(tmp_path), "outp")
    shards = write_warc(rows, out_dir, n_shards=1, compression="none")
    assert shards and all(s.endswith(".warc") for s in shards)
    back = read_warc(spark, out_dir)
    key = lambda r: (  # noqa: E731
        r["warc_type"], r["target_uri"], r["http_status"],
        bytes(r["payload"] or b""),
    )
    assert sorted(map(key, back.collect())) == sorted(
        map(key, rows.collect())
    )


def test_read_embedded_zdict_error_contract(tmp_path):
    """ADVICE r12: transient I/O errors PROPAGATE from the embedded-
    dictionary read (so the range fetcher declines one row and can
    retry on a later row) while structural outcomes — no magic,
    malformed dict frame — return None."""
    import io

    from clickhouse_table_copier_spark.sources.warc import (
        _read_embedded_zdict,
    )

    # structural: not a skippable frame -> None
    assert _read_embedded_zdict(io.BytesIO(b"WARC/1.0\r\n etc")) is None
    # a raw-content dictionary (any bytes) is accepted
    blob = (0x184D2A5D).to_bytes(4, "little") + (8).to_bytes(
        4, "little"
    ) + b"\x00" * 8
    assert _read_embedded_zdict(io.BytesIO(blob)) is not None
    # structural: size field past EOF (truncated dict frame) -> None
    trunc = (0x184D2A5D).to_bytes(4, "little") + (64).to_bytes(
        4, "little"
    ) + b"\x00" * 8
    assert _read_embedded_zdict(io.BytesIO(trunc)) is None

    class Flaky(io.BytesIO):
        def __init__(self, data):
            super().__init__(data)
            self.fail_next = True

        def read(self, n=-1):
            if self.fail_next:
                self.fail_next = False
                raise OSError("transient")
            return super().read(n)

    f = Flaky(trunc)
    import pytest as _pytest

    with _pytest.raises(OSError):
        _read_embedded_zdict(f)
    # retry after the transient error reaches the structural outcome
    assert _read_embedded_zdict(f) is None
