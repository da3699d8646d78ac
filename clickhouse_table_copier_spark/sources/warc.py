"""WARC ingest — the container web crawls actually arrive in.

A WARC file is a concatenation of records (``WARC/1.x`` header lines,
a blank line, ``Content-Length`` bytes of block, a blank line); the
``.warc.gz`` form compresses EACH RECORD as its own gzip member
precisely so readers can stream member-at-a-time without inflating the
whole file.  :func:`read_warc` turns shards into one row per record —
``(warc_file, record_idx, warc_type, target_uri, warc_date,
http_status, content_type, payload)`` — with the HTTP envelope of
``response`` records split off so ``payload`` is the body (the HTML a
text pipeline feeds to ``operators.html_extract``).

Scale shape (100 TB): ``binaryFile`` yields one row per shard; each
task walks its shard with a generator that yields an Arrow batch every
``batch_records`` records.  Honest per-task memory floor: ``binaryFile``
materializes the ENTIRE compressed shard as one row's ``content``
before ``mapInPandas`` sees it, so the floor is (whole compressed shard
resident) + (one gzip member's inflation at a time) + (one Arrow batch
of bodies) — the generator bounds the inflated and batched sides, not
the compressed input side.  Size shards accordingly: Common Crawl's
~1 GB ``.warc.gz`` shards fit comfortably on standard 4-8 GB-per-task
executors; tens-of-GB shards do not.  The shard is the unit of
parallelism, exactly as with the WebDataset reader.

Reference parity: none — north-star LLM-pipeline surface (SURVEY.md
§2.8); the reference engine reads SQL tables only.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


# read_warc_ranges' output: identical to WARC_SCHEMA except
# record_idx is int64 — it carries the shard byte OFFSET, which
# exceeds 2^31 on shards larger than 2 GiB
WARC_RANGE_SCHEMA = T.StructType(
    [
        f if f.name != "record_idx"
        else T.StructField("record_idx", T.LongType())
        for f in WARC_SCHEMA.fields
    ]
)


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Inflate a multi-member gzip stream one member at a time (the
    .warc.gz layout: one record per member).  Feeds fixed-size chunks
    from a memoryview so the walk is LINEAR in the shard — handing the
    decompressor ``data[pos:]`` per member would copy the remaining
    shard once per member, O(members × size) on a real crawl file.
    A corrupt or truncated member ends the walk at the last whole
    record (salvage the prefix, never fail the task)."""
    view = memoryview(data)
    n = len(data)
    chunk_size = 1 << 20
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=47)  # gzip wrapper
        out = bytearray()
        try:
            while not d.eof and pos < n:
                chunk = view[pos : pos + chunk_size]
                out += d.decompress(chunk)
                pos += len(chunk)
        except zlib.error:
            return  # bit-flipped member: salvage what we have
        if not d.eof:
            return  # truncated final member
        pos -= len(d.unused_data)  # rewind the last chunk's tail
        yield bytes(out)


def _split_records(raw: bytes) -> Iterator[bytes]:
    """Walk concatenated uncompressed WARC records via Content-Length."""
    pos = 0
    while pos < len(raw):
        if raw[pos : pos + 5] != b"WARC/":
            return
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            return
        length = None
        for line in raw[pos:hdr_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            if k.strip().lower() == b"content-length":
                try:
                    length = int(v.strip())
                except ValueError:
                    return  # malformed header: salvage the prefix
        if length is None:
            return
        end = hdr_end + 4 + length
        if end > len(raw):
            return  # shard cut mid-payload: drop the partial record
        yield raw[pos:end]
        pos = end
        while raw[pos : pos + 2] == b"\r\n":  # inter-record blank lines
            pos += 2


def _dechunk(body: bytes):
    """Undo HTTP/1.1 ``Transfer-Encoding: chunked`` framing: raw
    captures (wget/heritrix-style WARCs) store the wire bytes, so
    chunk-size hex lines sit INTERLEAVED with the content — left in
    place they corrupt extracted text, charset sniffing and every
    downstream hash.  Chunk extensions (``;…``) and trailers are
    ignored per RFC 9112; a mid-chunk truncation salvages the bytes
    that arrived; a malformed size line returns None (caller keeps the
    raw payload — never worse than before)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol == -1:
            return None
        tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(tok, 16)
        except ValueError:
            return None
        pos = eol + 2
        if size == 0:
            return bytes(out)
        if pos + size > n:  # truncated capture: salvage the prefix
            out += body[pos:]
            return bytes(out)
        out += body[pos : pos + size]
        pos += size
        if body[pos : pos + 2] == b"\r\n":
            pos += 2


def _content_decode(payload: bytes, enc: bytes):
    """Undo ``Content-Encoding`` on a response body: gzip/x-gzip/
    deflate (including the common raw-deflate misuse), zstd via the
    in-repo RFC 8878 decoder, and br via the in-repo RFC 7932 decoder
    — brotli is the modern web's default text coding, so raw-capture
    crawls are full of it.  Unknown codings and corrupt streams keep
    the raw bytes: downstream decoders decline garbage, which is
    exactly yesterday's behavior — decoding can only improve."""
    try:
        if enc in (b"gzip", b"x-gzip"):
            d = zlib.decompressobj(wbits=47)
            out = d.decompress(payload)
            out += d.flush()
            return out  # an empty decoded body is a real empty body
        if enc == b"deflate":
            try:
                return zlib.decompress(payload)
            except zlib.error:
                return zlib.decompress(payload, -15)
        if enc == b"zstd":
            from clickhouse_table_copier_spark.sources.zstd import (
                ZstdError,
                zstd_decompress,
            )

            try:
                return zstd_decompress(payload)
            except ZstdError:
                return payload
        if enc == b"br":
            from clickhouse_table_copier_spark.sources.brotli import (
                BrotliError,
                brotli_decompress,
            )

            try:
                out = brotli_decompress(payload)
            except BrotliError:
                return payload
            # brotli has no magic/checksum: garbage can decode as a
            # VALID empty stream.  A genuinely empty body compresses
            # to a couple of bytes, so an empty result from a longer
            # payload is junk — keep the raw bytes (salvage contract).
            return out if out or len(payload) <= 4 else payload
    except zlib.error:
        pass
    return payload


def _parse_record(rec: bytes):
    """One raw record → (warc_type, target_uri, warc_date, http_status,
    content_type, payload).  For response records the HTTP envelope is
    split off and the body is unframed/decoded (chunked transfer
    coding, then gzip/deflate content coding — wire order); other
    record types carry their block verbatim."""
    hdr_end = rec.find(b"\r\n\r\n")
    if hdr_end == -1:
        return None  # header never terminated: a truncated stub
    headers: dict[str, str] = {}
    for line in rec[:hdr_end].split(b"\r\n")[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode("ascii", "replace")] = (
            v.strip().decode("utf-8", "replace")
        )
    block = rec[hdr_end + 4 :]
    try:  # gzip members carry the trailing record CRLFs: trim to length
        block = block[: int(headers["content-length"])]
    except (KeyError, ValueError):
        pass
    wtype = headers.get("warc-type", "")
    uri = headers.get("warc-target-uri")
    date = headers.get("warc-date")
    status = None
    ctype = headers.get("content-type")
    payload = block
    if wtype == "response" and block[:5] == b"HTTP/":
        http_end = block.find(b"\r\n\r\n")
        if http_end != -1:
            lines = block[:http_end].split(b"\r\n")
            parts = lines[0].split(b" ", 2)
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            # for parsed responses the column means the HTTP body's
            # type: an envelope WITHOUT Content-Type yields NULL —
            # letting the WARC block type ("application/http;
            # msgtype=response") leak through would break the
            # write_warc round trip and pollute type filters
            ctype = None
            te = enc = b""
            for line in lines[1:]:
                k, _, v = line.partition(b":")
                kl = k.strip().lower()
                if kl == b"content-type":
                    ctype = v.strip().decode("utf-8", "replace")
                elif kl == b"transfer-encoding":
                    te = v.strip().lower()
                elif kl == b"content-encoding":
                    enc = v.strip().lower()
            payload = block[http_end + 4 :]
            if b"chunked" in te:
                got = _dechunk(payload)
                if got is not None:
                    payload = got
            if enc:
                payload = _content_decode(payload, enc)
    return wtype, uri, date, status, ctype, payload


def read_warc(
    spark: SparkSession, path: str, batch_records: int = 256
) -> DataFrame:
    """WARC shards under ``path`` → one row per record.  ``.warc.gz``
    inflates member-at-a-time; plain ``.warc`` walks Content-Length.
    A malformed tail stops that shard's walk at the last whole record
    (crawl files are routinely truncated mid-transfer — salvage the
    prefix rather than fail the task)."""

    shards = spark.read.format("binaryFile").load(path)
    return shards.select("path", "content").mapInPandas(
        _make_shard_expander(batch_records), WARC_SCHEMA
    )


def _looks_like_zstd(raw: bytes) -> bool:
    from clickhouse_table_copier_spark.sources.zstd import looks_like_zstd

    return looks_like_zstd(raw)


def _make_shard_expander(batch_records: int):
    """(path, content) batches → WARC record rows; shared between the
    batch reader and the Structured Streaming ingest
    (streaming/incremental.py), so both paths parse identically."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if raw[:2] == b"\x1f\x8b":
                    records = _gzip_members(raw)
                elif _looks_like_zstd(raw):
                    # .warc.zst (zstd magic, or a leading skippable
                    # frame): pure-Python RFC 8878 decode honoring the
                    # IIPC embedded-dictionary convention (skippable
                    # 0x184D2A5D carries the shared dict), then the
                    # plain Content-Length walk; undecodable shards
                    # decline this shard, not the task
                    from clickhouse_table_copier_spark.sources.zstd import (
                        ZstdError,
                        decompress_auto_dict,
                    )

                    try:
                        records = _split_records(
                            decompress_auto_dict(raw)
                        )
                    except ZstdError:
                        # a checksum-only defect (content decodes,
                        # trailer bit-flipped) should salvage the
                        # shard, not lose it — retry unverified; any
                        # other defect raises again and declines
                        try:
                            records = _split_records(
                                decompress_auto_dict(
                                    raw, verify_checksums=False
                                )
                            )
                        except ZstdError:
                            records = iter(())
                else:
                    records = _split_records(raw)
                yield from _record_batches(path_, records, batch_records)

    return expand


def _record_batches(
    path_: str, records: Iterator[bytes], batch_records: int
) -> Iterator[pd.DataFrame]:
    """Shared record→row batching for both WARC readers."""
    cols = [f.name for f in WARC_SCHEMA.fields]
    rows, idx = [], 0
    for rec in records:
        if rec[:5] != b"WARC/":
            continue  # e.g. a non-record gzip member
        parsed = _parse_record(rec)
        if parsed is None:  # truncated stub: skip
            continue
        wtype, uri, date, status, ctype, payload = parsed
        rows.append(
            (path_, idx, wtype, uri, date, status, ctype, bytearray(payload))
        )
        idx += 1
        if len(rows) >= batch_records:
            yield pd.DataFrame(rows, columns=cols)
            rows = []
    if rows:
        yield pd.DataFrame(rows, columns=cols)


# BOM sniff table, longest-prefix first (UTF-32 LE before UTF-16 LE —
# they share \xff\xfe).  The GENERIC utf-16/utf-32 codecs consume the
# BOM (like utf-8-sig does), so every BOM'd encoding of the same page
# decodes to the same string — an explicit-endian codec would leave
# U+FEFF at the front and split dedup keys by source encoding.
_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32"),
    (b"\x00\x00\xfe\xff", "utf-32"),
    (b"\xff\xfe", "utf-16"),
    (b"\xfe\xff", "utf-16"),
)
# matches both the Content-Type parameter (charset=ISO-8859-1) and the
# HTML meta forms (<meta charset="x">, http-equiv content="...charset=x")
_CHARSET_RE = re.compile(
    rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-:.]+)", re.I
)


def _sniff_decode(payload: bytes, ctype) -> str:
    """Decode an HTML body by the charset evidence the page actually
    carries, falling back to UTF-8: (1) a byte-order mark wins outright;
    (2) the Content-Type header's charset parameter; (3) a ``charset=``
    in the first 1024 bytes (the HTML5 meta-sniff window — charset
    names are ASCII, so the scan is safe in any ASCII-compatible
    encoding, which every declared-in-meta encoding is); (4) UTF-8.
    Always ``errors="replace"`` and unknown charset names fall through
    to the UTF-8 fallback — a crawl page never fails the task."""
    import codecs

    for bom, enc in _BOMS:
        if payload.startswith(bom):
            return payload.decode(enc, "replace")
    enc_name = None
    if ctype:
        m = _CHARSET_RE.search(ctype.encode("ascii", "ignore"))
        if m:
            enc_name = m.group(1).decode("ascii")
    if enc_name is None:
        m = _CHARSET_RE.search(payload[:1024])
        if m:
            enc_name = m.group(1).decode("ascii")
    if enc_name:
        try:
            codecs.lookup(enc_name)
        except LookupError:
            enc_name = None  # bogus declaration: fall back, don't raise
    return payload.decode(enc_name or "utf-8", "replace")


def responses_to_documents(
    warc_df: DataFrame, sniff_charset: bool = True
) -> DataFrame:
    """response records → ``(doc_id, url, fetched_at, raw_html)`` for
    the HTML-extraction stage: 200-status text/html bodies only, doc_id
    = deterministic xxhash64 of (warc_file, record_idx).

    With ``sniff_charset`` (default) bodies decode by their declared
    charset — BOM, then the Content-Type parameter, then the HTML5
    1024-byte meta sniff, then UTF-8-with-replacement
    (:func:`_sniff_decode`) — in one Arrow-batched ``mapInPandas``
    stage; Latin-1 and Shift-JIS pages come out as the text they are,
    not mojibake.  The bytes were crossing to Python at the very next
    stage (``operators.html_extract``) anyway, so the sniff adds no new
    JVM↔Python round trip.

    ``sniff_charset=False`` keeps the pure-JVM fast path: cast, NOT
    ``decode()`` — ANSI-mode decode raises MALFORMED_CHARACTER_CODING
    on the first Latin-1 page and kills the job, while the cast DEFERS
    validation (the JVM passes the bytes through unvalidated;
    replacement happens later at the Arrow/Python boundary), so
    non-UTF-8 bytes survive as replacement characters downstream rather
    than decoded text."""
    from pyspark.sql import functions as F

    picked = warc_df.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        # media types are case-insensitive (IIS-era servers send
        # Text/HTML)
        & F.lower(F.col("content_type")).startswith("text/html")
    )
    if not sniff_charset:
        return picked.select(
            F.xxhash64("warc_file", "record_idx").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
            F.col("payload").cast("string").alias("raw_html"),
        )
    narrow = picked.select(
        F.xxhash64("warc_file", "record_idx").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched_at"),
        "content_type",
        "payload",
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("fetched_at", T.StringType()),
            T.StructField("raw_html", T.StringType()),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "url": pdf["url"],
                    "fetched_at": pdf["fetched_at"],
                    "raw_html": [
                        _sniff_decode(bytes(p), c)
                        for p, c in zip(pdf["payload"], pdf["content_type"])
                    ],
                }
            )

    return narrow.mapInPandas(decode, out_schema)


def responses_to_pdfs(warc_df: DataFrame) -> DataFrame:
    """response records → ``(doc_id, url, fetched_at, pdf_bytes)`` for
    the PDF-extraction stage (:func:`operators.pdf_extract.
    extract_pdf_text`): 200-status ``application/pdf`` bodies, doc_id =
    deterministic xxhash64 of (warc_file, record_idx) — the exact
    mirror of :func:`responses_to_documents` for the crawl's other big
    document modality.  Bytes stay binary (no charset applies)."""
    from pyspark.sql import functions as F

    return warc_df.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.lower(F.col("content_type")).startswith("application/pdf")
    ).select(
        F.xxhash64("warc_file", "record_idx").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched_at"),
        F.col("payload").alias("pdf_bytes"),
    )


def responses_to_robots(warc_df: DataFrame) -> DataFrame:
    """response records → ``(host, body)`` for the robots stage
    (:func:`operators.robots.parse_robots`): 200-status fetches of
    ``/robots.txt`` (path match — servers label robots.txt text/plain,
    text/html, even application/octet-stream), host lowercased from
    the target URI, body via the deferring CAST (not ``decode()`` —
    ANSI-mode decode raises on the first malformed byte and kills the
    job, while the cast degrades to replacement characters; RFC 9309
    mandates UTF-8 and an unreadable body must degrade, not disallow
    the host).  The fourth projection beside documents/PDFs/media."""
    from pyspark.sql import functions as F

    path = F.coalesce(
        F.try_parse_url(F.col("target_uri"), F.lit("PATH")), F.lit("")
    )
    return warc_df.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (path == "/robots.txt")
    ).select(
        F.lower(
            F.try_parse_url(F.col("target_uri"), F.lit("HOST"))
        ).alias("host"),
        F.col("payload").cast("string").alias("body"),
    )


def responses_to_media(warc_df: DataFrame, kind: str = "image") -> DataFrame:
    """response records → the multimodal operators' ``(media_id, kind,
    content, meta_json)`` contract: 200-status ``<kind>/*`` bodies
    (``image/*`` by default — the crawl path into ``image_ahash`` /
    ``decode_image_meta`` / EXIF), media_id = deterministic xxhash64 of
    (warc_file, record_idx), provenance (url, fetched_at, content_type)
    in meta_json.  The third projection alongside
    :func:`responses_to_documents` (HTML) and :func:`responses_to_pdfs`."""
    from pyspark.sql import functions as F

    return warc_df.where(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.lower(F.col("content_type")).startswith(kind + "/")
    ).select(
        F.xxhash64("warc_file", "record_idx").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("payload").alias("content"),
        F.to_json(
            F.struct(
                F.col("target_uri").alias("url"),
                F.col("warc_date").alias("fetched_at"),
                F.col("content_type").alias("content_type"),
            )
        ).alias("meta_json"),
    )


def metadata_to_records(warc_df: DataFrame) -> DataFrame:
    """metadata records → ``(doc_id, url, fetched_at, meta_json)`` —
    the Common Crawl **WAT** shape: ``WARC-Type: metadata`` records
    whose payload is one JSON envelope per fetched page (headers, link
    graph, title).  The JSON stays a STRING column here — callers pick
    fields with ``get_json_object``/``from_json`` and Spark prunes the
    parse to just those paths; eagerly parsing the whole envelope would
    materialize the biggest JSON blob in the crawl for every row."""
    from pyspark.sql import functions as F

    return warc_df.where(F.col("warc_type") == "metadata").select(
        F.xxhash64("warc_file", "record_idx").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched_at"),
        F.col("payload").cast("string").alias("meta_json"),
    )


def _read_embedded_zdict(fobj):
    """Bounded read of a shard's LEADING IIPC skippable-frame
    dictionary (magic 0x184D2A5D) → ZstdDict | None.

    Error contract (ADVICE r12): STRUCTURAL outcomes return None —
    no magic, oversize size field, or a malformed embedded dictionary
    (``split_embedded_dict`` failure).  Transient I/O failures
    (OSError from seek/read) PROPAGATE so the caller can decline the
    current row without poisoning its per-shard cache; the file
    position is restored on every path."""
    from clickhouse_table_copier_spark.sources.zstd import (
        split_embedded_dict,
    )

    zd = None
    pos = fobj.tell()
    try:
        fobj.seek(0)
        head = fobj.read(8)
        if (
            len(head) == 8
            and int.from_bytes(head[:4], "little") == 0x184D2A5D
        ):
            size = int.from_bytes(head[4:8], "little")
            if size <= 1 << 27:  # file-read bound only
                body = fobj.read(size)
                try:
                    zd, _ = split_embedded_dict(head + body)
                except Exception:
                    zd = None  # malformed dict: structural
    finally:
        fobj.seek(pos)
    return zd


def read_warc_ranges(
    records_df: DataFrame, base_dir: str, batch_records: int = 256
) -> DataFrame:
    """Range-fetch the EXACT records a CDX index selection points at —
    the second half of the real Common Crawl workflow: filter
    :func:`sources.jsonl.cdxj_records` down to the pages you want,
    then fetch ONLY those ``(warc_filename, warc_offset,
    warc_length)`` byte ranges instead of scanning whole shards.
    Each selected range of a ``.warc.gz`` shard is one complete gzip
    member (that is WHY the member-per-record layout exists), so a
    task seeks, reads ``length`` bytes, inflates one member and parses
    one record.  ``.warc.zst`` ranges decode the same way — one zstd
    frame per record (the IIPC layout and this repo's own zstd
    egress), honoring the shard's embedded shared dictionary (leading
    skippable frame 0x184D2A5D, read once and cached per shard).

    ``records_df`` needs columns ``warc_filename, warc_offset,
    warc_length``; ``base_dir`` prefixes the filenames
    (executor-visible mount).  Ranges are repartitioned BY FILE first
    so a task opens each shard once and reads its offsets in order —
    random-access, but sequential per file.  Unreadable ranges decline
    row-wise (missing shard, bad offset, corrupt member), never fail
    the task.  Output schema = :data:`WARC_SCHEMA`; ``record_idx`` is
    the range's offset (a stable provenance key here — int64, since
    shard offsets exceed 2^31 on >2 GiB shards)."""
    import os as _os

    base_abs = _os.path.abspath(base_dir)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict = {}
        zdicts: dict = {}  # path -> ZstdDict | None (IIPC embedded)

        def _shard_zdict(path, fobj):
            """The IIPC ``.warc.zst`` convention: a LEADING skippable
            frame (magic 0x184D2A5D) carries the shard's shared
            dictionary — read it once per shard, cache per path.  The
            actual parse is the SAME :func:`zstd.split_embedded_dict`
            the whole-shard reader uses (review finding: a private
            re-implementation here could disagree with read_warc on
            the same shard).  This wrapper adds only the file-layer
            concerns: a bounded header read (a crafted size field
            must not make a range task slurp gigabytes) and the
            decline-to-None contract (an unreadable dictionary
            declines this shard's rows, never the task)."""
            if path in zdicts:
                return zdicts[path]
            # Transient I/O errors (OSError from seek/read) PROPAGATE
            # to the caller's per-row decline WITHOUT caching (ADVICE
            # r12): caching None on a transient read error would
            # permanently decline the shard's dictionary — and thus
            # every in-range frame of that shard — when a retry might
            # succeed.  Only STRUCTURAL outcomes are cached: no magic
            # / oversize header (None) or a malformed embedded
            # dictionary (None from _read_embedded_zdict).
            zd = _read_embedded_zdict(fobj)
            zdicts[path] = zd
            return zd

        try:
            for pdf in batches:
                rows = []
                for fn, off, ln in zip(
                    pdf["warc_filename"], pdf["warc_offset"],
                    pdf["warc_length"],
                ):
                    if fn is None or off is None or ln is None:
                        continue
                    path = _os.path.normpath(
                        _os.path.join(base_abs, str(fn))
                    )
                    if not path.startswith(base_abs + _os.sep):
                        # absolute or parent-escaping CDX filename: a
                        # crafted index must not read outside the mount
                        continue
                    fobj = handles.get(path)
                    if fobj is None:
                        try:
                            fobj = open(path, "rb")
                        except OSError:
                            continue  # missing shard: decline the row
                        if len(handles) > 64:
                            for h in handles.values():
                                h.close()
                            handles.clear()
                        handles[path] = fobj
                    try:
                        fobj.seek(int(off))
                        raw = fobj.read(int(ln))
                    except (OSError, ValueError):
                        continue
                    if raw[:2] == b"\x1f\x8b":
                        try:
                            raw = zlib.decompress(raw, wbits=47)
                        except zlib.error:
                            continue  # corrupt member: decline
                    elif raw[:4] == b"\x28\xb5\x2f\xfd":
                        # .warc.zst range: one frame per record (the
                        # IIPC layout and this repo's own egress);
                        # frames may need the shard's embedded dict
                        from clickhouse_table_copier_spark.sources.zstd import (  # noqa: E501
                            ZstdError,
                            zstd_decompress,
                        )

                        try:
                            raw = zstd_decompress(
                                raw, zdict=_shard_zdict(path, fobj)
                            )
                        except ZstdError:
                            continue  # corrupt frame: decline
                        except OSError:
                            # transient dict-read failure: decline
                            # THIS row only — _shard_zdict left the
                            # cache unpoisoned so a later row retries
                            continue
                    if raw[:5] != b"WARC/":
                        continue  # mid-record offset: decline, never
                        # fabricate a row from lookalike bytes
                    got = _parse_record(raw.rstrip(b"\r\n"))
                    if got is None:
                        continue
                    wtype, uri, date, status, ctype, payload = got
                    rows.append(
                        (
                            path, int(off), wtype, uri, date, status,
                            ctype, payload,
                        )
                    )
                    if len(rows) >= batch_records:
                        yield pd.DataFrame(
                            rows,
                            columns=[
                                f.name for f in WARC_RANGE_SCHEMA.fields
                            ],
                        )
                        rows = []
                if rows:
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            f.name for f in WARC_RANGE_SCHEMA.fields
                        ],
                    )
        finally:
            for h in handles.values():
                h.close()

    narrowed = (
        records_df.select(
            "warc_filename", "warc_offset", "warc_length"
        )
        .repartition("warc_filename")
        .sortWithinPartitions("warc_filename", "warc_offset")
    )
    return narrowed.mapInPandas(fetch, WARC_RANGE_SCHEMA)


def write_warc(
    records_df: DataFrame,
    path: str,
    n_shards: int = 8,
    compression: str = "gzip",
    zstd_level: int = 3,
) -> list:
    """Egress: WARC-record rows (the :data:`WARC_SCHEMA` columns —
    what :func:`read_warc` produces and every projection filters) →
    member-per-record ``.warc.gz`` shards at ``path``
    (``shard-00000.warc.gz`` …).  The write half of the crawl round
    trip: re-publishing a FILTERED crawl (robots-clean, deduped,
    quality-gated) in the layout every WARC consumer — including this
    repo's readers and the CDX range fetch — can stream.

    Each record becomes one ``WARC/1.0`` record compressed as its OWN
    gzip member (the Common Crawl layout that makes member-at-a-time
    streaming and byte-range fetches possible), carrying the MANDATORY
    ``WARC-Record-ID`` (a deterministic UUIDv5 of the provenance key,
    so re-writes are reproducible) and ``WARC-Date`` (epoch stand-in
    when the source row has none — a visible sentinel beats a
    fabricated now()).  Response payloads whose row has a status are
    re-wrapped in a minimal HTTP envelope; a STATUS-LESS response row
    (the raw-capture case where the original block was not parseable
    HTTP) writes its payload verbatim, so it reads back with
    ``http_status`` NULL — round-trip-faithful, never fabricated.

    Rows hash-partition by (warc_file, record_idx) into ``n_shards``
    tasks; the attempt-unique-temp + ``os.replace`` atomic publish
    lives in :mod:`sources.shard_io`, shared with the WebDataset
    writer.  Round-trip pinned: read_warc(write_warc(rows)) yields the
    same (type, uri, date, status, ctype, payload) rows — including
    NULL content_type in both shapes (a response envelope without
    Content-Type, a non-response record without a block type), which
    write NO Content-Type header rather than a fabricated default
    (ADVICE r11).

    ``compression='zstd'`` writes frame-per-record ``.warc.zst``
    shards instead (one zstd frame per record — concatenated frames,
    the streamable twin of member-per-record gzip): native libzstd at
    ``zstd_level`` with content checksums when the library loads, a
    spec-correct stored-block frame otherwise; ``'none'`` writes
    plain concatenated ``.warc``.  Dispatch is the shared
    :func:`sources.shard_io.egress_codec` (gzip members carry
    ``mtime=0`` so identical inputs give identical shard bytes).
    ``read_warc`` reads all three layouts back identically."""
    import uuid as _uuid

    from clickhouse_table_copier_spark.sources.shard_io import (
        egress_codec,
        write_shards,
    )

    suffix, _member = egress_codec(compression, zstd_level)
    ext = ".warc" + suffix

    parted = records_df.repartition(n_shards, "warc_file", "record_idx")

    def write_fn(batches: Iterator[pd.DataFrame], tmp: str) -> int:
        n = 0
        with open(tmp, "wb") as f:
            for pdf in batches:
                for wfile, ridx, wtype, uri, date, status, ctype, pl in zip(
                    pdf["warc_file"], pdf["record_idx"],
                    pdf["warc_type"], pdf["target_uri"],
                    pdf["warc_date"], pdf["http_status"],
                    pdf["content_type"], pdf["payload"],
                ):
                    payload = bytes(pl or b"")
                    wtype = wtype or "resource"
                    # Arrow->pandas renders nullable ints as NaN
                    has_status = status is not None and status == status
                    if wtype == "response" and has_status:
                        # a NULL content type stays ABSENT from the
                        # rebuilt envelope — substituting a made-up
                        # octet-stream would fabricate a value the
                        # capture never carried
                        block = (
                            f"HTTP/1.1 {int(status)} \r\n"
                            + (
                                f"Content-Type: {ctype}\r\n"
                                if ctype
                                else ""
                            )
                            + f"Content-Length: {len(payload)}\r\n\r\n"
                        ).encode() + payload
                        block_type = (
                            "application/http; msgtype=response"
                        )
                    else:
                        block = payload
                        # a NULL content type writes NO Content-Type
                        # header (legal per WARC 1.0 — the field is
                        # recommended, not mandatory): defaulting to
                        # octet-stream would fabricate a value the
                        # row never carried and break the round trip
                        block_type = ctype
                    rid = _uuid.uuid5(
                        _uuid.NAMESPACE_URL, f"{wfile}#{ridx}"
                    )
                    head = (
                        "WARC/1.0\r\n"
                        f"WARC-Type: {wtype}\r\n"
                        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
                        + (
                            f"WARC-Target-URI: {uri}\r\n"
                            if uri
                            else ""
                        )
                        + "WARC-Date: "
                        + (date or "1970-01-01T00:00:00Z")
                        + "\r\n"
                        + (
                            f"Content-Type: {block_type}\r\n"
                            if block_type
                            else ""
                        )
                        + f"Content-Length: {len(block)}\r\n\r\n"
                    ).encode()
                    f.write(_member(head + block + b"\r\n\r\n"))
                    n += 1
        return n

    return write_shards(parted, path, ext, write_fn)
