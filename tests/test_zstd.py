"""zstd behavior: the error contract (ZstdError, never another
exception, never a hang, never fabricated output), the JSONL corpus
source end-to-end through Spark, and the .warc.zst reader path.
Exact-payload correctness against the reference encoder lives in
tests/test_zstd_golden.py."""

import bz2
import gzip
import lzma
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clickhouse_table_copier_spark.sources.jsonl import (
    jsonl_to_documents,
    read_jsonl,
)
from clickhouse_table_copier_spark.sources.zstd import (
    ZstdError,
    zstd_decompress,
)

from tests.test_zstd_golden import JSONL_L22, TEXT_L3, WARC_ZST

# ------------------------------------------------------------ contract


def test_empty_input_is_empty_output():
    assert zstd_decompress(b"") == b""


def test_malformed_inputs_raise_zstderror_only():
    for bad in (
        b"\x00" * 8,
        b"\x28\xb5\x2f\xfd",  # magic then nothing
        b"\x28\xb5\x2f\xfd" + b"\xff" * 16,
        TEXT_L3[: len(TEXT_L3) // 2],  # truncated mid-frame
        TEXT_L3[:-3],  # truncated checksum
    ):
        with pytest.raises(ZstdError):
            zstd_decompress(bad)


def test_corrupt_payload_never_wrong_silently():
    """Flipping bytes in the compressed body either still raises or,
    when the damage lands in skipped trailer bytes, cannot change the
    output (we only assert no NON-ZstdError escapes — decline, never
    crash)."""
    for i in range(8, len(JSONL_L22), 97):
        mangled = bytearray(JSONL_L22)
        mangled[i] ^= 0xFF
        try:
            zstd_decompress(bytes(mangled), max_output=1 << 24)
        except ZstdError:
            pass  # the expected outcome for most flips


def test_max_output_bound():
    with pytest.raises(ZstdError):
        zstd_decompress(TEXT_L3, max_output=10)


@given(st.binary(max_size=300))
@settings(max_examples=80, deadline=None)
def test_fuzz_only_zstderror(raw):
    for prefix in (b"", b"\x28\xb5\x2f\xfd"):
        try:
            zstd_decompress(prefix + raw, max_output=1 << 22)
        except ZstdError:
            pass


def test_dictionary_frames_decline():
    # frame header declaring a 1-byte dictionary id of 7
    hdr = (0xFD2FB528).to_bytes(4, "little") + bytes([0x01, 0x00, 0x07])
    with pytest.raises(ZstdError):
        zstd_decompress(hdr + b"\x01\x00\x00")


# -------------------------------------------------- JSONL corpus source


def _write_corpus(d: str):
    lines1 = b'{"id": "a", "text": "alpha doc"}\n{"id": "b", "text": "beta doc"}\n'
    lines2 = b'{"id": "c", "text": "gamma doc"}\n\n{"id": "d", "text": "delta doc"}\n'
    lines3 = b'{"id": "e", "text": "epsilon doc"}\n'
    with open(os.path.join(d, "s1.jsonl"), "wb") as f:
        f.write(lines1)
    with open(os.path.join(d, "s2.jsonl.gz"), "wb") as f:
        f.write(gzip.compress(lines2))
    with open(os.path.join(d, "s3.jsonl.xz"), "wb") as f:
        f.write(lzma.compress(lines3))
    with open(os.path.join(d, "s4.jsonl.bz2"), "wb") as f:
        f.write(bz2.compress(b'{"id": "f", "text": "zeta doc"}\n'))
    # an undecodable shard: must yield zero rows, not fail the job
    with open(os.path.join(d, "bad.jsonl.gz"), "wb") as f:
        f.write(b"\x1f\x8b garbage that is not a gzip stream")


def test_read_jsonl_mixed_compressions(spark, tmp_path):
    _write_corpus(str(tmp_path))
    rows = read_jsonl(spark, str(tmp_path)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r["source_file"]), []).append(r)
    assert sorted(by_file) == [
        "s1.jsonl", "s2.jsonl.gz", "s3.jsonl.xz", "s4.jsonl.bz2"
    ]
    assert len(by_file["s1.jsonl"]) == 2
    # blank line skipped, line_idx preserves the ORIGINAL numbering
    assert [r["line_idx"] for r in sorted(
        by_file["s2.jsonl.gz"], key=lambda r: r["line_idx"]
    )] == [0, 2]
    assert all(r["value"].startswith("{") for r in rows)


def test_read_jsonl_zst_shard(spark, tmp_path):
    """A real .jsonl.zst shard (reference-encoder golden) reads
    through the pure-Python decoder."""
    from scripts.make_zstd_golden import jsonl_payload

    with open(os.path.join(str(tmp_path), "c.jsonl.zst"), "wb") as f:
        f.write(JSONL_L22)
    df = read_jsonl(spark, str(tmp_path))
    rows = df.collect()
    expected_lines = [
        ln for ln in jsonl_payload().decode().split("\n") if ln
    ]
    assert len(rows) == len(expected_lines) == 200
    got = [r["value"] for r in sorted(rows, key=lambda r: r["line_idx"])]
    assert got == expected_lines


def test_jsonl_to_documents_projection(spark, tmp_path):
    _write_corpus(str(tmp_path))
    docs = jsonl_to_documents(
        read_jsonl(spark, str(tmp_path)), text_field="text",
        id_field="id",
    ).collect()
    texts = {r["text"] for r in docs}
    assert "alpha doc" in texts and "zeta doc" in texts
    assert len({r["doc_id"] for r in docs}) == len(docs)  # ids distinct


def test_warc_zst_shard_reads(spark, tmp_path):
    """A .warc.zst shard parses into the same records as its plain
    twin."""
    from scripts.make_zstd_golden import warc_payload

    from clickhouse_table_copier_spark.sources.warc import read_warc

    zdir = os.path.join(str(tmp_path), "z")
    pdir = os.path.join(str(tmp_path), "p")
    os.makedirs(zdir)
    os.makedirs(pdir)
    with open(os.path.join(zdir, "a.warc.zst"), "wb") as f:
        f.write(WARC_ZST)
    with open(os.path.join(pdir, "a.warc"), "wb") as f:
        f.write(warc_payload())
    zrows = read_warc(spark, zdir).drop("warc_file").collect()
    prows = read_warc(spark, pdir).drop("warc_file").collect()
    assert sorted(map(str, zrows)) == sorted(map(str, prows))


def test_warc_zst_with_embedded_dict_reads(spark, tmp_path):
    """A dictionary-bearing .warc.zst shard (the IIPC layout) parses
    into the same records as its plain twin."""
    from scripts.make_zstd_golden import warc_payload
    from tests.test_zstd_golden import WARC_ZST_DICT

    from clickhouse_table_copier_spark.sources.warc import read_warc

    zdir = os.path.join(str(tmp_path), "zd")
    pdir = os.path.join(str(tmp_path), "pd")
    os.makedirs(zdir)
    os.makedirs(pdir)
    with open(os.path.join(zdir, "a.warc.zst"), "wb") as f:
        f.write(WARC_ZST_DICT)
    with open(os.path.join(pdir, "a.warc"), "wb") as f:
        f.write(warc_payload())
    zrows = read_warc(spark, zdir).drop("warc_file").collect()
    prows = read_warc(spark, pdir).drop("warc_file").collect()
    assert len(zrows) == 2
    assert sorted(map(str, zrows)) == sorted(map(str, prows))


def test_xxh64_spec_vectors():
    """The XXH64 implementation behind checksum verification, against
    the xxHash reference test vectors."""
    from clickhouse_table_copier_spark.sources.zstd import xxh64

    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"abc") == 0x44BC2CF5AD770999


def test_content_checksum_verified():
    """A flipped byte in the decompressed-content region must raise a
    checksum mismatch (the goldens all carry checksums, so their
    passing already proves xxh64 agrees with the reference encoder);
    verification can be disabled explicitly."""
    from tests.test_zstd_golden import RLE_L9

    # flip the checksum itself (last 4 bytes of the frame)
    mangled = bytearray(RLE_L9)
    mangled[-1] ^= 0xFF
    with pytest.raises(ZstdError):
        zstd_decompress(bytes(mangled))
    assert zstd_decompress(bytes(mangled), verify_checksums=False) == b"A" * 10000


def test_cdxj_index_reads(spark, tmp_path):
    """Common Crawl CDXJ index lines parse to SURT/timestamp/typed
    fields; malformed lines decline row-wise."""
    import gzip as _gzip

    from clickhouse_table_copier_spark.sources.jsonl import (
        cdxj_records,
        read_cdxj,
    )

    lines = (
        b'com,example)/page 20260815123456 {"url": "https://example.com/page", '
        b'"mime": "text/html", "status": "200", "digest": "AAAA", '
        b'"filename": "crawl/a.warc.gz", "offset": "5678", "length": "1234"}\n'
        b"malformed-line\n"
        b'org,site)/ 20260815123500 {"url": "https://site.org/", '
        b'"mime": "application/pdf", "status": "404"}\n'
    )
    with open(os.path.join(str(tmp_path), "cdx-00000.gz"), "wb") as f:
        f.write(_gzip.compress(lines))
    recs = cdxj_records(read_cdxj(spark, str(tmp_path))).collect()
    assert len(recs) == 2
    by_surt = {r["surt"]: r for r in recs}
    r = by_surt["com,example)/page"]
    assert r["url"] == "https://example.com/page"
    assert r["status"] == 200
    assert (r["warc_filename"], r["warc_offset"], r["warc_length"]) == (
        "crawl/a.warc.gz", 5678, 1234,
    )
    assert by_surt["org,site)/"]["mime"] == "application/pdf"


def test_incremental_jsonl_ingest_two_runs(spark, tmp_path):
    """Streaming corpus ingest: run 1 lands shard A's documents, a
    shard added between runs is the ONLY thing run 2 appends (the
    checkpoint file ledger), parsed identically to the batch reader."""
    from clickhouse_table_copier_spark.streaming.incremental import (
        incremental_jsonl_documents,
    )

    corpus = os.path.join(str(tmp_path), "corpus")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(corpus)
    with open(os.path.join(corpus, "a.jsonl.gz"), "wb") as f:
        f.write(gzip.compress(
            b'{"id": "a1", "text": "first shard doc one"}\n'
            b'{"id": "a2", "text": "first shard doc two"}\n'
        ))
    q = incremental_jsonl_documents(spark, corpus, out, ckpt, id_field="id")
    q.awaitTermination()
    got1 = {r["text"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"first shard doc one", "first shard doc two"}
    from tests.test_zstd_golden import JSONL_L22

    with open(os.path.join(corpus, "b.jsonl.zst"), "wb") as f:
        f.write(JSONL_L22)
    q = incremental_jsonl_documents(spark, corpus, out, ckpt, id_field="id")
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2 + 200  # run 2 appended ONLY the new shard


def test_jsonl_missing_id_field_keeps_distinct_doc_ids(spark, tmp_path):
    """Lines missing the id field must NOT collapse onto one doc_id
    (xxhash64 of NULL is a constant — review finding)."""
    with open(os.path.join(str(tmp_path), "m.jsonl"), "wb") as f:
        f.write(
            b'{"id": "a", "text": "has id"}\n'
            b'{"text": "no id one"}\n'
            b'{"text": "no id two"}\n'
        )
    docs = jsonl_to_documents(
        read_jsonl(spark, str(tmp_path)), id_field="id"
    ).collect()
    assert len({r["doc_id"] for r in docs}) == 3


def test_multi_member_gzip_shard_reads(spark, tmp_path):
    """Concatenated gzip members (how some corpus tooling appends to
    shards) read as one logical file — stdlib gzip handles the
    multi-member stream; pinned so a future custom path keeps it."""
    two = gzip.compress(b'{"text": "member one"}\n') + gzip.compress(
        b'{"text": "member two"}\n'
    )
    with open(os.path.join(str(tmp_path), "mm.jsonl.gz"), "wb") as f:
        f.write(two)
    rows = read_jsonl(spark, str(tmp_path)).collect()
    assert len(rows) == 2


# --------------------------------------------- write_jsonl egress


@pytest.mark.parametrize("compression", ["zstd", "gzip", "lz4", "none"])
def test_write_jsonl_roundtrip(spark, tmp_path, compression):
    """Corpus re-publish round trip: documents → .jsonl.{zst,gz,}
    shards → read_jsonl → jsonl_to_documents recovers every (text,
    original id) pair.  JSON serialization is JVM-side
    (to_json(struct)), the Arrow edge only packs frames."""
    import os

    from clickhouse_table_copier_spark.sources.jsonl import write_jsonl

    src = spark.createDataFrame(
        [(i, f"text body {i} é中", f"s{i % 3}")
         for i in range(257)],
        "id long, text string, source string",
    )
    out = os.path.join(str(tmp_path), compression)
    shards = write_jsonl(
        src, out, n_shards=3, compression=compression
    )
    assert 1 <= len(shards) <= 3
    ext = {"zstd": ".jsonl.zst", "gzip": ".jsonl.gz",
           "lz4": ".jsonl.lz4", "none": ".jsonl"}[compression]
    assert all(s.endswith(ext) for s in shards)
    lines = read_jsonl(spark, out)
    docs = jsonl_to_documents(lines, text_field="text", id_field="id")
    got = {r["text"] for r in docs.collect()}
    want = {f"text body {i} é中" for i in range(257)}
    assert got == want
    # ids survive as the corpus id field (hashed consistently)
    assert docs.select("doc_id").distinct().count() == 257


def test_write_jsonl_rejects_unknown_compression(spark, tmp_path):
    from clickhouse_table_copier_spark.sources.jsonl import write_jsonl

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        write_jsonl(df, str(tmp_path), compression="xz")
