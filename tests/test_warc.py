"""WARC ingest (sources/warc): ISO 28500 framing, Common Crawl
gzip-member layout, HTTP payload split, truncation valve, malformed
resync, and composition with the HTML→text chain."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from psy_supabase_spark.sources import warc


def _record(
    wtype: str,
    payload: bytes,
    *,
    uri: str = "http://example.com/a",
    rid: str = "<urn:uuid:1>",
    ctype: str = "application/http; msgtype=response",
) -> bytes:
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Record-ID: {rid}\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return hdr + payload + b"\r\n\r\n"


def _http(body: bytes, status: int = 200) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: text/html\r\n\r\n".encode() + body
    )


HTML = b"<html><body><h1>T</h1><p>hello warc world</p></body></html>"


def test_iter_records_and_http_split():
    blob = _record("warcinfo", b"software: test", ctype="application/warc-fields")
    blob += _record("response", _http(HTML))
    blob += _record("request", _http(b"", 0), ctype="application/http; msgtype=request")
    recs = list(warc.iter_warc_records(blob))
    assert [r[0]["warc-type"] for r in recs] == ["warcinfo", "response", "request"]
    status, body = warc.split_http_payload(recs[1][1])
    assert status == 200 and body == HTML
    # non-HTTP payload passes through untouched
    status, body = warc.split_http_payload(b"plain text")
    assert status is None and body == b"plain text"


def test_malformed_record_resyncs():
    good = _record("response", _http(HTML))
    # record claiming more bytes than exist, followed by a good record
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999999\r\n\r\nxx"
    )
    recs = list(warc.iter_warc_records(bad + good))
    assert len(recs) == 1 and recs[0][0]["warc-type"] == "response"
    # garbage prefix before the first magic
    recs = list(warc.iter_warc_records(b"\x00\x01junk" + good))
    assert len(recs) == 1


def test_gunzip_members_multi():
    a = gzip.compress(_record("response", _http(b"one")))
    b = gzip.compress(_record("response", _http(b"two")))
    data = warc.gunzip_members(a + b)
    recs = list(warc.iter_warc_records(data))
    assert [warc.split_http_payload(p)[1] for _f, p in recs] == [b"one", b"two"]


def test_read_warc_end_to_end(spark, tmp_path):
    shard = b"".join(
        [
            _record("warcinfo", b"software: t", ctype="application/warc-fields"),
            _record("response", _http(HTML), uri="http://example.com/page1"),
            _record(
                "request", _http(b"", 0), ctype="application/http; msgtype=request"
            ),
            _record("response", _http(b"x" * 64), uri="http://example.com/page2"),
        ]
    )
    # one plain shard + one gzip-member shard (the Common Crawl layout)
    (tmp_path / "a.warc").write_bytes(shard)
    (tmp_path / "b.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(b"gz body"), uri="http://example.com/gz"))
    )
    df = warc.read_warc(spark, str(tmp_path), max_payload_bytes=32)
    rows = {r.target_uri: r for r in df.collect()}
    assert set(rows) == {
        "http://example.com/page1",
        "http://example.com/page2",
        "http://example.com/gz",
    }
    assert all(r.warc_type == "response" and r.http_status == 200 for r in rows.values())
    # truncation valve: payload cut at 32, true length kept
    big = rows["http://example.com/page2"]
    assert big.truncated and len(big.payload) == 32 and big.n_bytes == 64
    small = rows["http://example.com/gz"]
    assert not small.truncated and bytes(small.payload) == b"gz body"
    # keep-all mode sees every record type
    all_types = {
        r.warc_type
        for r in warc.read_warc(spark, str(tmp_path), record_types=()).collect()
    }
    assert all_types == {"warcinfo", "response", "request"}


def test_warc_to_html_text_composition(spark, tmp_path):
    """The ingest boundary composes with the WET-style extraction chain:
    WARC response bytes → html_to_text → clean text rows."""
    from psy_supabase_spark.functions.html import html_to_text

    (tmp_path / "c.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(HTML)))
    )
    df = warc.read_warc(spark, str(tmp_path))
    out = df.select(
        "target_uri",
        html_to_text(F.col("payload").cast("string")).alias("text"),
    ).collect()
    assert len(out) == 1
    assert "hello warc world" in out[0].text
    assert "<p>" not in out[0].text


def test_iter_gunzip_chunks_incremental():
    """The decompression path is incremental: small out_chunk yields many
    bounded chunks whose concatenation equals the whole-bytes result —
    the decompressed shard is never required to be resident."""
    import hashlib

    # incompressible payloads so each in_chunk feed decodes ~in_chunk bytes
    payloads = [
        b"".join(hashlib.sha256(bytes([i, j])).digest() for j in range(200))
        for i in range(4)
    ]
    blob = b"".join(gzip.compress(p) for p in payloads)
    chunks = list(warc.iter_gunzip_chunks(blob, in_chunk=512))
    assert len(chunks) >= 4 * 4  # genuinely incremental, not one blob per member
    assert max(len(c) for c in chunks) < 4 * 512  # output stays O(in_chunk)
    assert b"".join(chunks) == b"".join(payloads)
    # every in_chunk window must reproduce the same bytes (boundary safety)
    for ic in (17, 64, 1 << 20):
        assert b"".join(warc.iter_gunzip_chunks(blob, in_chunk=ic)) == b"".join(
            payloads
        )
    # corrupt tail: members before the corruption still decode in full
    assert warc.gunzip_members(gzip.compress(payloads[0]) + b"\x1f\x8bgarbage") == payloads[0]
    assert warc.gunzip_members(gzip.compress(payloads[0]) + b"plain junk") == payloads[0]


def test_scan_stream_valve_drains_oversized_payload():
    """A record far over the valve stores only valve bytes; the drained
    remainder is verified present and the NEXT record still parses —
    peak memory stays O(valve), not O(record)."""
    big = _record("response", b"A" * 100_000)
    good = _record("response", b"tail-record")
    # feed in small chunks so the scanner must pull across boundaries
    blob = big + good
    chunk_iter = (blob[i : i + 777] for i in range(0, len(blob), 777))
    recs = list(warc.scan_warc_stream(chunk_iter, max_payload_bytes=64))
    assert len(recs) == 2
    fields, payload, clen = recs[0]
    assert len(payload) == 64 and clen == 100_000 and payload == b"A" * 64
    assert recs[1][1].endswith(b"tail-record")
    # a Content-Length overrunning the STREAM (not just the buffer) is
    # malformed: the record is not emitted even though valve bytes were
    recs = list(
        warc.scan_warc_stream(
            iter((_record("response", b"B" * 500)[:-300],)), max_payload_bytes=64
        )
    )
    assert recs == []


def test_parser_yields_per_file_and_per_batch():
    """binaryFile packs many shards per partition; the parser must yield
    at file boundaries (releasing each shard) and every batch_records
    within a file — never one frame per Arrow batch of shards."""
    import pandas as pd

    shard = lambda n, tag: b"".join(
        _record("response", _http(tag + str(i).encode()), uri=f"http://x/{tag.decode()}{i}")
        for i in range(n)
    )
    pdf = pd.DataFrame(
        {
            "path": ["f1", "f2", "f3"],
            "content": [shard(5, b"a"), gzip.compress(shard(3, b"b")), shard(2, b"c")],
        }
    )
    parse = warc.make_warc_parser(
        {"response"}, max_payload_bytes=1024, strip_http_headers=True, batch_records=2
    )
    frames = list(parse(iter([pdf])))
    # every frame is single-file (per-file boundary) and ≤ batch_records
    assert all(f["path"].nunique() == 1 for f in frames)
    assert all(len(f) <= 2 for f in frames)
    # f1 (5 recs, batch 2) → 3 frames; f2 (3) → 2; f3 (2) → 1
    assert [f["path"].iloc[0] for f in frames] == ["f1"] * 3 + ["f2"] * 2 + ["f3"]
    assert sum(len(f) for f in frames) == 10


def test_wet_truncation_ends_on_clean_codepoint(spark, tmp_path):
    """Byte-boundary truncation can split a multi-byte UTF-8 codepoint;
    truncated WET text must not end in a replacement character."""
    text = "héllo wörld " * 10  # multi-byte codepoints throughout
    raw = text.encode()
    valve = 0
    # pick a valve that cuts mid-codepoint (inside the 2-byte 'é')
    valve = raw.find("é".encode()) + 1
    wet = _record("conversion", raw, uri="http://example.com/cut", ctype="text/plain")
    (tmp_path / "cut.warc.wet.gz").write_bytes(gzip.compress(wet))
    rows = warc.read_wet(spark, str(tmp_path), max_payload_bytes=valve).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.truncated and r.n_bytes == len(raw)
    assert not r.text.endswith("�")
    assert r.text == "h"  # everything before the split codepoint


def test_http_valve_applies_to_body_not_envelope(spark, tmp_path):
    """The truncation valve measures the HTTP BODY (post-strip), so a
    tiny valve still splits the header block and reports http_status."""
    body = b"z" * 200
    (tmp_path / "v.warc").write_bytes(_record("response", _http(body)))
    df = warc.read_warc(spark, str(tmp_path), max_payload_bytes=50)
    r = df.collect()[0]
    assert r.http_status == 200
    assert r.truncated and r.n_bytes == 200 and len(r.payload) == 50
    assert bytes(r.payload) == b"z" * 50


def _http_coded(body: bytes, *headers: str) -> bytes:
    head = "".join(f"{h}\r\n" for h in ("HTTP/1.1 200 OK",) + headers)
    return head.encode() + b"\r\n" + body


def _chunked(*parts: bytes) -> bytes:
    return (
        b"".join(b"%x\r\n" % len(p) + p + b"\r\n" for p in parts) + b"0\r\n\r\n"
    )


def test_dechunk_http_body():
    assert warc.dechunk_http_body(_chunked(b"hello ", b"world")) == b"hello world"
    # chunk extensions are ignored; trailers after the 0-chunk too
    ext = b"6;name=v\r\nhello \r\n5\r\nworld\r\n0\r\nX-Trailer: t\r\n\r\n"
    assert warc.dechunk_http_body(ext) == b"hello world"
    # truncated capture keeps the decoded prefix
    cut = _chunked(b"hello ", b"world")[:-12]
    assert warc.dechunk_http_body(cut).startswith(b"hello ")
    # a body that is not chunk-framed comes back as captured
    assert warc.dechunk_http_body(b"plain <html>") == b"plain <html>"


def test_split_http_payload_decodes_wire_encodings():
    body = b"<html>wire-coded body</html>"
    # chunked
    p = _http_coded(_chunked(body), "Transfer-Encoding: chunked")
    assert warc.split_http_payload(p, decode_body=True) == (200, body)
    # gzip
    p = _http_coded(gzip.compress(body), "Content-Encoding: gzip")
    assert warc.split_http_payload(p, decode_body=True) == (200, body)
    # chunked THEN gzip (RFC order: transfer coding outermost)
    p = _http_coded(
        _chunked(gzip.compress(body)),
        "Transfer-Encoding: chunked",
        "Content-Encoding: gzip",
    )
    assert warc.split_http_payload(p, decode_body=True) == (200, body)
    # deflate, both zlib-wrapped and raw (the historical server quirk)
    import zlib as _z

    p = _http_coded(_z.compress(body), "Content-Encoding: deflate")
    assert warc.split_http_payload(p, decode_body=True) == (200, body)
    raw = _z.compressobj(wbits=-_z.MAX_WBITS)
    p = _http_coded(
        raw.compress(body) + raw.flush(), "Content-Encoding: deflate"
    )
    assert warc.split_http_payload(p, decode_body=True) == (200, body)
    # corrupt coded body stays as captured (best-effort policy)
    p = _http_coded(b"\x1f\x8bnot really gzip", "Content-Encoding: gzip")
    assert warc.split_http_payload(p, decode_body=True) == (
        200, b"\x1f\x8bnot really gzip",
    )
    # decode_body=False leaves wire bytes untouched
    p = _http_coded(gzip.compress(body), "Content-Encoding: gzip")
    assert warc.split_http_payload(p)[1] == gzip.compress(body)


def test_decode_http_body_bounded_bomb_safe():
    """A compression bomb costs O(valve): retention caps at the valve,
    the remainder is counted for n_bytes but never held."""
    bomb_plain = b"\x00" * 10_000_000  # 10 MB of zeros -> ~10 KB gzip
    head = b"content-encoding: gzip"
    stored, total = warc.decode_http_body_bounded(
        head, gzip.compress(bomb_plain), 1024
    )
    assert len(stored) == 1024 and total == 10_000_000
    # plain body passes through
    stored, total = warc.decode_http_body_bounded(b"", b"abc", 1024)
    assert (stored, total) == (b"abc", 3)


def test_read_warc_decode_http_body_end_to_end(spark, tmp_path):
    body = b"<p>served compressed</p>" * 20
    rec = _record(
        "response",
        _http_coded(gzip.compress(body), "Content-Encoding: gzip"),
    )
    (tmp_path / "z.warc.gz").write_bytes(gzip.compress(rec))
    r = warc.read_warc(spark, str(tmp_path), decode_http_body=True).collect()[0]
    assert bytes(r.payload) == body
    assert r.n_bytes == len(body) and not r.truncated and r.http_status == 200
    # valve applies to the DECODED entity
    r = warc.read_warc(
        spark, str(tmp_path), decode_http_body=True, max_payload_bytes=40
    ).collect()[0]
    assert r.truncated and len(r.payload) == 40 and r.n_bytes == len(body)


def test_read_warc_stream_twin_matches_batch(spark, tmp_path):
    """The streaming twin parses the same shards to the same rows as the
    batch path (byte-identical parser), and new files landing between
    micro-batches flow through."""
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    (shard_dir / "a.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(b"batch one"), uri="http://x/1"))
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _drain():
        q = (
            warc.read_warc_stream(spark, str(shard_dir), max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    assert warc.read_warc_stream(spark, str(shard_dir)).isStreaming
    _drain()
    # a second shard lands; the restarted drain (same checkpoint) picks
    # up ONLY the new file — exactly-once across restarts
    (shard_dir / "b.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(b"stream two"), uri="http://x/2"))
    )
    _drain()
    got = {
        r.target_uri: bytes(r.payload) for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.target_uri: bytes(r.payload)
        for r in warc.read_warc(spark, str(shard_dir)).collect()
    }
    assert got == batch
    assert got == {"http://x/1": b"batch one", "http://x/2": b"stream two"}


def test_read_wet_stream_twin(spark, tmp_path):
    shard_dir = tmp_path / "wet"
    shard_dir.mkdir()
    (shard_dir / "x.warc.wet.gz").write_bytes(
        gzip.compress(
            _record("conversion", b"wet text", uri="http://x/w", ctype="text/plain")
        )
    )
    q = (
        warc.read_wet_stream(spark, str(shard_dir))
        .writeStream.format("memory")
        .queryName("wet_stream_t")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM wet_stream_t").collect()
    assert len(rows) == 1 and rows[0].text == "wet text"


def test_warc_roundtrip_evidence_matches_grammar(spark):
    """The oracle-evidence harness (queries/pipeline_queries): per-doc
    mini-shards through the PRODUCTION parser reproduce the grammar's
    md5s/lengths/flags, including malformed-record resync and Unicode."""
    import hashlib

    from psy_supabase_spark.queries.pipeline_queries import (
        _WARC_HTML_MID,
        _WARC_HTML_PREFIX,
        _WARC_HTML_SUFFIX,
        _WET_VALVE,
        warc_roundtrip_evidence,
    )

    docs = spark.createDataFrame(
        [(10, "plain ascii body"), (77, "ünïcode héllo — σ")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in warc_roundtrip_evidence(docs).collect()}
    assert set(rows) == {10, 77}
    for did, text in ((10, "plain ascii body"), (77, "ünïcode héllo — σ")):
        r = rows[did]
        html = f"{_WARC_HTML_PREFIX}{did}{_WARC_HTML_MID}{text}{_WARC_HTML_SUFFIX}"
        wet_len = 60 + did % 80
        assert r.warc_n_records == 2  # malformed record resynced, not counted
        assert r.warc_status == 200
        assert r.warc_resp_md5 == hashlib.md5(html.encode()).hexdigest()
        assert r.warc_resp_n_bytes == len(html.encode())
        assert r.warc_wet_trunc == (wet_len > _WET_VALVE)
        assert r.warc_wet_md5 == hashlib.md5(b"x" * min(wet_len, _WET_VALVE)).hexdigest()
        assert r.warc_wet_n_bytes == wet_len


def test_read_warcinfo_provenance(spark, tmp_path):
    """Shard lineage: the warcinfo record parses to a key->value map,
    including values that contain colons (URLs)."""
    fields = (
        b"software: Test-Crawler/1.0\r\n"
        b"isPartOf: CC-MAIN-2024-01\r\n"
        b"description: crawl of https://example.com:8080/x\r\n"
    )
    shard = _record("warcinfo", fields, ctype="application/warc-fields")
    shard += _record("response", _http(b"page"), uri="http://x/p")
    (tmp_path / "s.warc.gz").write_bytes(gzip.compress(shard))
    rows = warc.read_warcinfo(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    info = rows[0].info
    assert info["software"] == "Test-Crawler/1.0"
    assert info["isPartOf"] == "CC-MAIN-2024-01"
    assert info["description"] == "crawl of https://example.com:8080/x"
    # joins back to record rows on path for lineage
    recs = warc.read_warc(spark, str(tmp_path))
    joined = recs.join(
        warc.read_warcinfo(spark, str(tmp_path)).select(
            "path", F.col("info")["isPartOf"].alias("crawl_id")
        ),
        "path",
    ).collect()
    assert joined[0].crawl_id == "CC-MAIN-2024-01"


def test_corrupt_member_isolated_per_file(spark, tmp_path):
    """A corrupt gzip member mid-shard costs only THAT shard's tail:
    records before the corruption survive, and the next file is
    untouched (per-file parse isolation)."""
    r1 = gzip.compress(_record("response", _http(b"before"), uri="http://x/ok1"))
    r2 = gzip.compress(_record("response", _http(b"after"), uri="http://x/lost"))
    corrupt = b"\x1f\x8b\x08corrupt-member-garbage"
    (tmp_path / "bad.warc.gz").write_bytes(r1 + corrupt + r2)
    (tmp_path / "good.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(b"next file"), uri="http://x/ok2"))
    )
    rows = {r.target_uri for r in warc.read_warc(spark, str(tmp_path)).collect()}
    assert "http://x/ok1" in rows and "http://x/ok2" in rows
    assert "http://x/lost" not in rows  # the corrupt shard's tail, by policy


def test_read_wat_and_links(spark, tmp_path):
    """WAT metadata records parse to JSON rows and wat_links extracts
    the outlink edge list JVM-side (truncated rows drop out)."""
    import json as _json

    envelope = _json.dumps(
        {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Links": [
                                {"path": "A@/href", "url": "http://out/1"},
                                {"path": "A@/href", "url": "http://out/2"},
                            ]
                        }
                    }
                }
            }
        }
    ).encode()
    blob = _record("metadata", envelope, uri="http://x/page", ctype="application/json")
    (tmp_path / "m.warc.wat.gz").write_bytes(gzip.compress(blob))
    wat = warc.read_wat(spark, str(tmp_path))
    rows = wat.collect()
    assert len(rows) == 1 and not rows[0].truncated
    links = sorted(r.link_url for r in warc.wat_links(wat).collect())
    assert links == ["http://out/1", "http://out/2"]
    # truncated envelopes (broken JSON) drop out of the edge list
    cut = warc.read_wat(spark, str(tmp_path), max_payload_bytes=20)
    assert cut.collect()[0].truncated
    assert warc.wat_links(cut).count() == 0


def test_glob_filters_mixed_crawl_dir(spark, tmp_path):
    """Crawl directories mix *.warc.gz / *.wet.gz; the glob prunes at
    file-listing time so only the asked-for shards are ever read."""
    (tmp_path / "a.warc.gz").write_bytes(
        gzip.compress(_record("response", _http(b"warc body"), uri="http://x/warc"))
    )
    (tmp_path / "b.wet.gz").write_bytes(
        gzip.compress(
            _record("conversion", b"wet body", uri="http://x/wet", ctype="text/plain")
        )
    )
    rows = warc.read_warc(spark, str(tmp_path), glob="*.warc.gz").collect()
    assert [r.target_uri for r in rows] == ["http://x/warc"]
    rows = warc.read_warc(
        spark, str(tmp_path), record_types=("conversion",), glob="*.wet.gz"
    ).collect()
    assert [r.target_uri for r in rows] == ["http://x/wet"]


def test_read_wet_conversion_records(spark, tmp_path):
    wet = _record(
        "conversion",
        "extracted text body\nsecond line".encode(),
        uri="http://example.com/wet",
        ctype="text/plain",
    )
    (tmp_path / "x.warc.wet.gz").write_bytes(gzip.compress(wet))
    rows = warc.read_wet(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.target_uri == "http://example.com/wet"
    assert r.text == "extracted text body\nsecond line"
    assert not r.truncated


def _zlib_header_mimic_raw_deflate() -> tuple[bytes, bytes]:
    """(wire_bytes, true_entity): a RAW-deflate stream (two stored
    blocks + final empty block) whose first two bytes 0x08 0x1D form a
    VALID zlib header — the ~1/1000 adversarial shape from the r10
    advice.  Under MAX_WBITS zlib decodes ~64 KB of garbage fixed-
    huffman literals across the first 64 KiB chunk, then raises
    mid-stream in the second chunk; under -MAX_WBITS it decodes cleanly.
    Constants found by offline search; the asserts re-verify both
    properties so the construction can't rot silently."""
    import zlib as _z

    LEN1, LEN2 = 61981, 4096
    data1 = b"A" * LEN1
    err_at = (1 << 16) + 512 - (5 + LEN1 + 5)
    data2 = b"A" * err_at + b"\x63" + b"A" * (LEN2 - err_at - 1)
    wire = (
        bytes([0x08, 0x1D, 0xF2, (0xFFFF - LEN1) & 0xFF, (0xFFFF - LEN1) >> 8])
        + data1
        + bytes([0x78, LEN2 & 0xFF, LEN2 >> 8, (0xFFFF - LEN2) & 0xFF,
                 (0xFFFF - LEN2) >> 8])
        + data2
        + bytes([0x01, 0x00, 0x00, 0xFF, 0xFF])
    )
    entity = data1 + data2
    # property 1: raw-deflate decodes cleanly to the entity
    assert _z.decompress(wire, -_z.MAX_WBITS) == entity
    # property 2: zlib-wrapped yields output in chunk 1, errors in chunk 2
    d = _z.decompressobj(_z.MAX_WBITS)
    garbage = d.decompress(wire[: 1 << 16])
    assert garbage and garbage != entity[: len(garbage)]
    try:
        d.decompress(wire[1 << 16 :])
        raise AssertionError("expected mid-stream zlib error")
    except _z.error:
        pass
    return wire, entity


def test_deflate_zlib_header_mimic_retries_raw():
    """A raw-deflate body whose first two bytes mimic a zlib header must
    NOT be accepted as the zlib-wrapped attempt's garbage partial — the
    mid-stream error routes to the raw-deflate retry (r10 advice)."""
    wire, entity = _zlib_header_mimic_raw_deflate()
    head = b"content-encoding: deflate"
    stored, total = warc.decode_http_body_bounded(head, wire, 1 << 21)
    assert total == len(entity) and stored == entity
    # same through the public convenience API
    p = _http_coded(wire, "Content-Encoding: deflate")
    status, body = warc.split_http_payload(p, decode_body=True)
    assert status == 200 and body == entity


def test_split_http_payload_decode_is_bounded():
    """The public decode flag can no longer materialize O(decoded)
    bytes: retention caps at decode_cap (r10 verdict, wrong #1)."""
    bomb_plain = b"\x00" * 10_000_000
    p = _http_coded(gzip.compress(bomb_plain), "Content-Encoding: gzip")
    status, body = warc.split_http_payload(p, decode_body=True, decode_cap=2048)
    assert status == 200 and len(body) == 2048 and body == bomb_plain[:2048]
    # default cap is the 2 MiB valve
    status, body = warc.split_http_payload(p, decode_body=True)
    assert len(body) == 2 * 1024 * 1024


def test_truncated_flag_reflects_stored_loss(spark, tmp_path):
    """truncated derives from what was actually STORED, not just the
    n_bytes>valve comparison (r10 advice): an HTTP header block over
    HTTP_HEAD_ALLOWANCE, and a chunked capture cut at the scan valve,
    both flag even when n_bytes <= the valve."""
    # case 1: header block over the allowance eats into the stored body
    pad = "x" * (warc.HTTP_HEAD_ALLOWANCE + 400)
    big_head = _http_coded(b"B" * 900, f"X-Pad: {pad}")
    rec = _record("response", big_head)
    (tmp_path / "head.warc.gz").write_bytes(gzip.compress(rec))
    r = warc.read_warc(
        spark, str(tmp_path / "head.warc.gz"), max_payload_bytes=1000
    ).collect()[0]
    assert r.n_bytes == 900  # true body length is known exactly
    assert len(r.payload) < 900  # ...but the stored body is short
    assert r.truncated  # and the flag says so (was silently False)

    # case 2: wire-decode of a capture the scan valve cut — the decoded
    # prefix is complete-looking (n_bytes == len(payload) <= valve) but
    # the true entity continues past the cut
    ext = "y" * (warc.HTTP_HEAD_ALLOWANCE + 2000)
    wire = (
        b"5\r\nhello\r\n"
        + f"1;{ext}".encode() + b"\r\nZ\r\n"
        + b"0\r\n\r\n"
    )
    rec = _record(
        "response", _http_coded(wire, "Transfer-Encoding: chunked")
    )
    (tmp_path / "cut.warc.gz").write_bytes(gzip.compress(rec))
    r = warc.read_warc(
        spark,
        str(tmp_path / "cut.warc.gz"),
        max_payload_bytes=200,
        decode_http_body=True,
    ).collect()[0]
    assert bytes(r.payload) == b"hello" and r.n_bytes == 5
    assert r.truncated  # the capture was cut: 'Z' was lost


def test_dechunk_rejects_negative_chunk_size():
    """int(b'-6', 16) parses: a negative chunk-length line previously
    looped forever while growing memory (attacker-controlled crawl
    data) — it must terminate and fall back to the captured bytes."""
    body = b"-6\r\nattacker controlled\r\n0\r\n\r\n"
    assert warc.dechunk_http_body(body) == body  # not framed: as captured
    # negative size AFTER a valid chunk: keep what decoded, stop there
    body2 = b"5\r\nhello\r\n-6\r\nx\r\n0\r\n\r\n"
    assert warc.dechunk_http_body(body2) == b"hello"


def test_gzip_decode_error_flags_truncated(spark, tmp_path):
    """A gzip body corrupted mid-stream decodes to a PARTIAL entity:
    the status reports decode_error and read_warc marks the row
    truncated instead of presenting the prefix as complete."""
    entity = b"x" * 50_000
    gz = bytearray(gzip.compress(entity))
    gz[len(gz) // 2] ^= 0xFF  # corrupt mid-stream
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + bytes(gz)
    )
    st: dict = {}
    body, total = warc.decode_http_body_bounded(
        http.split(b"\r\n\r\n")[0].lower(), bytes(gz), 1 << 21, status=st
    )
    assert st.get("decode_error") and 0 < total < len(entity)
    rec = _record("response", http, uri="http://cut.example/")
    (tmp_path / "c.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    r = warc.read_warc(spark, str(tmp_path), decode_http_body=True).collect()[0]
    assert r.truncated is True
    assert 0 < r.n_bytes < len(entity)


def test_gzip_empty_entity_decodes_clean():
    """A valid gzip encoding of an EMPTY body is a clean decode, not a
    failure: the body must come back empty, not as raw gzip magic."""
    gz = gzip.compress(b"")
    st: dict = {}
    body, total = warc.decode_http_body_bounded(
        b"content-encoding: gzip", gz, 1 << 20, status=st
    )
    assert (body, total) == (b"", 0)
    assert not st.get("decode_error") and not st.get("undecoded")
    # deflate sibling
    zl = __import__("zlib").compress(b"")
    body2, total2 = warc.decode_http_body_bounded(
        b"content-encoding: deflate", zl, 1 << 20
    )
    assert (body2, total2) == (b"", 0)


def test_undecodable_valve_cut_keeps_true_n_bytes(spark, tmp_path):
    """Header claims gzip but the body isn't: the capture comes back
    as-is (undecoded) and a valve-cut record keeps the TRUE framed body
    length, not the stored-prefix length."""
    entity = b"y" * 9_000  # "gzip" per header, plain bytes in fact
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + entity
    )
    rec = _record("response", http, uri="http://valve.example/")
    (tmp_path / "v.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    rows = warc.read_warc(
        spark, str(tmp_path), decode_http_body=True, max_payload_bytes=1024
    ).collect()
    r = rows[0]
    head_len = len(http) - len(entity)
    assert r.n_bytes == len(http) - head_len  # true framed body length
    assert r.truncated is True
    assert len(bytes(r.payload)) <= 1024


def test_wire_coding_headers_ows_variants(spark, tmp_path):
    """RFC 9112 allows any (or no) whitespace after the header colon:
    'Content-Encoding:gzip' must decode like 'Content-Encoding: gzip'."""
    entity = b"<p>tight header</p>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding:gzip\r\n\r\n" + gzip.compress(entity)
    )
    rec = _record("response", http, uri="http://ows.example/")
    chunked = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding:\tchunked\r\n\r\n"
        b"5\r\nhello\r\n0\r\n\r\n"
    )
    rec2 = _record("response", chunked, uri="http://ows2.example/", rid="<urn:uuid:2>")
    (tmp_path / "o.warc.gz").write_bytes(
        gzip.compress(rec, compresslevel=1)
        + gzip.compress(rec2, compresslevel=1)
    )
    rows = {
        r.target_uri: r
        for r in warc.read_warc(
            spark, str(tmp_path), decode_http_body=True
        ).collect()
    }
    assert bytes(rows["http://ows.example/"].payload) == entity
    assert bytes(rows["http://ows2.example/"].payload) == b"hello"


def test_mixed_case_application_http_strips(spark, tmp_path):
    """MIME types are case-insensitive: 'Application/HTTP' records must
    strip their HTTP envelope like lowercase ones."""
    http = _http(b"<p>case</p>")
    rec = _record(
        "response", http, uri="http://case.example/",
        ctype="Application/HTTP; msgtype=response",
    )
    (tmp_path / "m.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    r = warc.read_warc(spark, str(tmp_path)).collect()[0]
    assert bytes(r.payload) == b"<p>case</p>"
    assert r.http_status == 200


def test_folded_warc_header_unfolds():
    """LWS continuation lines (legal ISO 28500) extend the previous
    field instead of vanishing or parsing as a bogus new field."""
    payload = b"body"
    hdr = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://long.example\r\n"
        b"  /folded/path\r\n"
        b"Content-Type: text/plain\r\n"
        + f"Content-Length: {len(payload)}\r\n\r\n".encode()
    )
    recs = list(warc.scan_warc_stream(iter([hdr + payload + b"\r\n\r\n"])))
    assert len(recs) == 1
    fields, _body, _clen = recs[0]
    assert fields["warc-target-uri"] == "http://long.example /folded/path"


def test_warcinfo_repeated_field_last_wins(spark, tmp_path):
    """warc-fields payloads may legally repeat a field name; the info
    map dedups LAST-WINS instead of failing under Spark's default
    mapKeyDedupPolicy=EXCEPTION (r10 advice)."""
    payload = (
        b"software: crawler/1.0\r\n"
        b"robots: classic\r\n"
        b"robots: obeyed\r\n"
        b"isPartOf: CRAWL-2026\r\n"
    )
    rec = _record(
        "warcinfo", payload, ctype="application/warc-fields",
        uri="", rid="<urn:uuid:info>",
    )
    (tmp_path / "i.warc.gz").write_bytes(gzip.compress(rec))
    rows = warc.read_warcinfo(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    info = rows[0].info
    assert info["software"] == "crawler/1.0"
    assert info["robots"] == "obeyed"  # last occurrence wins
    assert info["isPartOf"] == "CRAWL-2026"


# ---------------------------------------------------------------- CDX

from psy_supabase_spark.sources import cdx


def _three_record_shard() -> tuple[bytes, list[bytes]]:
    """A Common-Crawl-layout shard: one gzip member per record."""
    recs = [
        _record("response", _http(b"<p>alpha</p>"), uri="http://a.example/x",
                rid="<urn:uuid:a>"),
        _record("response", _http(b"<p>beta</p>", 404), uri="http://b.example/y",
                rid="<urn:uuid:b>"),
        _record("response", _http(b"<p>gamma</p>"), uri="http://c.example/z",
                rid="<urn:uuid:c>"),
    ]
    members = [gzip.compress(r, compresslevel=1) for r in recs]
    return b"".join(members), members


def test_surt_key():
    assert cdx.surt_key("http://www.Example.COM/Path?Q=1") == (
        "com,example,www)/path?q=1"
    )
    assert cdx.surt_key("https://a.b.c:8080/x") == "c,b,a:8080)/x"
    assert cdx.surt_key("http://user@host.org") == "org,host)/"
    assert cdx.surt_key("not-a-url") == "not-a-url"


def test_index_warc_members_exact_offsets(spark, tmp_path):
    shard, members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = cdx.index_warc_members(spark, str(tmp_path)).orderBy("offset").collect()
    assert len(idx) == 3
    # offsets/lengths are byte-exact: each indexed range IS one member
    off = 0
    for row, member in zip(idx, members):
        assert row.offset == off and row.length == len(member)
        assert shard[row.offset : row.offset + row.length] == member
        off += len(member)
    assert [r.url for r in idx] == [
        "http://a.example/x", "http://b.example/y", "http://c.example/z",
    ]
    assert [r.status for r in idx] == [200, 404, 200]
    assert idx[0].urlkey == "example,a)/x"
    assert idx[0].timestamp == "20240101000000"
    assert all(r.warc_type == "response" for r in idx)


def test_index_warc_members_skips_corrupt_member(spark, tmp_path):
    shard, members = _three_record_shard()
    # corrupt the middle member's deflate body (past its 10-byte header)
    bad = bytearray(shard)
    mid = len(members[0]) + 14
    bad[mid] ^= 0xFF
    (tmp_path / "s.warc.gz").write_bytes(bytes(bad))
    idx = cdx.index_warc_members(spark, str(tmp_path)).orderBy("offset").collect()
    urls = [r.url for r in idx]
    assert "http://a.example/x" in urls and "http://c.example/z" in urls


def test_cdxj_roundtrip(spark, tmp_path):
    shard, _members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = cdx.index_warc_members(spark, str(tmp_path))
    lines_dir = tmp_path / "cdx"
    cdx.format_cdxj(idx).write.mode("overwrite").text(str(lines_dir))
    back = cdx.read_cdx(spark, str(lines_dir)).orderBy("offset").collect()
    orig = idx.orderBy("offset").collect()
    assert len(back) == 3
    for b, o in zip(back, orig):
        assert (b.urlkey, b.timestamp, b.url) == (o.urlkey, o.timestamp, o.url)
        assert (b.filename, b.offset, b.length) == (o.filename, o.offset, o.length)
        assert (b.status, b.mime) == (o.status, o.mime)


def test_fetch_records_by_offset(spark, tmp_path):
    """The random-access core: a filtered index pulls exactly its
    records, byte-identical to the full-scan path."""
    shard, _members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = cdx.index_warc_members(spark, str(tmp_path))
    hits = idx.where(F.col("status") == 200)  # 2 of 3 records
    rows = {
        r.target_uri: r
        for r in cdx.fetch_records(hits).collect()
    }
    assert set(rows) == {"http://a.example/x", "http://c.example/z"}
    full = {
        r.target_uri: r
        for r in warc.read_warc(spark, str(tmp_path)).collect()
    }
    for uri, r in rows.items():
        assert bytes(r.payload) == bytes(full[uri].payload)
        assert r.http_status == full[uri].http_status
        assert r.n_bytes == full[uri].n_bytes


def test_fetch_records_relative_filename_and_root(spark, tmp_path):
    shard, members = _three_record_shard()
    sub = tmp_path / "crawl-data"
    sub.mkdir()
    (sub / "s.warc.gz").write_bytes(shard)
    idx = spark.createDataFrame(
        [("crawl-data/s.warc.gz", 0, len(members[0]))],
        "filename string, offset long, length long",
    )
    rows = cdx.fetch_records(idx, warc_root=str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].target_uri == "http://a.example/x"


def test_fetch_records_stale_offset_resyncs(spark, tmp_path):
    """Index drift: an offset pointing BEFORE the true member start
    (inside the previous member's tail) resyncs to the next gzip magic
    in the window; an indexed length that under-covers the member is
    completed by extension reads; an unrecoverable row is skipped."""
    shard, members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    fname = str(tmp_path / "s.warc.gz")
    m1_off = len(members[0])
    idx = spark.createDataFrame(
        [
            # stale: 10 bytes early, generous length -> resync forward
            (fname, m1_off - 10, len(members[1]) + 10),
            # stale: length 12 bytes short -> extension read completes it
            (fname, m1_off + len(members[1]), len(members[2]) - 12),
            # unrecoverable: no gzip magic anywhere in the window
            (fname, len(shard) - 4, 4),
        ],
        "filename string, offset long, length long",
    )
    rows = cdx.fetch_records(idx).orderBy("target_uri").collect()
    assert [r.target_uri for r in rows] == [
        "http://b.example/y", "http://c.example/z",
    ]
    assert rows[0].http_status == 404


def test_fetch_records_missing_shard_skipped(spark, tmp_path):
    shard, members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = spark.createDataFrame(
        [
            (str(tmp_path / "s.warc.gz"), 0, len(members[0])),
            (str(tmp_path / "gone.warc.gz"), 0, 100),
        ],
        "filename string, offset long, length long",
    )
    rows = cdx.fetch_records(idx).collect()
    assert len(rows) == 1 and rows[0].target_uri == "http://a.example/x"


def test_fetch_records_member_cap_guards_bombs(spark, tmp_path):
    bomb_rec = _record("response", _http(b"\x00" * 5_000_000))
    member = gzip.compress(bomb_rec, compresslevel=1)
    (tmp_path / "b.warc.gz").write_bytes(member)
    idx = spark.createDataFrame(
        [(str(tmp_path / "b.warc.gz"), 0, len(member))],
        "filename string, offset long, length long",
    )
    # cap below the decompressed size: the row is skipped, not OOM'd
    assert cdx.fetch_records(idx, member_cap=1 << 20).count() == 0
    # default cap admits it; the parser's payload valve still applies
    rows = cdx.fetch_records(idx, max_payload_bytes=1024).collect()
    assert len(rows) == 1
    assert rows[0].truncated and len(rows[0].payload) == 1024


def test_wat_roundtrip_evidence_matches_grammar(spark):
    """The r11 WAT evidence leg: per-doc metadata records through the
    production parser reproduce the link grammar, including the every-
    7th-doc over-valve truncation."""
    from psy_supabase_spark.queries.pipeline_queries import (
        _doc_wat_links,
        wat_roundtrip_evidence,
    )

    # doc 14: trunc (14%7=0), 2 links; doc 3: 3 links; doc 8: 0 links
    docs = spark.createDataFrame(
        [(14, "a"), (3, "b"), (8, "c")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in wat_roundtrip_evidence(docs).collect()}
    assert rows[14].truncated and not rows[3].truncated
    import json as _json

    env = _json.loads(rows[3].json)
    links = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"
    ]["Links"]
    assert [l["url"] for l in links] == _doc_wat_links(3)
    assert _json.loads(rows[8].json)["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"
    ]["HTML-Metadata"]["Links"] == []
    # the production edge-list extraction sees exactly the grammar
    links_df = warc.wat_links(
        spark.createDataFrame(
            [(f"http://example.com/doc/{r.doc_id}", r.json, r.truncated)
             for r in rows.values()],
            "target_uri string, json string, truncated boolean",
        )
    )
    got = sorted(r.link_url for r in links_df.collect())
    assert got == sorted(_doc_wat_links(3))  # doc 14 truncated, doc 8 empty


def test_index_digest_and_dedupe_captures(spark, tmp_path):
    """digest=True computes the published index's sha1:<base32> payload
    digest incrementally — over the HTTP ENTITY BODY, so recrawls of an
    unchanged page collapse even when their response headers (Date,
    Set-Cookie) differ; dedupe_captures keeps one capture per digest
    (earliest timestamp), URL-agnostic."""
    import base64
    import hashlib

    body = b"<p>same payload</p>"
    same = _http(body)
    # identical body, DIFFERENT response headers — the recrawl shape
    recrawl = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Date: Tue, 02 Jan 2024 00:00:00 GMT\r\n\r\n" + body
    )
    recs = [
        _record("response", same, uri="http://a.example/x", rid="<urn:uuid:a>"),
        _record("response", recrawl, uri="http://MIRROR.example/x", rid="<urn:uuid:b>"),
        _record("response", _http(b"<p>other</p>"), uri="http://c.example/z",
                rid="<urn:uuid:c>"),
    ]
    shard = b"".join(gzip.compress(r, compresslevel=1) for r in recs)
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = cdx.index_warc_members(spark, str(tmp_path), digest=True)
    rows = idx.orderBy("offset").collect()
    want = "sha1:" + base64.b32encode(hashlib.sha1(body).digest()).decode()
    assert rows[0].digest == want and rows[1].digest == want
    assert rows[2].digest is not None and rows[2].digest != want
    # identical payloads collapse to the first capture
    kept = cdx.dedupe_captures(idx).orderBy("offset").collect()
    assert [r.url for r in kept] == ["http://a.example/x", "http://c.example/z"]
    # digest=False leaves the column null (no silent full decompress)
    assert cdx.index_warc_members(spark, str(tmp_path)).collect()[0].digest is None
    # digest survives the CDXJ round trip
    out = tmp_path / "cdx"
    cdx.format_cdxj(idx).write.text(str(out))
    back = cdx.read_cdx(spark, str(out)).orderBy("offset").collect()
    assert [b.digest for b in back] == [r.digest for r in rows]


def test_index_digest_spans_chunks(spark, tmp_path):
    """The incremental digest is byte-exact when the payload spans many
    decompression chunks (bigger than the 64 KiB header retention)."""
    import base64
    import hashlib
    import random

    rng = random.Random(7)
    body = bytes(rng.getrandbits(8) for _ in range(300_000))
    payload = _http(body)
    rec = _record("response", payload, uri="http://big.example/")
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    r = cdx.index_warc_members(spark, str(tmp_path), digest=True).collect()[0]
    want = "sha1:" + base64.b32encode(hashlib.sha1(body).digest()).decode()
    assert r.digest == want


def test_index_digest_content_length_not_last(spark, tmp_path):
    """Real Common Crawl records carry headers AFTER Content-Length; the
    CRLF-terminated line must still parse (the '$'-before-\\r trap) and
    a non-http record must digest its whole payload."""
    import base64
    import hashlib

    body = b"<p>ordered</p>"
    http = _http(body)
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"WARC-Record-ID: <urn:uuid:o>\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: http://o.example/\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"\r\n"
    ).encode()
    fields = b"software: test\r\n"
    meta = (
        f"WARC/1.0\r\n"
        f"WARC-Type: warcinfo\r\n"
        f"Content-Length: {len(fields)}\r\n"
        f"Content-Type: application/warc-fields\r\n"
        f"\r\n"
    ).encode()
    shard = gzip.compress(hdr + http + b"\r\n\r\n", compresslevel=1)
    shard += gzip.compress(meta + fields + b"\r\n\r\n", compresslevel=1)
    (tmp_path / "o.warc.gz").write_bytes(shard)
    rows = (
        cdx.index_warc_members(spark, str(tmp_path), digest=True)
        .orderBy("offset").collect()
    )
    assert rows[0].digest == (
        "sha1:" + base64.b32encode(hashlib.sha1(body).digest()).decode()
    )
    # non-http record: digest covers the whole framed payload
    assert rows[1].digest == (
        "sha1:" + base64.b32encode(hashlib.sha1(fields).digest()).decode()
    )


def test_index_mime_is_http_payload_type(spark, tmp_path):
    """The mime column carries the HTTP payload Content-Type (published
    CDX convention), not the WARC envelope's application/http."""
    shard, _members = _three_record_shard()
    (tmp_path / "s.warc.gz").write_bytes(shard)
    idx = cdx.index_warc_members(spark, str(tmp_path)).collect()
    assert all(r.mime == "text/html" for r in idx)


def test_read_cdx_tolerates_junk_and_placeholders(spark, tmp_path):
    """One malformed line in a published index must not kill the read
    (ANSI mode throws on bare element_at/cast): short lines drop,
    '-'/non-numeric fields null, and fetch_records skips rangeless
    rows instead of crashing on NaN."""
    good = (
        'k1 20240101000000 {"url":"http://a/x","filename":"s.warc.gz",'
        '"offset":"0","length":"10","status":"200"}'
    )
    revisit = (
        'k2 20240102000000 {"url":"http://a/x","filename":"s.warc.gz",'
        '"status":"-"}'
    )
    junk = "short-line"
    (tmp_path / "i.cdx").write_text("\n".join([good, revisit, junk]) + "\n")
    rows = cdx.read_cdx(spark, str(tmp_path)).orderBy("urlkey").collect()
    assert [r.urlkey for r in rows] == ["k1", "k2"]
    assert rows[0].offset == 0 and rows[0].status == 200
    assert rows[1].offset is None and rows[1].status is None
    # rangeless rows are skipped by the fetch, not fatal (shard absent
    # too — the whole call must simply return nothing)
    assert cdx.fetch_records(
        cdx.read_cdx(spark, str(tmp_path)), warc_root=str(tmp_path)
    ).count() == 0


def test_surt_key_ipv6_and_format_cdxj_nulls(spark):
    assert cdx.surt_key("http://[2001:db8::1]:8080/x") == "[2001:db8::1]:8080)/x"
    assert cdx.surt_key("http://[2001:db8::1]/x") == "[2001:db8::1])/x"
    # null urlkey/timestamp render as '-' so the line stays 3 tokens
    idx = spark.createDataFrame(
        [(None, None, "http://a/x", "s.warc.gz", 0, 10, 200, "text/html")],
        "urlkey string, timestamp string, url string, filename string, "
        "offset long, length long, status int, mime string",
    )
    line = cdx.format_cdxj(idx).collect()[0].value
    assert line.startswith("- - {")


def test_http_content_type_column_and_charset_composition(spark, tmp_path):
    """The parser surfaces the HTTP-level Content-Type (the mime +
    charset the capture was served with), and functions/charset turns
    (http_content_type, payload) into correctly transcoded UTF-8 —
    the full WARC → text ingest chain for a non-UTF-8 web."""
    from psy_supabase_spark.functions import charset as CS

    latin_body = "caf\xe9 r\xe9sum\xe9".encode("iso-8859-1")
    http_latin = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n\r\n" + latin_body
    )
    plain = b"HTTP/1.1 200 OK\r\n\r\nno content-type header"
    d = tmp_path / "shards"
    d.mkdir()
    (d / "s.warc.gz").write_bytes(
        gzip.compress(_record("response", http_latin, uri="http://x/latin"))
        + gzip.compress(_record("response", plain, uri="http://x/plain"))
        + gzip.compress(_record("conversion", b"wet", uri="http://x/wet",
                                ctype="text/plain"))
    )
    rows = {
        r.target_uri: r
        for r in warc.read_warc(
            spark, str(d), record_types={"response", "conversion"}
        ).collect()
    }
    assert rows["http://x/latin"].http_content_type == "text/html; charset=ISO-8859-1"
    assert rows["http://x/plain"].http_content_type is None
    assert rows["http://x/wet"].http_content_type is None  # non-http record

    parsed = warc.read_warc(spark, str(d), record_types={"response"})
    sniffed = parsed.withColumn(
        "charset",
        CS.sniff_charset(
            F.concat(F.lit("content-type: "),
                     F.coalesce("http_content_type", F.lit(""))),
            CS.latin1_view("payload"),
        ),
    )
    out = {r.target_uri: r for r in CS.decode_text(sniffed).collect()}
    assert out["http://x/latin"].charset == "windows-1252"
    assert out["http://x/latin"].text == "café résumé"
    assert out["http://x/plain"].charset == "utf-8"


def test_gzip_trailing_garbage_is_complete_entity(spark, tmp_path):
    """A fully-decoded gzip body with junk/padding after the last
    member INSIDE its Content-Length framing is a COMPLETE entity (r12
    ADVICE: it was flagged decode_error and the record marked truncated
    despite decoding completely) — flagged trailing_garbage, n_bytes =
    the decoded length, truncated stays False."""
    entity = b"w" * 10_000
    gz = gzip.compress(entity) + b"\x00\x00PAD-NOT-GZIP\x00"
    st: dict = {}
    body, total = warc.decode_http_body_bounded(
        b"content-encoding: gzip", gz, 1 << 21, status=st
    )
    assert (body, total) == (entity, len(entity))
    assert st.get("trailing_garbage") is True
    assert not st.get("decode_error") and not st.get("undecoded")
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + gz
    )
    rec = _record("response", http, uri="http://pad.example/")
    (tmp_path / "p.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    r = warc.read_warc(spark, str(tmp_path), decode_http_body=True).collect()[0]
    assert r.truncated is False
    assert r.n_bytes == len(entity) and bytes(r.payload) == entity
    # a genuinely TRUNCATED second member still flags decode_error:
    # running out of input stalls (never raises), so it is never
    # reclassified as padding — even when it yielded no output yet
    cut = gzip.compress(b"a" * 5_000)
    two = gzip.compress(b"b" * 5_000)
    st2: dict = {}
    body2, total2 = warc.decode_http_body_bounded(
        b"content-encoding: gzip", cut + two[: len(two) // 2], 1 << 21,
        status=st2,
    )
    assert st2.get("decode_error") and not st2.get("trailing_garbage")
    assert total2 < 10_000


def test_index_mime_mixed_case_application_http(spark, tmp_path):
    """_parse_member_head matches application/http case-insensitively
    (r12 ADVICE): an 'Application/HTTP' record gets the HTTP payload's
    Content-Type as its mime and a parsed status, per the published CDX
    convention — same as the lowercase spelling."""
    rec = _record(
        "response", _http(b"<p>case</p>", 301),
        uri="http://case.example/x",
        ctype="Application/HTTP; msgtype=response",
    )
    (tmp_path / "m.warc.gz").write_bytes(gzip.compress(rec, compresslevel=1))
    idx = cdx.index_warc_members(spark, str(tmp_path), digest=True).collect()
    assert len(idx) == 1
    assert idx[0].mime == "text/html"
    assert idx[0].status == 301


def test_gzip_corrupt_second_member_with_magic_stays_partial():
    """A REAL second member corrupted at its start (gzip magic present,
    body mangled) is a missing-payload partial, NOT trailing padding
    (r13 review): decode_error must fire so the record stays
    truncated."""
    first = gzip.compress(b"q" * 4_000)
    second = bytearray(gzip.compress(b"r" * 4_000))
    second[4:12] = b"\xff" * 8  # keep \x1f\x8b magic, mangle the header
    st: dict = {}
    body, total = warc.decode_http_body_bounded(
        b"content-encoding: gzip", first + bytes(second), 1 << 21, status=st
    )
    assert st.get("decode_error") and not st.get("trailing_garbage")
    assert total == 4_000  # only the first member's entity decoded


def test_crawl_demo_shards_are_reproducible(monkeypatch):
    """The crawl demo's synthetic records must not depend on the clock:
    `cdx.index_warc_members(digest=True)` hashes their wire bytes, and a
    gzip header written with the current time changes every digest from
    one run to the next."""
    import importlib.util
    import time
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "examples" / "crawl_ingest_demo.py"
    spec = importlib.util.spec_from_file_location("crawl_ingest_demo", path)
    demo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(demo)

    def shard(now: float) -> bytes:
        monkeypatch.setattr(time, "time", lambda: now)
        # doc 0 and 3 carry a gzip Content-Encoding body inside the member
        return b"".join(demo._warc_record(i, f"text {i}") for i in range(6))

    assert shard(1_000_000.0) == shard(2_000_000.0)
