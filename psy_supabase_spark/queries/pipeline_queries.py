"""Pipeline queries: multimodal plumbing + model-stub gates + the
WARC-boundary oracle gate.

``multimodal_features`` runs a REAL Arrow-batched ``mapInPandas`` over
binary payloads; the fake decode is a pure function of payload size, so
DuckDB reproduces it from octet_length — the UDF plumbing is what's under
test.  It ALSO absorbs the WARC/WET ingest boundary (sources/warc): each
document is rendered into a deterministic mini-shard (gzip member per
record, the Common Crawl layout — junk prefix + a malformed record with
no Content-Length + an HTTP response record + a WET conversion record)
and parsed back through the REAL production parser
(`warc.make_warc_parser` → `iter_gunzip_chunks` → `scan_warc_stream` →
`split_http_payload`); the oracle recomputes every evidence column from
the same grammar in pure SQL.  ``toxicity_gate`` mirrors the reference's
safety→toxicity routing with the portable-hash stub score.
"""

from __future__ import annotations

import gzip
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import charset
from ..operators import linkgraph, ml_udfs, multimodal
from ..registry import register
from ..sources import warc
from ..sources.catalog import load_table

# WARC round-trip evidence grammar (mirrored EXACTLY in the oracle SQL):
# the HTML template rendered per doc, the WET payload length formula, and
# the WET-parse truncation valve.  The WET payload is pure ASCII so the
# SQL side can reproduce the truncated-byte md5 with repeat()/least().
_WARC_HTML_PREFIX = "<html><head><title>D"
_WARC_HTML_MID = "</title></head><body><p>"
_WARC_HTML_SUFFIX = "</p></body></html>"
_WET_VALVE = 96  # truncates WET payloads, whose length is 60 + doc_id % 80

# WAT leg of the grammar (r11): each doc's metadata record carries a
# deterministic Links envelope with (doc_id % 4) outlinks — link 0 is
# INTRA-host (example.com), links 1-2 inter-host — and every 7th doc's
# envelope is padded past the WAT valve, so truncation (broken JSON →
# dropped from the edge list) is exercised at every sf.  warcinfo leg:
# a warc-fields payload with a REPEATED name (robots), so the last-wins
# dedup in `warcinfo_info_expr` is part of the gated path.
_WAT_VALVE = 600


def _doc_wat_links(doc_id: int) -> list[str]:
    n = doc_id % 4
    urls = [f"http://example.com/nav/{doc_id}"] if n >= 1 else []
    urls += [f"http://l{k}.example/doc/{doc_id}" for k in range(1, n)]
    return urls


def _doc_wat_payload(doc_id: int) -> bytes:
    links = ",".join(
        '{"path":"A@/href","url":"%s"}' % u for u in _doc_wat_links(doc_id)
    )
    pad = "p" * _WAT_VALVE if doc_id % 7 == 0 else ""
    return (
        '{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":'
        '{"HTML-Metadata":{"Links":[' + links + ']}}}},"pad":"' + pad + '"}'
    ).encode()


def _doc_info_payload(doc_id: int) -> bytes:
    return (
        f"software: psy-synth/1.0\r\n"
        f"isPartOf: CRAWL-{doc_id % 10}\r\n"
        f"robots: classic\r\n"
        f"robots: obeyed\r\n"
        f"hostname: h{doc_id % 4}.example.org\r\n"
    ).encode()


_WARC_EVIDENCE_SCHEMA = (
    "doc_id bigint, warc_n_records bigint, warc_status int, "
    "warc_http_ctype string, "
    "warc_resp_md5 string, warc_resp_n_bytes bigint, warc_wet_trunc boolean, "
    "warc_wet_md5 string, warc_wet_n_bytes bigint, warc_info_payload string"
)

_WAT_EVIDENCE_SCHEMA = (
    "doc_id bigint, target_uri string, json string, truncated boolean"
)


def _warc_record(wtype: str, ctype: str, uri: str, payload: bytes) -> bytes:
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return hdr + payload + b"\r\n\r\n"


def _doc_mini_shard(doc_id: int, text: str) -> bytes:
    """Deterministic per-doc shard segment, one gzip member per record
    (the Common Crawl layout): junk prefix + malformed record (no
    Content-Length — must resync, at any payload size) + HTTP response
    record carrying the templated HTML + WET conversion record whose
    ASCII payload length (60 + doc_id % 80) straddles the WET valve +
    WAT metadata record (Links JSON) + warcinfo record (warc-fields) —
    five record types interleaved, so every pass ALSO proves the
    record_types filter against foreign types.  Segments concatenate
    into one parseable shard (gzip members are self-delimiting), so a
    batch of docs parses in ONE pass.  compresslevel=1: the gzip
    ROUND-TRIP is what's under test, not the compressor's effort
    setting (level 9 tripled the harness cost)."""
    html = f"{_WARC_HTML_PREFIX}{doc_id}{_WARC_HTML_MID}{text}{_WARC_HTML_SUFFIX}"
    # HTTP-level charset parameter cycling by doc_id % 3 (absent /
    # canonical / aliased) — feeds the warc_charset sniffing gate; the
    # header block never reaches payload md5/n_bytes, so the other
    # evidence columns are untouched by construction
    cs = {0: "", 1: "; charset=ISO-8859-1", 2: "; charset=CP1252"}[doc_id % 3]
    http = (
        f"HTTP/1.1 200 OK\r\nContent-Type: text/html{cs}\r\n\r\n".encode()
        + html.encode()
    )
    malformed = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://bad.example/\r\n\r\n"
    )
    uri = f"http://example.com/doc/{doc_id}"
    rec_resp = _warc_record(
        "response", "application/http; msgtype=response", uri, http
    )
    rec_wet = _warc_record(
        "conversion", "text/plain", uri, b"x" * (60 + doc_id % 80)
    )
    rec_wat = _warc_record(
        "metadata", "application/json", uri, _doc_wat_payload(doc_id)
    )
    rec_info = _warc_record(
        "warcinfo", "application/warc-fields", uri, _doc_info_payload(doc_id)
    )
    return (
        gzip.compress(b"\x00junk" + malformed, compresslevel=1)
        + gzip.compress(rec_resp, compresslevel=1)
        + gzip.compress(rec_wet, compresslevel=1)
        + gzip.compress(rec_wat, compresslevel=1)
        + gzip.compress(rec_info, compresslevel=1)
    )


def warc_roundtrip_evidence(docs: DataFrame) -> DataFrame:
    """Render each document into a mini WARC shard and parse it back
    through the PRODUCTION parser twice — the response pass
    (strip_http_headers, 2 MiB valve) and the WET pass (conversion
    records, tiny valve exercising truncation) — emitting evidence
    columns a SQL oracle recomputes from the grammar: record counts
    (proves malformed-record resync), http_status (proves the HTTP
    split), payload md5s (prove gzip-member decompression + framing +
    strip byte-exactness), n_bytes (proves the post-strip length math)
    and the WET truncation flag + truncated-bytes md5 (prove the
    valve)."""
    # response + warcinfo share valve/strip settings (strip only touches
    # application/http payloads), so they ride ONE scan of the shard and
    # split by warc_type after — the WET pass stays separate because its
    # tiny valve IS the truncation gate
    parse_main = warc.make_warc_parser(
        {"response", "warcinfo"},
        max_payload_bytes=2 * 1024 * 1024,
        strip_http_headers=True,
        batch_records=4096,
    )
    parse_wet = warc.make_warc_parser(
        {"conversion"},
        max_payload_bytes=_WET_VALVE,
        strip_http_headers=False,
        batch_records=4096,
    )

    def _evidence(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            # ONE concatenated shard per Arrow batch (gzip members are
            # self-delimiting): a file per doc would make the parser's
            # per-file yield contract emit thousands of one-row frames —
            # measured 9 s of pandas concat overhead at sf0.1 — while one
            # shard parses in one pass and evidence maps back by
            # target_uri, which carries the doc_id
            shard = b"".join(
                _doc_mini_shard(d, t) for d, t in zip(ids, pdf["text"])
            )
            files = pd.DataFrame({"path": ["shard"], "content": [shard]})
            main = pd.concat(list(parse_main(iter([files]))), ignore_index=True)
            resp = main[main["warc_type"] == "response"]
            info = main[main["warc_type"] == "warcinfo"]
            wet = pd.concat(list(parse_wet(iter([files]))), ignore_index=True)
            i_by: dict[str, str] = {
                uri: payload.decode("utf-8", "replace")
                for uri, payload in zip(info["target_uri"], info["payload"])
            }
            r_by: dict[str, list] = {}
            for uri, status, hct, payload, n_b in zip(
                resp["target_uri"], resp["http_status"],
                resp["http_content_type"], resp["payload"], resp["n_bytes"],
            ):
                r_by.setdefault(uri, []).append((status, payload, n_b, hct))
            w_by: dict[str, list] = {}
            for uri, trunc, payload, n_b in zip(
                wet["target_uri"], wet["truncated"],
                wet["payload"], wet["n_bytes"],
            ):
                w_by.setdefault(uri, []).append((trunc, payload, n_b))
            out = {k: [] for k in (
                "doc_id", "warc_n_records", "warc_status",
                "warc_http_ctype", "warc_resp_md5",
                "warc_resp_n_bytes", "warc_wet_trunc", "warc_wet_md5",
                "warc_wet_n_bytes", "warc_info_payload",
            )}
            for did in ids:
                uri = f"http://example.com/doc/{did}"
                r = r_by.get(uri)
                w = w_by.get(uri)
                out["doc_id"].append(did)
                out["warc_info_payload"].append(i_by.get(uri))
                out["warc_n_records"].append(
                    (0 if r is None else len(r)) + (0 if w is None else len(w))
                )
                r1 = r[0] if r is not None and len(r) == 1 else None
                w1 = w[0] if w is not None and len(w) == 1 else None
                out["warc_status"].append(None if r1 is None else r1[0])
                out["warc_http_ctype"].append(None if r1 is None else r1[3])
                out["warc_resp_md5"].append(
                    None if r1 is None else hashlib.md5(r1[1]).hexdigest()
                )
                out["warc_resp_n_bytes"].append(
                    None if r1 is None else int(r1[2])
                )
                out["warc_wet_trunc"].append(None if w1 is None else bool(w1[0]))
                out["warc_wet_md5"].append(
                    None if w1 is None else hashlib.md5(w1[1]).hexdigest()
                )
                out["warc_wet_n_bytes"].append(None if w1 is None else int(w1[2]))
            res = pd.DataFrame(out)
            res["warc_status"] = res["warc_status"].astype("Int32")
            yield res

    return docs.select("doc_id", "text").mapInPandas(
        _evidence, _WARC_EVIDENCE_SCHEMA
    )


def _doc_media_payload(doc_id: int) -> bytes:
    """Deterministic media container bytes cycling the modality by
    doc_id % 4 — PNG / WAV / MP3 / MP4, every field a pure function of
    doc_id so the SQL oracle recomputes what the REAL sniffers read
    back off the headers."""
    import struct

    m = doc_id % 4
    if m == 0:  # PNG IHDR
        w, h = 1 + doc_id % 4096, 1 + (doc_id * 3) % 4096
        return (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
        )
    if m == 1:  # WAV fmt chunk
        sr = 8000 + (doc_id % 100) * 441
        ch = 1 + doc_id % 2
        bits = 8 * (1 + doc_id % 2)
        fmt = struct.pack(
            "<HHIIHH", 1, ch, sr, sr * ch * bits // 8, ch * bits // 8, bits
        )
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        return b"RIFF" + struct.pack("<I", len(body)) + body
    if m == 2:  # MPEG1 Layer III frame header
        br_idx = 1 + doc_id % 14
        sr_idx = doc_id % 3
        b2 = (br_idx << 4) | (sr_idx << 2)
        b3 = 0xC0 if doc_id % 2 == 0 else 0x00  # mono / stereo
        return bytes([0xFF, 0xFB, b2, b3]) + b"\x00" * 16
    # m == 3: MP4 ftyp + moov/trak/tkhd (v0, 16.16 fixed dims)
    w, h = 160 + doc_id % 1280, 120 + doc_id % 720

    def box(t: bytes, body: bytes) -> bytes:
        import struct as _s

        return _s.pack(">I", 8 + len(body)) + t + body

    tkhd = box(
        b"tkhd",
        bytes([0, 0, 0, 7]) + b"\x00" * 28 + b"\x00" * 8 + b"\x00" * 36
        + struct.pack(">II", w << 16, h << 16),
    )
    return box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", box(b"trak", tkhd))


_MEDIA_EVIDENCE_COLS = (
    "kind", "format", "width", "height", "sample_rate", "channels",
    "bits", "bitrate_kbps",
)


def media_sniff_evidence(docs: DataFrame) -> DataFrame:
    """Render one deterministic media container per doc (PNG/WAV/MP3/
    MP4 cycling by doc_id % 4) and read it back through the REAL
    `multimodal.extract_media_meta` operator — the audio/video/image
    header sniffers become driver-gated, not just pytest-gated: the
    oracle recomputes every field (dims, sample rate, channel count,
    bit depth, bitrate) from the doc_id formulas."""
    render_schema = "doc_id bigint, payload binary"

    def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _doc_media_payload(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    blobs = docs.select("doc_id").mapInPandas(_render, render_schema)
    meta = multimodal.extract_media_meta(blobs)
    return meta.select(
        "doc_id",
        *[F.col(c).alias(f"media_{c}") for c in _MEDIA_EVIDENCE_COLS],
    )


def wat_roundtrip_evidence(docs: DataFrame) -> DataFrame:
    """Render each document's WAT metadata record into a gzip-member
    shard and parse it back through the PRODUCTION parser with the WAT
    valve — emitting exactly the row shape `read_wat` produces
    (target_uri, json, truncated) keyed by doc_id, so the REAL
    `warc.wat_links` JSON-path extraction and `operators.linkgraph`
    host logic run JVM-side downstream and the oracle recomputes their
    outputs from the link grammar.  A separate mapInPandas from
    `warc_roundtrip_evidence` because its output feeds TWO plan
    branches (the truncation flag and the exploded edge list): keeping
    the subtree tiny (one member per doc) makes Spark's recompute of it
    cheap, instead of re-running the full five-record harness."""
    parse_wat = warc.make_warc_parser(
        {"metadata"},
        max_payload_bytes=_WAT_VALVE,
        strip_http_headers=False,
        batch_records=4096,
    )

    def _evidence(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            # UNCOMPRESSED records (the parser's raw path): the gzip
            # round-trip is already proven by the response/WET legs in
            # `warc_roundtrip_evidence`, and this subtree is computed
            # once per downstream plan branch — skipping compress +
            # decompress halves what the recompute costs
            shard = b"".join(
                _warc_record(
                    "metadata",
                    "application/json",
                    f"http://example.com/doc/{d}",
                    _doc_wat_payload(d),
                )
                for d in ids
            )
            files = pd.DataFrame({"path": ["shard"], "content": [shard]})
            wat = pd.concat(list(parse_wat(iter([files]))), ignore_index=True)
            by = {
                uri: (payload, bool(trunc))
                for uri, payload, trunc in zip(
                    wat["target_uri"], wat["payload"], wat["truncated"]
                )
            }
            out: dict[str, list] = {
                "doc_id": [], "target_uri": [], "json": [], "truncated": [],
            }
            for did in ids:
                uri = f"http://example.com/doc/{did}"
                payload, trunc = by.get(uri, (None, None))
                out["doc_id"].append(did)
                out["target_uri"].append(uri)
                out["json"].append(
                    None if payload is None
                    else payload.decode("utf-8", "replace")
                )
                out["truncated"].append(trunc)
            yield pd.DataFrame(out)

    return docs.select("doc_id").mapInPandas(_evidence, _WAT_EVIDENCE_SCHEMA)


@register(
    "multimodal_features",
    oracle=f"""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (
      SELECT doc_id, n,
             CAST(ceil(n::DOUBLE / {multimodal.FRAME_SIZE}) AS BIGINT) AS n_frames
      FROM b
    ),
    w AS (
      SELECT doc_id,
             '{_WARC_HTML_PREFIX}' || CAST(doc_id AS VARCHAR) || '{_WARC_HTML_MID}'
               || text || '{_WARC_HTML_SUFFIX}' AS html,
             60 + doc_id % 80 AS wet_len
      FROM documents
    ),
    wat AS (
      SELECT doc_id,
             doc_id % 7 = 0 AS trunc,
             CAST(doc_id % 4 AS BIGINT) AS n_links,
             CASE doc_id % 4
               WHEN 1 THEN 'http://example.com/nav/' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN 'http://example.com/nav/' || CAST(doc_id AS VARCHAR)
                        || '|http://l1.example/doc/' || CAST(doc_id AS VARCHAR)
               WHEN 3 THEN 'http://example.com/nav/' || CAST(doc_id AS VARCHAR)
                        || '|http://l1.example/doc/' || CAST(doc_id AS VARCHAR)
                        || '|http://l2.example/doc/' || CAST(doc_id AS VARCHAR)
             END AS link_concat
      FROM documents
    )
    SELECT f.doc_id,
           n AS n_bytes,
           (n % 640) + 1 AS fake_width,
           ((n * 7) % 480) + 1 AS fake_height,
           n_frames,
           CAST(floor((n_frames + {multimodal.FRAME_STRIDE - 1}) / {multimodal.FRAME_STRIDE}) AS BIGINT) AS n_sampled,
           COALESCE(list_sum(list_transform(range(n_frames),
             i -> CASE WHEN i % {multimodal.FRAME_STRIDE} = 0
                       THEN least({multimodal.FRAME_SIZE}, n - {multimodal.FRAME_SIZE} * i)
                       ELSE 0 END)), 0)::BIGINT AS sampled_len_sum,
           least(n, {multimodal.RESIZE_W * multimodal.RESIZE_H}) AS resized_n_bytes,
           CAST(2 AS BIGINT) AS warc_n_records,
           CAST(200 AS INTEGER) AS warc_status,
           md5(w.html) AS warc_resp_md5,
           CAST(octet_length(encode(w.html)) AS BIGINT) AS warc_resp_n_bytes,
           w.wet_len > {_WET_VALVE} AS warc_wet_trunc,
           md5(repeat('x', least(w.wet_len, {_WET_VALVE}))) AS warc_wet_md5,
           CAST(w.wet_len AS BIGINT) AS warc_wet_n_bytes,
           {charset.sniff_charset_sql(
               "('content-type: text/html' || CASE f.doc_id % 3"
               " WHEN 1 THEN '; charset=ISO-8859-1'"
               " WHEN 2 THEN '; charset=CP1252' ELSE '' END)",
               "''",
           )} AS warc_charset,
           CAST(4 AS INTEGER) AS warc_info_n_keys,
           'CRAWL-' || CAST(f.doc_id % 10 AS VARCHAR) AS warc_info_ispartof,
           'obeyed' AS warc_info_robots,
           wat.trunc AS warc_wat_trunc,
           CASE WHEN wat.trunc THEN NULL ELSE wat.n_links END AS warc_wat_n_links,
           CASE WHEN wat.trunc OR wat.n_links = 0 THEN NULL
                ELSE md5(wat.link_concat) END AS warc_wat_link_md5,
           CASE WHEN wat.trunc THEN NULL
                ELSE least(wat.n_links, 1) END AS warc_link_n_intra,
           CASE WHEN wat.trunc THEN NULL
                ELSE greatest(wat.n_links - 1, 0) END AS warc_link_n_inter,
           CASE f.doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                WHEN 2 THEN 'audio' ELSE 'video' END AS media_kind,
           CASE f.doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                WHEN 2 THEN 'mp3' ELSE 'mp4' END AS media_format,
           CASE f.doc_id % 4
                WHEN 0 THEN 1 + f.doc_id % 4096
                WHEN 3 THEN 160 + f.doc_id % 1280 END AS media_width,
           CASE f.doc_id % 4
                WHEN 0 THEN 1 + (f.doc_id * 3) % 4096
                WHEN 3 THEN 120 + f.doc_id % 720 END AS media_height,
           CASE f.doc_id % 4
                WHEN 1 THEN 8000 + (f.doc_id % 100) * 441
                WHEN 2 THEN CASE f.doc_id % 3 WHEN 0 THEN 44100
                                 WHEN 1 THEN 48000 ELSE 32000 END
           END AS media_sample_rate,
           CASE WHEN f.doc_id % 4 IN (1, 2)
                THEN 1 + f.doc_id % 2 END AS media_channels,
           CASE f.doc_id % 4
                WHEN 1 THEN 8 * (1 + f.doc_id % 2) END AS media_bits,
           CAST(CASE f.doc_id % 4 WHEN 2 THEN
                CASE f.doc_id % 14 WHEN 0 THEN 32 WHEN 1 THEN 40
                     WHEN 2 THEN 48 WHEN 3 THEN 56 WHEN 4 THEN 64
                     WHEN 5 THEN 80 WHEN 6 THEN 96 WHEN 7 THEN 112
                     WHEN 8 THEN 128 WHEN 9 THEN 160 WHEN 10 THEN 192
                     WHEN 11 THEN 224 WHEN 12 THEN 256 ELSE 320 END
           END AS BIGINT) AS media_bitrate_kbps
    FROM f JOIN w ON f.doc_id = w.doc_id JOIN wat ON f.doc_id = wat.doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas PLUS the Common
    Crawl boundary's oracle evidence.

    FROZEN as of r13 (r12 verdict #3: the WARC oracle harness is ~88%
    of this slot's headline number — 2.646 s harness vs a 0.36 s engine
    residual, measured as a split).  This slot accepts NO new oracle
    families: new evidence gates by replacing a stale column, or —
    preferred — via pytest-level DuckDB parity (the tests/test_url.py /
    tests/test_hll.py pattern).  The engine residual is the bare
    `multimodal.extract_blob_features` leg.

    The composed evidence: the WARC/WET legs (r10, see
    `warc_roundtrip_evidence`) and — r11 — the WAT/warcinfo legs,
    where the REAL production logic runs JVM-side on parsed evidence:
    `warc.wat_links` (JSON-path outlink extraction) →
    `operators.linkgraph.with_hosts` (parse_url host + intra/inter
    classification) → per-page rollup, and `warc.warcinfo_info_expr`
    (warc-fields → last-wins map).  The oracle recomputes every column
    from the mini-shard grammar in pure SQL.

    Column → operator → localizing pytest TRIAGE MAP (a hash mismatch
    names its operator here):

    | column              | operator under test                   | pytest localizer                         |
    |---------------------|---------------------------------------|------------------------------------------|
    | n_bytes..resized_*  | multimodal.extract_blob_features      | tests/test_multimodal.py                 |
    | warc_n_records      | scan_warc_stream malformed resync     | test_warc.py::test_malformed_record_resyncs |
    | warc_status         | warc.split_http_payload               | test_warc.py::test_iter_records_and_http_split |
    | warc_resp_md5       | iter_gunzip_chunks + framing + strip  | test_warc.py::test_iter_gunzip_chunks_incremental |
    | warc_resp_n_bytes   | post-strip body length math           | test_warc.py::test_http_valve_applies_to_body_not_envelope |
    | warc_wet_trunc      | payload valve (truncated flag)        | test_warc.py::test_read_warc_end_to_end  |
    | warc_wet_md5        | valve byte-exact truncation           | test_warc.py::test_scan_stream_valve_drains_oversized_payload |
    | warc_wet_n_bytes    | pre-truncation length (clen)          | test_warc.py::test_read_warc_end_to_end  |
    | warc_charset        | http_content_type surfacing + charset.sniff_charset (header leg; BOM/meta legs pytest-gated) | test_warc.py::test_http_content_type_column_and_charset_composition, tests/test_charset.py |
    | warc_info_n_keys    | warcinfo_info_expr last-wins dedup    | test_warc.py::test_warcinfo_repeated_field_last_wins |
    | warc_info_ispartof  | warcinfo_info_expr first-colon split  | test_warc.py::test_read_warcinfo_provenance |
    | warc_info_robots    | warcinfo_info_expr last-wins value    | test_warc.py::test_warcinfo_repeated_field_last_wins |
    | warc_wat_trunc      | WAT valve (broken-JSON flag)          | test_warc.py::test_read_wat_and_links    |
    | warc_wat_n_links    | warc.wat_links JSON-path + explode    | test_warc.py::test_read_wat_and_links    |
    | warc_wat_link_md5   | wat_links url extraction byte-exact   | test_warc.py::test_read_wat_and_links    |
    | warc_link_n_intra/..| linkgraph.with_hosts parse_url intra  | tests/test_linkgraph.py                  |
    | media_kind/format   | sniff_media_meta magic routing        | test_multimodal.py::test_extract_media_meta_mixed_modalities |
    | media_width/height  | PNG IHDR / MP4 tkhd parsing           | test_multimodal.py::test_sniff_mp4_tkhd_dims |
    | media_sample_rate.. | WAV fmt / MP3 frame-header parsing    | test_multimodal.py::test_sniff_wav_fmt_chunk, test_sniff_mp3_frame_header |
    """
    from ..operators.scale import spread_for_compute

    # r14 opt (guide §2.5/§4): the WARC evidence leg is the slot's
    # dominant stage and its mapInPandas inherits the scan's split
    # count, so an under-split input runs the gzip/parse harness
    # near-serial (measured at sf0.1: leg wall ~= its single-core
    # cpu-seconds, 2.49 s; spread -> 1.19 s, and the full slot drops
    # with it).  Only THIS leg is spread: the other three legs'
    # Python stages are light (0.4-0.7 s), and fanning them out was
    # measured to cost more in fixed per-task Python overhead
    # (~0.3 cpu-s/task) than their work — blob 0.57->0.95 s, wat
    # 0.36->0.60 s, media 0.73->1.60 s.  No-op when the scan is
    # already wide (the 100 TB case).  Perf-only: row values, the
    # oracle families, and the frozen-slot policy are untouched.
    docs = load_table(spark, sf_dir, "documents")
    features = multimodal.extract_blob_features(multimodal.attach_blobs(docs))
    evidence = warc_roundtrip_evidence(spread_for_compute(docs))
    wat = wat_roundtrip_evidence(docs)
    media = media_sniff_evidence(docs)

    # REAL production legs, JVM-side, on the parsed WAT rows:
    links = linkgraph.with_hosts(warc.wat_links(wat))
    per_page = (
        links.groupBy("target_uri")
        .agg(
            F.count("*").alias("_n_links"),
            F.md5(
                F.concat_ws("|", F.sort_array(F.collect_list("link_url")))
            ).alias("_link_md5"),
            F.sum(F.col("intra").cast("long")).alias("_n_intra"),
            F.sum((~F.col("intra")).cast("long")).alias("_n_inter"),
        )
        .select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "_n_links", "_link_md5", "_n_intra", "_n_inter",
        )
    )
    trunc = F.col("truncated")
    wat_cols = (
        wat.select("doc_id", "truncated")
        .join(per_page, "doc_id", "left")
        .select(
            "doc_id",
            trunc.alias("warc_wat_trunc"),
            F.when(trunc, F.lit(None))
            .otherwise(F.coalesce("_n_links", F.lit(0)))
            .cast("bigint")
            .alias("warc_wat_n_links"),
            F.when(trunc | F.col("_n_links").isNull(), F.lit(None))
            .otherwise(F.col("_link_md5"))
            .alias("warc_wat_link_md5"),
            F.when(trunc, F.lit(None))
            .otherwise(F.coalesce("_n_intra", F.lit(0)))
            .cast("bigint")
            .alias("warc_link_n_intra"),
            F.when(trunc, F.lit(None))
            .otherwise(F.coalesce("_n_inter", F.lit(0)))
            .cast("bigint")
            .alias("warc_link_n_inter"),
        )
    )
    info_map = warc.warcinfo_info_expr(F.col("warc_info_payload"))
    # r11: the charset sniffing gate — the REAL functions/charset
    # priority chain over the HTTP Content-Type the parser surfaced
    # (header leg + default; the BOM/meta legs are pytest-gated with
    # their own DuckDB parity in tests/test_charset.py)
    sniffed = charset.sniff_charset(
        F.concat(
            F.lit("content-type: "),
            F.coalesce(F.col("warc_http_ctype"), F.lit("")),
        ),
        F.lit(""),
    )
    ev = evidence.select(
        "doc_id", "warc_n_records", "warc_status", "warc_resp_md5",
        "warc_resp_n_bytes", "warc_wet_trunc", "warc_wet_md5",
        "warc_wet_n_bytes",
        sniffed.alias("warc_charset"),
        F.size(info_map).alias("warc_info_n_keys"),
        F.element_at(info_map, "isPartOf").alias("warc_info_ispartof"),
        F.element_at(info_map, "robots").alias("warc_info_robots"),
    )
    return (
        features.join(ev, "doc_id").join(wat_cols, "doc_id").join(media, "doc_id")
    )


@register(
    "toxicity_gate",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             ROUND((CAST(('0x' || substr(md5(lower(text)), 1, 8)) AS BIGINT) % 1000)::DOUBLE / 1000.0,
                   6) AS tox_score,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_words
      FROM documents
    )
    SELECT doc_id, tox_score,
           CASE WHEN n_words < 5 THEN FALSE ELSE tox_score > 0.7 END AS toxic
    FROM scored
    """,
)
def toxicity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 parity: toxicity gate with the <5-words short-circuit (reference
    text_generator.py:273-275, 294); deterministic stub score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ml_udfs.toxicity_score("text").alias("tox_score"),
        ml_udfs.is_toxic("text").alias("toxic"),
    )


@register(
    "embed_documents_stub",
    oracle="SELECT doc_id, CAST(64 AS BIGINT) AS dim, CAST(1.0 AS DOUBLE) AS norm FROM documents",
)
def embed_documents_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: batch embedding generation through the real pandas-UDF path
    (deterministic hash-stub model).  The RNG values aren't SQL, but the
    CONTRACT is: every embedding has dim 64 and unit norm — the oracle
    asserts exactly that, so a broken UDF (nan, wrong dim, missing rows)
    fails the gate."""
    from ..functions import vector as V

    docs = load_table(spark, sf_dir, "documents")
    embed = ml_udfs.hash_embedding_udf(64)
    out = docs.select("doc_id", embed(F.col("text")).alias("embedding"))
    return out.select(
        "doc_id", F.size("embedding").cast("bigint").alias("dim"), F.round(V.l2_norm("embedding"), 3).alias("norm")
    )
