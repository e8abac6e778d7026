"""Charset sniffing + transcoding for crawl payloads — the step between
`sources/warc` (bytes) and the text pipeline (UTF-8 strings).

A real crawl is ~25-35% non-UTF-8 (windows-1252, shift_jis, gb2312,
iso-8859-*…); feeding those bytes straight to `F.decode(_, 'UTF-8')`
yields replacement-character soup that poisons every downstream signal
(language ID, quality gates, dedup shingles).  This module does what
the WET conversion step of a crawl pipeline does:

1. **Sniff** the charset JVM-side (`sniff_charset`) with the standard
   priority — byte-order mark > HTTP `Content-Type` charset parameter >
   HTML `<meta charset>` / `http-equiv` in the head — over a latin-1
   VIEW of the payload prefix (latin-1 maps bytes 1:1 to codepoints, so
   plain string regexes inspect binary safely inside codegen; no
   Python).  Unknowns fall back to utf-8, the WHATWG default posture.
2. **Decode split-path** (`decode_text`): the UTF-8 majority decodes
   JVM-side (`make_valid_utf8` over the binary→string cast — zero
   Python), and ONLY the non-UTF-8 minority rides one Arrow-batched
   `mapInPandas` leg through Python's codec registry
   (errors='replace') — at 100 TB the slow path sees a quarter of the
   BYTES.  The two legs are filters of the same parent and each
   executes it (Spark reuses exchanges, not arbitrary subtrees):
   persist the parent when it is an expensive parse.

The sniff is pure regex/CASE, so a SQL oracle reproduces it exactly
(regex kept to the Java/RE2 common subset, the functions/pii rule);
the transcode itself is codec-table work with no SQL analog and is
pytest-gated against Python's reference codecs.
"""

from __future__ import annotations

import codecs
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str

# alias → canonical python codec name, lowercased (the tiny, load-bearing
# subset of the WHATWG encoding label table; everything else passes
# through lowercased and is validated at decode time).  Directions
# follow the PUBLISHED table, not codec-name aesthetics: the whole
# latin-1/ascii label family decodes as windows-1252 (browsers and WET
# converters do — pages labeled iso-8859-1 routinely carry 0x80-0x9F
# windows-1252 punctuation, which a strict latin-1 codec turns into
# invisible C1 controls), and gb2312 labels decode as GBK, its
# superset (strict gb2312 replaces the GBK-extension characters real
# 'gb2312' pages use).
CHARSET_ALIASES: dict[str, str] = {
    "utf8": "utf-8",
    "utf_8": "utf-8",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "iso-8859-1": "windows-1252",
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "l1": "windows-1252",
    "cp819": "windows-1252",
    "cp1252": "windows-1252",
    "win-1252": "windows-1252",
    "x-sjis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "gb2312": "gbk",
    "gb-2312": "gbk",
    "csgb2312": "gbk",
    "euc_jp": "euc-jp",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

# charsets the JVM fast path may decode as UTF-8: ASCII is a strict
# subset, so routing it through the UTF-8 decoder is byte-exact
_JVM_UTF8 = ("utf-8", "us-ascii")

# latin-1 views of the BOMs (byte b maps to codepoint b)
_BOM_UTF8 = "ï»¿"
_BOM_UTF16_LE = "ÿþ"
_BOM_UTF16_BE = "þÿ"

# Java/RE2 common subset: no lookbehind, no backrefs.  charset labels
# per the WHATWG grammar are [a-zA-Z0-9 ._-]; we accept the usual
# quoted/unquoted parameter spellings.  The header probe anchors to
# the Content-Type LINE (a charset= in some other header — a link URL,
# a cookie — must not win), and the meta probe requires a delimiter
# before `charset` (plain `data-charset=` attributes must not match)
# and stays inside one tag ([^>]).  Known regex-fidelity subset: a
# literal 'charset=' inside an unrelated <meta content="..."> value
# still matches — full WHATWG prescan needs an attribute parser.
_CT_CHARSET_RE = (
    r'(?m)^content-type:[^\r\n]{0,200}?'
    r'charset\s*=\s*["\']?([a-zA-Z0-9._-]+)'
)
_META_CHARSET_RE = (
    r'<meta[^>]{0,200}?[\s;"\']charset\s*=\s*["\']?([a-zA-Z0-9._-]+)'
)


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_charset(label: Column) -> Column:
    """Lowercase + alias-fold a charset label Column (empty → NULL)."""
    low = F.lower(F.trim(label))
    expr = low
    for alias, canon in CHARSET_ALIASES.items():
        expr = F.when(low == alias, F.lit(canon)).otherwise(expr)
    return F.when(low == "", F.lit(None)).otherwise(expr)


def normalize_charset_sql(expr: str) -> str:
    """DuckDB spelling of :func:`normalize_charset` (same fold order)."""
    low = f"lower(trim({expr}))"
    out = low
    for alias, canon in CHARSET_ALIASES.items():
        out = f"CASE WHEN {low} = '{alias}' THEN '{canon}' ELSE {out} END"
    return f"CASE WHEN {low} = '' THEN NULL ELSE {out} END"


def latin1_view(payload: ColumnOrName, n_bytes: int = 1024) -> Column:
    """A latin-1 string view of the payload's first `n_bytes` — byte b
    becomes codepoint b, losslessly, so JVM regexes can inspect binary
    content without a Python round-trip."""
    return F.decode(
        F.substring(_c(payload).cast("binary"), 1, n_bytes), "ISO-8859-1"
    )


def sniff_charset(
    headers: ColumnOrName, body_view: ColumnOrName
) -> Column:
    """Charset verdict with standard sniffing priority:

    BOM (utf-8 / utf-16 le/be) > `Content-Type: ...; charset=` in the
    HTTP header block > `<meta charset=...>` / http-equiv in the body
    prefix > utf-8 default.

    `headers` is the raw HTTP header block string
    (sources/warc.split_http_payload emits it); `body_view` is a
    :func:`latin1_view` of the payload prefix.  Pure codegen — the SQL
    mirror is :func:`sniff_charset_sql`."""
    h, b = _c(headers), _c(body_view)
    ct = normalize_charset(F.regexp_extract(F.lower(h), _CT_CHARSET_RE, 1))
    meta = normalize_charset(F.regexp_extract(F.lower(b), _META_CHARSET_RE, 1))
    return (
        F.when(b.startswith(_BOM_UTF8), F.lit("utf-8"))
        .when(b.startswith(_BOM_UTF16_LE), F.lit("utf-16-le"))
        .when(b.startswith(_BOM_UTF16_BE), F.lit("utf-16-be"))
        .otherwise(F.coalesce(ct, meta, F.lit("utf-8")))
    )


def sniff_charset_sql(headers_expr: str, body_expr: str) -> str:
    """DuckDB mirror of :func:`sniff_charset` over STRING inputs (the
    oracle side synthesizes the latin-1 view as a plain string).  Uses
    the same regexes; DuckDB regexp_extract(group) matches Java here
    because the patterns sit in the RE2/Java common subset."""
    ct_re = _CT_CHARSET_RE.replace("'", "''")
    meta_re = _META_CHARSET_RE.replace("'", "''")
    ct = normalize_charset_sql(
        f"regexp_extract(lower({headers_expr}), '{ct_re}', 1)"
    )
    meta = normalize_charset_sql(
        f"regexp_extract(lower({body_expr}), '{meta_re}', 1)"
    )
    # the oracle's synthetic body view is ASCII + these latin-1 marker
    # chars; DuckDB strings are UTF-8, so compare against the chars
    return (
        f"CASE WHEN starts_with({body_expr}, '{_BOM_UTF8}') THEN 'utf-8' "
        f"WHEN starts_with({body_expr}, '{_BOM_UTF16_LE}') THEN 'utf-16-le' "
        f"WHEN starts_with({body_expr}, '{_BOM_UTF16_BE}') THEN 'utf-16-be' "
        f"ELSE COALESCE({ct}, {meta}, 'utf-8') END"
    )


def decode_text(
    df: DataFrame,
    *,
    payload_col: str = "payload",
    charset_col: str = "charset",
    out_col: str = "text",
) -> DataFrame:
    """Decode payload bytes to UTF-8 text along the sniffed charset —
    split-path:

    - rows whose charset is utf-8/us-ascii (or NULL) decode JVM-side
      (`F.decode`, malformed bytes → U+FFFD), zero Python;
    - everything else rides ONE Arrow `mapInPandas` leg through
      Python's codec registry with errors='replace'; an unknown or
      broken codec label falls back to utf-8-replace (never throws —
      a crawl always contains garbage labels).

    Leading BOMs that named the charset are stripped from the decoded
    text (ALL of them, both paths — the legs must agree on equivalent
    content), matching every WET converter's behavior.

    NOTE the two branches each execute the upstream plan (Spark has no
    common-subtree reuse for a union of two filters; only shuffles get
    ReusedExchange) — when the parent is expensive (a WARC parse),
    persist/cache it before calling this, or the scan runs twice."""
    cs = F.coalesce(F.col(charset_col), F.lit("utf-8"))
    is_jvm = cs.isin(*_JVM_UTF8)
    # make_valid_utf8 over the byte-reinterpreting binary→string cast IS
    # utf-8-decode-with-replace (Spark 4's `decode` THROWS on malformed
    # input, which no crawl survives)
    jvm = df.where(is_jvm).withColumn(
        out_col,
        _strip_bom(F.make_valid_utf8(F.col(payload_col).cast("string"))),
    )

    # backticked names survive exotic field names; a pre-existing
    # out_col is REPLACED (the withColumn semantics of the JVM leg)
    rest_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != out_col
    ) + f", `{out_col}` string"

    out_order = [
        f.name for f in df.schema.fields if f.name != out_col
    ] + [out_col]

    def _transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, str | None] = {}

        def _codec(label: str) -> str | None:
            if label not in memo:
                try:
                    codecs.lookup(label)
                    memo[label] = label
                except LookupError:
                    memo[label] = None
            return memo[label]

        for pdf in batches:
            texts = []
            for raw, label in zip(pdf[payload_col], pdf[charset_col]):
                if raw is None:
                    texts.append(None)
                    continue
                name = _codec(str(label or "utf-8")) or "utf-8"
                t = bytes(raw).decode(name, errors="replace")
                texts.append(t.lstrip("﻿"))
            out = pdf.copy()
            out[out_col] = texts
            yield out[out_order]

    rest = df.where(~is_jvm).mapInPandas(_transcode, rest_schema)
    return jvm.unionByName(rest)


def decode_crawl_text(records: DataFrame, *, out_col: str = "text") -> DataFrame:
    """`sources.warc.read_warc` response records → UTF-8 text in
    ``out_col``: :func:`sniff_charset` over the record's HTTP
    Content-Type header and a latin-1 view of its payload (into a
    ``charset`` column), then :func:`decode_text` — the UTF-8 majority
    stays in codegen, only the non-UTF-8 minority rides the Arrow codec
    leg."""
    sniffed = records.withColumn(
        "charset",
        sniff_charset(
            F.concat(
                F.lit("content-type: "),
                F.coalesce(F.col("http_content_type"), F.lit("")),
            ),
            latin1_view("payload"),
        ),
    )
    return decode_text(sniffed, out_col=out_col)


def _strip_bom(text: Column) -> Column:
    # ALL leading U+FEFF, like the Python leg's lstrip — one-only would
    # make the legs disagree on '﻿﻿X' content
    return F.regexp_replace(text, "^﻿+", "")
