"""Crawl-bytes → training-text walkthrough: the WARC boundary feeding
the engine's extraction chain.

    python examples/crawl_ingest_demo.py [sf_dir] [out_dir]

Builds a synthetic Common-Crawl-style shard (one gzip member per WARC
response record, HTML page per document) from the testdata documents
table, then runs the real ingest path:

    read_warc (binaryFile → record scan)     sources/warc
    → html_to_text (WET-style chain)         functions/html
    → quality gate                           functions/quality
    → exact dedup (hash-first)               operators/dedup

Everything after this point is `examples/pipeline_demo.py` — this demo
exists to show the FRONT of the pipeline starting from raw crawl bytes
rather than pre-extracted parquet.
"""

from __future__ import annotations

import gzip
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def _warc_record(doc_id: int, text: str) -> bytes:
    # every fifth page is served in latin-1 with accented content (as a
    # real crawl is — ~25-35% of the web isn't UTF-8); the charset rides
    # the HTTP Content-Type header and the ingest transcodes it
    latin = doc_id % 5 == 1
    body_text = f"r\xe9sum\xe9 caf\xe9 {text}" if latin else text
    ctype = "text/html; charset=ISO-8859-1" if latin else "text/html"
    html = (
        f"<html><head><title>Doc {doc_id}</title>"
        f"<script>var x={doc_id};</script></head>"
        f"<body><h1>Doc {doc_id}</h1><p>{body_text}</p></body></html>"
    ).encode("iso-8859-1" if latin else "utf-8")
    # every third page is served Content-Encoding: gzip (as real servers
    # do) — the ingest decodes it when decode_http_body=True.  mtime=0
    # keeps the wall clock out of the gzip header: payload digests hash
    # these bytes, so a shard must be the same on every run
    if doc_id % 3 == 0:
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
            "Content-Encoding: gzip\r\n\r\n".encode() + gzip.compress(html, mtime=0)
        )
    else:
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode()
            + html
        )
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{doc_id}>\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"WARC-Target-URI: http://example.com/doc/{doc_id}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return gzip.compress(hdr + http + b"\r\n\r\n", mtime=0)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="crawl_demo_")

    from psy_supabase_spark.functions.html import html_to_text
    from psy_supabase_spark.functions.quality import quality_filter
    from psy_supabase_spark.operators import dedup
    from psy_supabase_spark.session import get_spark
    from psy_supabase_spark.sources import warc
    from psy_supabase_spark.sources.catalog import load_table

    spark = get_spark("crawl-ingest-demo")
    docs = load_table(spark, sf_dir, "documents")

    # synthesize the shard driver-side (bounded demo input; a real crawl
    # supplies the shards) — gzip member per record, the CC layout
    shard_dir = Path(out_dir) / "shards"
    shard_dir.mkdir(parents=True, exist_ok=True)
    rows = docs.select("doc_id", "text").limit(200).collect()
    total_bytes = 0
    for s in range(2):  # TWO shards: the streaming legs run multi-batch
        blob = b"".join(_warc_record(r.doc_id, r.text) for r in rows[s::2])
        (shard_dir / f"demo-{s:05d}.warc.gz").write_bytes(blob)
        total_bytes += len(blob)
    print(f"shards: {len(rows)} records / 2 files, {total_bytes:,} bytes gzipped")

    records = warc.read_warc(spark, str(shard_dir), decode_http_body=True)
    n_rec = records.count()
    print(f"read_warc (wire-decoded): {n_rec} response records")

    # streaming leg: the same shards drained as a live stream (the shape
    # of a crawler dropping shards into object storage), byte-identical
    # parser, exactly-once via the checkpoint
    ckpt = Path(out_dir) / "ckpt"
    q = (
        warc.read_warc_stream(
            spark, str(shard_dir), decode_http_body=True, max_files_per_trigger=1
        )
        .writeStream.format("parquet")
        .option("path", str(Path(out_dir) / "stream_records"))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_stream = spark.read.parquet(str(Path(out_dir) / "stream_records")).count()
    print(f"read_warc_stream: {n_stream} records via micro-batches (== batch: {n_stream == n_rec})")

    # live-cardinality leg (r13): "how many distinct URLs per host has
    # this crawl ingested SO FAR?" as a durable register table the
    # stream folds per micro-batch (streaming/cardinality: state and
    # fold are both sketch-bounded), estimated IN-ENGINE any time with
    # hll_estimates — and exactly equal to the batch sketch of
    # everything ingested (HLL's merge semantics; the equivalence is
    # tested in test_streaming, demonstrated here on real shards)
    from psy_supabase_spark.operators import hll as HLL
    from psy_supabase_spark.sources.txlog import TxTable
    from psy_supabase_spark.streaming.cardinality import fold_registers_stream

    host_of = F.lower(F.parse_url(F.col("target_uri"), F.lit("HOST")))
    card_root = str(Path(out_dir) / "card_regs")
    q = (
        fold_registers_stream(
            warc.read_warc_stream(
                spark, str(shard_dir), decode_http_body=True,
                max_files_per_trigger=1,
            ).select(host_of.alias("host"), "target_uri"),
            "target_uri",
            table_root=card_root,
            checkpoint=str(Path(out_dir) / "card_ckpt"),
            by=("host",),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    folded = TxTable(spark, card_root).read()
    live_card = {
        r.host: r.approx_distinct
        for r in HLL.hll_estimates(folded, by=("host",)).collect()
    }
    batch_regs = {
        (r.host, r.bucket, r.rho)
        for r in HLL.hll_registers(
            records.select(host_of.alias("host"), "target_uri"),
            "target_uri",
            by=("host",),
        ).collect()
    }
    folded_regs = {(r.host, r.bucket, r.rho) for r in folded.collect()}
    assert folded_regs == batch_regs, "stream fold != batch sketch"
    print(
        "streaming cardinality (durable HLL fold == batch sketch of all "
        "ingested): "
        + ", ".join(f"{h}≈{v:.0f}" for h, v in sorted(live_card.items()))
    )

    # random-access leg: index the members once, then pull a filtered
    # record set by (filename, offset, length) — at crawl scale this is
    # the path that avoids re-scanning 64k shards after every filter
    from psy_supabase_spark.sources import cdx

    index = cdx.index_warc_members(spark, str(shard_dir))
    hits = index.where(F.col("url").endswith("0"))
    n_fetched = cdx.fetch_records(hits).count()
    print(
        f"cdx fetch: {n_fetched} of {n_rec} records by range-read "
        f"({index.count()} members indexed)"
    )

    # incremental-crawl round: ONE call chains the legs a crawler runs
    # each cycle — dedupe_captures (revisit collapse) → bloom
    # filter_unseen (cross-snapshot novelty: the even-doc half plays
    # YESTERDAY's snapshot) → frontier_allowed (robots policy) →
    # schedule_frontier (politeness pacing, deep hosts pre-capped)
    from psy_supabase_spark.operators import bloom as BLOOM
    from psy_supabase_spark.operators.robots import (
        plan_crawl_round, robots_crawl_delays, robots_rules,
    )

    digests = cdx.index_warc_members(spark, str(shard_dir), digest=True)
    prev = digests.where(F.col("url").rlike("[02468]$"))
    seen = BLOOM.build_seen_filter(prev, "digest", fp_rate=0.01)
    _, m_bits, k = seen
    robots_src = spark.createDataFrame(
        [("example.com",
          "User-agent: *\nDisallow: /doc/13\nCrawl-delay: 0.2\n")],
        "host string, robots_txt string",
    )
    plan = plan_crawl_round(
        digests,
        robots_rules(robots_src),
        seen,
        agent="demobot",
        delays=robots_crawl_delays(robots_src, agent="demobot"),
        max_per_host=120,
    )
    n_plan = plan.count()
    print(
        f"plan_crawl_round: {n_plan} paced fetches of {digests.count()} "
        f"captures survive novelty ∧ robots (m={m_bits} bits, k={k}; "
        f"0.2 s/slot); fetch touches only those: "
        f"{cdx.fetch_records(plan).count()} records"
    )
    stats = HLL.snapshot_stats(digests)
    print(
        "snapshot_stats (portable HLL, register-bounded): "
        + ", ".join(f"{k.split('_')[-1]}≈{v:.0f}" for k, v in sorted(stats.items()))
    )

    # charset leg: sniff off the parser-surfaced HTTP Content-Type (BOM
    # and <meta> fallbacks inside), transcode split-path — the UTF-8
    # majority never leaves the JVM, only the latin-1 minority rides
    # the Arrow codec leg
    from psy_supabase_spark.functions.charset import decode_crawl_text

    decoded = decode_crawl_text(records, out_col="page")
    by_cs = {r.charset: r["count"] for r in decoded.groupBy("charset").count().collect()}
    print(f"charset sniff + transcode: {by_cs}")

    texts = decoded.select(
        "target_uri",
        html_to_text(F.col("page")).alias("text"),
    )
    gated = quality_filter(texts, c4=False, min_words=10, min_stopword_hits=1)
    n_gated = gated.count()
    print(f"html_to_text + quality gate: {n_gated} / {n_rec} kept")

    with_ids = gated.withColumn(
        "doc_id", F.abs(F.xxhash64("target_uri"))
    )
    keepers = dedup.exact_dedup(with_ids, hash_first=True)
    print(f"exact dedup: {keepers.count()} keeper groups")
    print(f"hand off to examples/pipeline_demo.py stages 2+ (out: {out_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
