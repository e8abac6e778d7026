"""Scale-step measurement (round-6 verdict #3): run the dedup / LSH /
ANN families at 1×, 3×, and 10× the sf0.1 corpus and print the scaling
curve as one SHORT JSON line (per-× ratios + a pointer; full per-factor
walls go to SCALE_STEP_EXTRA.json — the r7 bench artifact was lost to
the driver's 2,000-char stdout tail window, and this tool's r7 line was
8 bytes from the same cliff).

The 10× corpora are synthesized from sf0.1 (sources/synth):

- documents: per-copy Caesar-rotated text — within-copy duplicate
  structure preserved isomorphically, cross-copy pair counts ~linear
  (see `scaled_documents`), so a family that scales superlinearly here
  does so because of ITS OWN machinery (bucket growth, shuffle width),
  not because the input's pair structure exploded.
- embeddings: fresh (seed, id)-deterministic clustered vectors at the
  same dim 64 (1000 near-dup micro-modes per 50k rows).
- wide embeddings: dim-1536 clustered vectors (10k rows per factor) for
  the GEMM / PQ / IVF-PQ serving-tier curves (r7: the ladder's scaling
  was previously extrapolated from a single 1× measurement).

Wall-clock is single-run per (family, factor) — the point is the SHAPE
of the curve (≲linear for the valved paths), not ±20% noise.  Results
are recorded in SCALE.md §"Measured scale-step" with the commit hash.

Usage:  python tools/scale_step.py [factors...]   (default: 1 3 10)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from psy_supabase_spark.operators import dedup, ivf, lsh, pq  # noqa: E402
from psy_supabase_spark.session import get_spark  # noqa: E402
from psy_supabase_spark.sources.catalog import load_table  # noqa: E402
from psy_supabase_spark.sources.synth import scaled_documents, synthetic_embeddings  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EMB_PER_X = 5_000  # sf0.1 embeddings row count
MODES_PER_X = 1_000
WIDE_PER_X = 10_000  # dim-1536 serving-tier corpus per factor
WIDE_MODES_PER_X = 1_000

# Family selection (r8 verdict, next-round #3: extend the shuffle-heavy
# families to 30× without paying for the whole matrix again):
# SPARK_GRAFT_FAMILIES=docs,srp,ivf,wide,analytics — default all.
ALL_FAMILIES = (
    "docs", "srp", "ivf", "wide", "analytics", "warc", "cdx", "linkgraph",
    "frontier", "hll", "compact", "stream",
)
FAMILIES = frozenset(
    os.environ.get("SPARK_GRAFT_FAMILIES", ",".join(ALL_FAMILIES)).split(",")
)


def _persist(df, name: str):
    path = os.path.join(tempfile.mkdtemp(prefix=f"scale_{name}_"), name)
    df.write.parquet(path)
    return path


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 3, 10]
    spark = get_spark("scale-step")
    base_docs = load_table(spark, SF_DIR, "documents")
    out: dict[str, dict] = {}

    need_docs = not FAMILIES.isdisjoint({"docs", "analytics"})
    need_emb = not FAMILIES.isdisjoint({"srp", "ivf"})

    # WARC base shards synthesized ONCE from sf0.1 (Common Crawl layout:
    # gzip member per HTML response record, 8 shards); factor fx
    # replicates the files — parse cost is per-record, identical bytes
    # parse identically, and the curve isolates the READER's scaling
    # (binaryFile listing, per-shard task fan-out, record scan), which
    # is the quantity of interest for a 64k-shard crawl.
    warc_blobs: list[bytes] = []
    if "warc" in FAMILIES:
        import gzip

        def _warc_rec(doc_id: int, text: str) -> bytes:
            html = (
                f"<html><head><title>Doc {doc_id}</title></head>"
                f"<body><p>{text}</p></body></html>"
            ).encode()
            http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
            hdr = (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: http://example.com/doc/{doc_id}\r\n"
                f"Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode()
            return gzip.compress(hdr + http + b"\r\n\r\n", compresslevel=1)

        _rows = base_docs.select("doc_id", "text").collect()
        warc_blobs = [
            b"".join(_warc_rec(r.doc_id, r.text) for r in _rows[s::8])
            for s in range(8)
        ]
    for fx in factors:
        docs = (
            spark.read.parquet(_persist(scaled_documents(base_docs, fx), f"docs{fx}"))
            if need_docs
            else None
        )
        emb = (
            spark.read.parquet(
                _persist(
                    synthetic_embeddings(
                        spark, EMB_PER_X * fx, 64, n_modes=MODES_PER_X * fx, seed=64
                    ),
                    f"emb{fx}",
                )
            )
            if need_emb
            else None
        )

        fam: dict[str, float] = {}
        if docs is not None:
            fam["n_docs"] = docs.count()
        if emb is not None:
            fam["n_emb"] = emb.count()
        n_emb = fam.get("n_emb", 0)

        if "docs" in FAMILIES:
            t0 = time.time()
            fam["exact_dedup_groups"] = dedup.exact_dedup(docs, hash_first=True).count()
            fam["exact_dedup_sec"] = round(time.time() - t0, 2)

            t0 = time.time()
            fam["minhash_pairs"] = dedup.minhash_lsh_pairs(docs, 0.5).count()
            fam["minhash_sec"] = round(time.time() - t0, 2)

            t0 = time.time()
            fam["simhash_pairs"] = dedup.simhash_neardup_pairs(docs, 3).count()
            fam["simhash_sec"] = round(time.time() - t0, 2)

        if "srp" in FAMILIES:
            # banding scaled with N (lsh.suggest_banding): the dim-64 default
            # (3-bit bands) is quadratic in corpus size — 1.25G candidate
            # pairs at 10×; scaled bits keep candidates ~linear
            n_planes, bands = lsh.suggest_banding(n_emb, 0.9)
            t0 = time.time()
            fam["srp_pairs"] = lsh.srp_neardup_pairs(
                emb, 0.9, n_planes=n_planes, bands=bands
            ).count()
            fam["srp_sec"] = round(time.time() - t0, 2)
            fam["srp_banding"] = f"{n_planes}p/{bands}b"

        if "ivf" in FAMILIES:
            t0 = time.time()
            index = ivf.build_ivf(emb, n_lists=None)  # auto √N rule
            index.assigned = index.assigned.cache()
            index.assigned.count()
            fam["ivf_lists"] = len(index.centers)
            fam["ivf_build_sec"] = round(time.time() - t0, 2)
            queries = emb.where(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_embedding"),
            )
            t0 = time.time()
            ivf.ivf_search_batch(index, queries, k=10, nprobe=4).write.mode(
                "overwrite"
            ).format("noop").save()
            fam["ivf_batch100_sec"] = round(time.time() - t0, 2)
            index.assigned.unpersist()

        if "wide" in FAMILIES:
            # WIDE-DIM serving tiers at the reference's real width (r6 verdict
            # #5: the serving ladder's scaling curve was extrapolated from a
            # single 1× point) — GEMM-routed IVF batch, PQ ADC, and IVF-PQ
            # over a dim-1536 clustered corpus growing with the same factor.
            wemb = spark.read.parquet(
                _persist(
                    synthetic_embeddings(
                        spark, WIDE_PER_X * fx, 1536, n_modes=WIDE_MODES_PER_X * fx, seed=96
                    ),
                    f"wemb{fx}",
                )
            )
            fam["n_wide"] = wemb.count()
            t0 = time.time()
            widx = ivf.build_ivf(wemb, n_lists=None)  # auto √N rule
            widx.assigned = widx.assigned.cache()
            widx.assigned.count()
            fam["wide_ivf_lists"] = len(widx.centers)
            fam["wide_ivf_build_sec"] = round(time.time() - t0, 2)
            wqueries = wemb.where(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_embedding"),
            )
            t0 = time.time()
            ivf.ivf_search_batch_gemm(widx, wqueries, k=10, nprobe=4).write.mode(
                "overwrite"
            ).format("noop").save()
            fam["wide_gemm_batch100_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            books = pq.pq_fit(wemb, m=16, fit_sample_cap=5_000)
            enc = pq.pq_encode(widx.assigned, books, passthrough=["centroid_id"]).cache()
            enc.count()
            fam["wide_pq_build_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            pq.pq_search_batch(enc, wqueries, books, wemb, k=10, rescore_factor=8).write.mode(
                "overwrite"
            ).format("noop").save()
            fam["wide_pq_batch100_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            pq.ivf_pq_search_batch(
                widx, enc, wqueries, books, k=10, nprobe=4, rescore_factor=8
            ).write.mode("overwrite").format("noop").save()
            fam["wide_ivfpq_batch100_sec"] = round(time.time() - t0, 2)
            enc.unpersist()
            widx.assigned.unpersist()

        if "analytics" in FAMILIES:
            # corpus-analytics family (r7): trigram heavy hitters (MG pass
            # shuffle stays capacity·P-bounded while the declarative twin's
            # shuffle grows with the distinct-trigram count) and DSIR
            # selection (feature shuffle linear in tokens, fits bounded)
            from psy_supabase_spark.operators import dsir, heavyhitters as hh

            # BOUNDED retries (r8: the unbounded `while True` never
            # terminated at x10 — the Caesar-rotated corpus multiplies the
            # distinct-trigram count ~linearly with the factor, and on a
            # near-uniform stream raising capacity only GROWS the merged
            # candidate list, so the default max_candidates=200k raise
            # recurred forever).  max_candidates is lifted to 2M for this
            # measurement (a few tens of MB of driver rows — the tool prices
            # the capacity·P-bounded SHUFFLE, which is unaffected), and a
            # certify failure after 3 growths records -1 instead of hanging
            # the artifact.
            cap = 16_384
            fam["hh_trigram_mg_sec"] = -1.0
            for _ in range(3):
                try:
                    t0 = time.time()
                    hh.top_tokens(
                        docs, 50, capacity=cap, ngram=3, max_candidates=2_000_000
                    ).count()
                    fam["hh_trigram_mg_sec"] = round(time.time() - t0, 2)
                    break
                except ValueError:
                    cap *= 4
            fam["hh_trigram_capacity"] = cap
            t0 = time.time()
            hh.top_tokens_exact(docs, 50, ngram=3).count()
            fam["hh_trigram_exact_sec"] = round(time.time() - t0, 2)

            target = docs.where(F.col("doc_id") % 5 == 0)
            t0 = time.time()
            dsir.dsir_select(docs, target, 500).count()
            fam["dsir_select_sec"] = round(time.time() - t0, 2)

        if "warc" in FAMILIES:
            from psy_supabase_spark.sources import warc as warc_src

            shard_dir = Path(tempfile.mkdtemp(prefix=f"scale_warc{fx}_"))
            for copy in range(fx):
                for s, blob in enumerate(warc_blobs):
                    (shard_dir / f"c{copy:03d}-s{s:02d}.warc.gz").write_bytes(blob)
            # min-of-3: the first timed pass pays Python-worker startup
            # (~2 s), which at x1 would dwarf the 8-shard parse and
            # invert the curve — the min over the two warm passes
            # absorbs it (no separate untimed warmup)
            best = None
            for _ in range(3):
                t0 = time.time()
                fam["warc_records"] = warc_src.read_warc(
                    spark, str(shard_dir)
                ).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            fam["warc_sec"] = round(best, 2)
            fam["warc_shards"] = 8 * fx
            fam["warc_records_per_sec"] = round(fam["warc_records"] / best, 1)

            if "cdx" in FAMILIES:
                # CDX fetch of a FIXED hit set as the corpus grows ×fx:
                # the claim under test is that random-access cost is
                # O(hits), independent of corpus size.  The INDEX covers
                # the whole ×fx corpus (its build cost is the one-time
                # full-scan-class operation and grows like warc_sec),
                # but the hit set is pinned to one replica's shards
                # (c000-*), so fetch wall should stay FLAT while the
                # corpus — and the full-scan alternative — grows ×fx.
                from pyspark.sql import functions as SF

                from psy_supabase_spark.sources import cdx as cdx_src

                t0 = time.time()
                index = cdx_src.index_warc_members(spark, str(shard_dir))
                hits = index.where(
                    (
                        SF.regexp_extract("url", r"/doc/(\d+)$", 1)
                        .cast("long") % 100 == 0
                    )
                    & SF.col("filename").contains("c000-")
                )
                hits = hits.cache()
                fam["cdx_hits"] = hits.count()
                fam["cdx_index_sec"] = round(time.time() - t0, 2)
                best = None
                for _ in range(3):
                    t0 = time.time()
                    fam["cdx_fetched"] = cdx_src.fetch_records(hits).count()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                fam["cdx_fetch_sec"] = round(best, 2)
                hits.unpersist()

        if "linkgraph" in FAMILIES:
            # host PageRank: the edge list grows with the factor (8·fx
            # outlinks per base doc) while the HOST universe stays fixed
            # at 997 + a deliberate hot destination (1/3 of edges →
            # h0) — the real crawl shape, where edges outgrow hosts.
            # Expected curve: per-× ≲ 1 (the per-iteration shuffle is
            # RANK-frame-sized and constant; only the map-side edge
            # join scales).  min-of-2: the iteration tower runs inside
            # host_pagerank itself, so the call IS the timed quantity.
            from psy_supabase_spark.operators import linkgraph as lg

            e = base_docs.select(
                "doc_id",
                F.explode(F.sequence(F.lit(0), F.lit(8 * fx - 1))).alias("j"),
            ).select(
                F.concat(
                    F.lit("h"), (F.col("doc_id") % 997).cast("string")
                ).alias("src_host"),
                F.when((F.col("doc_id") + F.col("j")) % 3 == 0, F.lit("h0"))
                .otherwise(
                    F.concat(
                        F.lit("h"),
                        (
                            (F.col("doc_id") * 31 + F.col("j") * 7 + 1) % 997
                        ).cast("string"),
                    )
                )
                .alias("dst_host"),
            )
            fam["pagerank_edges"] = e.count()
            best = None
            for _ in range(2):
                t0 = time.time()
                lg.host_pagerank(e, iterations=3).write.mode(
                    "overwrite"
                ).format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            fam["pagerank_sec"] = round(best, 2)

        if "frontier" in FAMILIES:
            # monster-host frontier scheduling (r12): fx·250k URLs on
            # ONE host + 10k urls over 1k normal hosts, max_per_host
            # = 100.  The pre-window cap (precap_frontier) bounds the
            # slot window's input to O(cap) per host, so the expected
            # curve is the LINEAR count/filter scan (per-× ≲ 1), not
            # the O(N log N) single-task sort the uncapped window
            # would pay on the monster host's full depth.
            from psy_supabase_spark.operators import robots as rb

            urls = (
                spark.range(250_000 * fx)
                .select(
                    F.lit("monster.example").alias("host"),
                    F.concat(
                        F.lit("http://monster.example/p/"), F.col("id")
                    ).alias("url"),
                )
                .union(
                    spark.range(10_000).select(
                        F.concat(
                            F.lit("h"), (F.col("id") % 1000).cast("string")
                        ).alias("host"),
                        F.concat(
                            F.lit("http://h"),
                            (F.col("id") % 1000).cast("string"),
                            F.lit("/p/"),
                            F.col("id"),
                        ).alias("url"),
                    )
                )
            )
            delays = spark.createDataFrame(
                [("monster.example", 0.5)],
                "host string, crawl_delay double",
            )
            best = None
            for _ in range(2):
                t0 = time.time()
                rb.schedule_frontier(
                    urls, delays, max_per_host=100
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            fam["frontier_monster_sec"] = round(best, 2)

        if "hll" in FAMILIES:
            # HLL distinct sketch (r12): key count grows 8·fx per base
            # doc (all keys distinct by construction, so the true
            # cardinality is known exactly); the register shuffle stays
            # 2^12 rows at every factor, so the expected curve is the
            # LINEAR md5 scan (per-× ≲ 1).  Accuracy is re-checked at
            # every factor, not assumed from x1.
            from psy_supabase_spark.operators import hll as HL

            keys = base_docs.select(
                "doc_id",
                F.explode(F.sequence(F.lit(0), F.lit(8 * fx - 1))).alias("j"),
            ).select(
                F.concat(
                    F.lit("http://h"),
                    (F.col("doc_id") % 997).cast("string"),
                    F.lit(".example/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit("-"),
                    F.col("j").cast("string"),
                ).alias("url")
            )
            n_true = keys.count()
            best = None
            est = None
            for _ in range(2):
                t0 = time.time()
                regs = HL.hll_registers(keys, "url", b=12).collect()
                dt = time.time() - t0
                if best is None or dt < best:
                    best = dt
                est = HL.hll_estimate(regs, b=12)
            fam["hll_sec"] = round(best, 2)
            fam["hll_err"] = round(abs(est - n_true) / n_true, 4)

            # grouped sketch + fully-distributed estimation (r13): one
            # register set per host (997 hosts × 2^12 registers) and the
            # per-group estimate computed IN-ENGINE (hll_estimates —
            # exact DECIMAL sum + one double op per group, no collect);
            # noop-sunk, so the number prices the whole distributed
            # per-host cardinality card.  Expected curve: the same
            # linear md5 scan; the register shuffle is fixed at
            # ≤ 997 × 4096 rows whatever the key count.
            hosts = keys.select(
                F.regexp_extract("url", r"http://(h\d+)\.", 1).alias("host"),
                "url",
            )
            best_g = None
            for _ in range(2):
                t0 = time.time()
                HL.hll_estimates(
                    HL.hll_registers(hosts, "url", b=12, by=("host",)),
                    by=("host",),
                    b=12,
                ).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                if best_g is None or dt < best_g:
                    best_g = dt
            fam["hll_grouped_sec"] = round(best_g, 2)

        if "compact" in FAMILIES:
            # tenant-store small-file compaction (r14): a partition
            # fragmented into 200·fx one-row-group files (the
            # per-request append steady state) vs the same rows after
            # `TenantStore.compact`.  The fragmented scan pays one
            # file open + footer parse per file, so its wall grows
            # ~linearly with FILE COUNT at constant row count — the
            # curve to watch is scan_frag/scan_after widening with fx
            # while compact itself stays ~linear in rows written.
            import shutil

            from psy_supabase_spark.sources.tenancy import TenantStore

            n_files = 200 * fx
            wh = tempfile.mkdtemp(prefix=f"compact_x{fx}_")
            store = TenantStore(spark, wh)
            rows = spark.range(n_files).select(
                F.lit(None).cast("string").alias("context"),
                F.concat(F.lit("q"), F.col("id")).alias("question"),
                F.concat(F.lit("a"), F.col("id")).alias("answer"),
                F.lit(None).cast("string").alias("metadata"),
                F.current_timestamp().alias("created_at"),
                F.col("id").alias("interaction_id"),
                F.lit("alice").alias("user_id"),
            )
            rows.repartition(n_files).write.partitionBy("user_id").parquet(
                wh + "/interactions"
            )

            def _scan_wall() -> float:
                best_s = None
                for _ in range(2):
                    t0 = time.time()
                    store.scan("interactions", user_id="alice").agg(
                        F.count("*"), F.max("interaction_id")
                    ).collect()
                    dt = time.time() - t0
                    best_s = dt if best_s is None else min(best_s, dt)
                return best_s

            fam["compact_files_before"] = n_files
            fam["compact_scan_frag_sec"] = round(_scan_wall(), 2)
            t0 = time.time()
            fam["compact_files_after"] = store.compact(
                "interactions", user_id="alice"
            )
            fam["compact_sec"] = round(time.time() - t0, 2)
            fam["compact_scan_after_sec"] = round(_scan_wall(), 2)
            shutil.rmtree(wh, ignore_errors=True)

        if "stream" in FAMILIES:
            # streaming near-dup filters: price BOTH stateful filters per
            # factor as a fixed per-batch floor plus a marginal
            # throughput (10·fx single-file micro-batches, empty-batch
            # floor at final index size, marginal = batched wall −
            # batches × floor) so the marginal throughput floor is a
            # committed, re-runnable curve.
            import shutil as _sh

            from psy_supabase_spark.streaming.neardup import (
                StreamingEmbeddingNearDupFilter,
                StreamingNearDupFilter,
            )

            n_b = 10 * fx
            sdocs = docs if docs is not None else spark.read.parquet(
                _persist(scaled_documents(base_docs, fx), f"sdocs{fx}")
            )
            semb = emb if emb is not None else spark.read.parquet(
                _persist(
                    synthetic_embeddings(
                        spark, EMB_PER_X * fx, 64, n_modes=MODES_PER_X * fx, seed=64
                    ),
                    f"semb{fx}",
                )
            )
            n_docs_s, n_emb_s = sdocs.count(), semb.count()
            fam["stream_n_docs"], fam["stream_n_emb"] = n_docs_s, n_emb_s
            fam["stream_batches"] = n_b
            for label, frame, n_rows, mk in (
                (
                    "emb",
                    semb,
                    n_emb_s,
                    lambda p: StreamingEmbeddingNearDupFilter(
                        spark, p, threshold=0.9, fold_every=8, expected_n=n_emb_s
                    ),
                ),
                (
                    "text",
                    sdocs,
                    n_docs_s,
                    lambda p: StreamingNearDupFilter(spark, p, fold_every=8),
                ),
            ):
                src = tempfile.mkdtemp(prefix=f"scale_stream_{label}{fx}_")
                frame.repartition(n_b).write.parquet(src + "/src")
                filt = mk(src + "/idx")
                walls: list[float] = []

                def _timed(df, e, _f=filt, _w=walls):
                    b0 = time.time()
                    _f.process_batch(df, e)
                    _w.append(time.time() - b0)

                t0 = time.time()
                q = (
                    spark.readStream.schema(frame.schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(src + "/src")
                    .writeStream.foreachBatch(_timed)
                    .option("checkpointLocation", src + "/ckpt")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                wall = time.time() - t0
                empty = spark.createDataFrame([], frame.schema)
                floor = None
                for _ in range(2):
                    f0 = time.time()
                    filt.process_batch(empty)
                    dt = time.time() - f0
                    floor = dt if floor is None else min(floor, dt)
                marginal = sum(walls) - len(walls) * floor
                fam[f"stream_{label}_wall_sec"] = round(wall, 2)
                fam[f"stream_{label}_floor_sec_per_batch"] = round(floor, 3)
                fam[f"stream_{label}_rows_per_sec"] = round(n_rows / wall, 1)
                fam[f"stream_{label}_marginal_rows_per_sec"] = (
                    round(n_rows / marginal, 1) if marginal > 0 else None
                )
                _sh.rmtree(src, ignore_errors=True)

        out[f"x{fx}"] = fam
        print(f"-- x{fx}: {json.dumps(fam)}", file=sys.stderr)

    # ratios vs x1, normalized by factor (1.0 = perfectly linear scaling)
    if "x1" in out:
        for fx in factors:
            if fx == 1:
                continue
            key = f"x{fx}"
            # guard: a family that failed to certify records -1 and is
            # excluded from ratios rather than poisoning the curve
            out[f"ratio_{key}"] = {
                m.replace("_sec", "_per_x"): round(out[key][m] / (out["x1"][m] * fx), 2)
                for m in (
                    "exact_dedup_sec",
                    "minhash_sec",
                    "simhash_sec",
                    "srp_sec",
                    "ivf_batch100_sec",
                    "wide_gemm_batch100_sec",
                    "wide_pq_batch100_sec",
                    "wide_ivfpq_batch100_sec",
                    "hh_trigram_mg_sec",
                    "hh_trigram_exact_sec",
                    "dsir_select_sec",
                    "warc_sec",
                    "cdx_fetch_sec",
                    "pagerank_sec",
                    "frontier_monster_sec",
                    "hll_sec",
                    "hll_grouped_sec",
                )
                if out["x1"].get(m, 0) > 0 and out[key].get(m, 0) > 0
            }
    # OUTPUT CONTRACT (r8, the BENCH_r07 lesson): the driver parses the
    # stdout JSON from a ~2,000-char tail window and round 7's line was
    # already ~1,970 chars — one more metric would silently null the
    # artifact.  Keep the stdout line to the per-× RATIOS (the scaling
    # SHAPE, which is what the artifact is for) plus a pointer, assert
    # the budget, and write the full per-factor walls to a sidecar.
    full = {"sf_dir": SF_DIR, "factors": factors, **out}
    extra_file = Path(__file__).resolve().parent.parent / "SCALE_STEP_EXTRA.json"
    # DEEP-MERGE into the existing sidecar rather than overwrite: a
    # families-restricted run (SPARK_GRAFT_FAMILIES=docs,srp at 30×) must
    # extend the recorded matrix, not clobber the full-matrix factors or
    # sibling experiments (hh_crossover) recorded by other tools.
    existing: dict = {}
    if extra_file.exists():
        try:
            existing = json.loads(extra_file.read_text())
        except ValueError:
            existing = {}
    for k, v in full.items():
        if k == "factors":
            existing[k] = sorted(set(existing.get(k, [])) | set(v))
        elif isinstance(v, dict) and isinstance(existing.get(k), dict):
            existing[k].update(v)
        else:
            existing[k] = v
    with open(extra_file, "w") as f:
        json.dump(existing, f, indent=1, sort_keys=True)
        f.write("\n")
    headline = {
        "sf_dir": SF_DIR,
        "factors": factors,
        **{k: v for k, v in out.items() if k.startswith("ratio_")},
        "extra_file": "SCALE_STEP_EXTRA.json",
    }
    line = json.dumps(headline)
    if len(line) >= 1800:
        # RuntimeError, not assert: must survive `python -O`.
        raise RuntimeError(
            f"scale-step stdout line is {len(line)} chars — move keys into "
            "the SCALE_STEP_EXTRA.json sidecar"
        )
    print(line)


if __name__ == "__main__":
    main()
