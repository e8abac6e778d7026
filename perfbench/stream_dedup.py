"""``stream_dedup``: the two ``foreachBatch`` near-duplicate admission
filters over one parquet file source read with ``maxFilesPerTrigger=1``
(one file per micro-batch).

Each micro-batch of documents-with-embeddings goes through
``StreamingNearDupFilter`` (SimHash over the text) and then
``StreamingEmbeddingNearDupFilter`` (SRP over the dim-64 vector), both
with ``fold_every=8``: each filter queries its sketch index, commits the
admitted sketches to it (``sources.txlog``) and folds bucket counts.  5%
of the documents and 5% of the vectors are planted near-duplicates of
earlier rows.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import datagen

BATCH_ROWS = 250
EMB_DIM = 64
# micro-batches per --seconds (a batch takes ~6 s warm on a 4-core box)
BATCHES_PER_SECOND = 0.3
LABELS = ("text", "emb")
LAYER_METRICS = {
    "streaming.neardup.text.floor_s": "s",
    "streaming.neardup.emb.floor_s": "s",
    "streaming.neardup.text.marginal_docs_per_s": "1/s",
    "streaming.neardup.emb.marginal_vecs_per_s": "1/s",
    "sources.txlog.commit_ms": "ms",
    "sources.txlog.commits_per_batch": "count",
    "stream.text.jobs_per_batch": "count",
    "stream.emb.jobs_per_batch": "count",
    "stream.text.admitted": "count",
    "stream.emb.admitted": "count",
    "stream.text.admit_ratio": "ratio",
    "stream.emb.admit_ratio": "ratio",
}


def source_table(n: int, seed: int) -> pa.Table:
    """Documents (``datagen.documents``) with a unit vector each; 5% of
    the vectors are a perturbed copy of an earlier row's (cosine ~0.98)."""
    rng = np.random.default_rng([seed, 20])
    v = datagen.plant_near_duplicates(datagen.unit_vectors(n, EMB_DIM, seed), rng)
    return datagen.documents(n, seed).append_column(
        "embedding", pa.array(list(v), type=pa.list_(pa.float64()))
    )


def write_source(table: pa.Table, path: str) -> list[int]:
    """One parquet file per micro-batch, with increasing modification
    times so the file source reads them in order; returns rows per file."""
    common.fresh_dir(path)
    sizes, t0 = [], time.time() - 3600
    for i, lo in enumerate(range(0, table.num_rows, BATCH_ROWS)):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        part = table.slice(lo, BATCH_ROWS)
        pq.write_table(part, f)
        os.utime(f, (t0 + i, t0 + i))
        sizes.append(part.num_rows)
    return sizes


def make_filters(spark, base: str, n_rows: int) -> dict:
    from psy_supabase_spark.streaming.neardup import (
        StreamingEmbeddingNearDupFilter,
        StreamingNearDupFilter,
    )

    return {
        "text": StreamingNearDupFilter(spark, os.path.join(base, "text-index"), fold_every=8),
        "emb": StreamingEmbeddingNearDupFilter(
            spark,
            os.path.join(base, "emb-index"),
            threshold=0.9,
            dim=EMB_DIM,
            id_col="doc_id",
            fold_every=8,
            expected_n=n_rows,
        ),
    }


def drain(ctx, src: str, n_rows: int, tag: str, tr):
    """Fresh indexes and checkpoint, then the whole source through both
    filters.  Returns (filters, per-filter batch wall and CPU seconds,
    rows in, admitted per filter, failed micro-batches, wall s net of the
    counting jobs)."""
    spark = ctx.spark
    base = os.path.join(ctx.workdir, f"stream-{tag}")
    filters = make_filters(spark, base, n_rows)
    batch_s = {label: [] for label in LABELS}
    batch_cpu = {label: [] for label in LABELS}
    rows_in, failed, counting = [0], [0], [0.0]
    admitted = dict.fromkeys(LABELS, 0)

    def on_batch(df, epoch_id):
        outs = {}
        try:
            with tr.span("stream.batch", rid=epoch_id):
                for label in LABELS:
                    with common.Clock() as clock, tr.span(f"stream.{label}"):
                        outs[label] = filters[label].process_batch(df, epoch_id)
                    batch_s[label].append(clock.wall)
                    batch_cpu[label].append(clock.cpu)
        except Exception as e:  # noqa: BLE001 - a failed micro-batch is counted
            failed[0] += 1
            print(f"stream_dedup: micro-batch {epoch_id} failed: {e}", file=sys.stderr)
            return
        t1 = time.perf_counter()
        rows_in[0] += df.count()
        for label in LABELS:
            admitted[label] += outs[label].count()
        counting[0] += time.perf_counter() - t1

    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    wall = time.perf_counter() - t0 - counting[0]
    return filters, (batch_s, batch_cpu), rows_in[0], admitted, failed[0], wall


SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long, "
    "embedding array<double>"
)


def trace_targets():
    from psy_supabase_spark.sources.txlog import TxTable

    return [
        (TxTable, "append", "sources.txlog.commit"),
        (TxTable, "overwrite", "sources.txlog.commit"),
    ]


def run(ctx) -> dict:
    spark = ctx.spark
    n_b = ctx.scaled(BATCHES_PER_SECOND * ctx.seconds, minimum=2)
    n_rows = n_b * BATCH_ROWS
    src = os.path.join(ctx.workdir, "src")

    def setup_once(_):
        return write_source(source_table(n_rows, ctx.seed), src)

    files, setup_s = common.median_setup(setup_once, ctx.setup_reps)
    # warm-up: the first file through throwaway indexes
    warm = os.path.join(ctx.workdir, "src-warm")
    write_source(pq.read_table(src).slice(0, BATCH_ROWS), warm)
    drain(ctx, warm, n_rows, "warm", ctx.no_trace)

    _, (batch_s, batch_cpu), rows_in, admitted, failed, wall = drain(ctx, src, n_rows, "timed", ctx.no_trace)
    n_batches = len(batch_s["text"])
    correct = failed == 0 and rows_in == n_rows and n_batches == len(files)
    correct = correct and all(0 < admitted[label] <= rows_in for label in LABELS)
    if not correct:
        print(f"stream_dedup: {rows_in}/{n_rows} rows in, {n_batches} batches, admitted {admitted}", file=sys.stderr)
    text_s, emb_s = batch_s["text"], batch_s["emb"]
    both = [a + b for a, b in zip(batch_cpu["text"], batch_cpu["emb"])]
    e2e = {
        "op_cpu_p50_ms": common.median(both) * 1e3,
        "op_cpu_geomean_ms": common.geomean(both) * 1e3,
        "ops_per_cpu_s": n_rows / sum(both),
        "setup_s": setup_s,
    }
    detail = {
        "stream_docs_per_s": n_rows / wall,
        "batches": n_b,
        "rows": n_rows,
        "stream_text_docs_per_s": n_rows / sum(text_s),
        "stream_emb_vecs_per_s": n_rows / sum(emb_s),
        "stream_text_batch_p50_s": common.median(text_s),
        "stream_emb_batch_p50_s": common.median(emb_s),
        "admitted": admitted,
    }
    layers = None
    if ctx.traced:
        tr = ctx.make_tracer()
        tr.install(trace_targets())
        try:
            filters, batch_t, _, adm_t, failed_t, wall_t = drain(ctx, src, n_rows, "traced", tr)
            floors = {}
            for label in LABELS:
                empty = spark.createDataFrame([], SCHEMA)
                floors[label] = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    filters[label].process_batch(empty)
                    floors[label] = min(floors[label], time.perf_counter() - t0)
        finally:
            tr.uninstall()
        _, _, _, adm_u, failed_u, wall_u = drain(ctx, src, n_rows, "after", ctx.no_trace)
        failed += failed_t + failed_u
        correct = correct and failed == 0 and adm_t == admitted == adm_u
        tr.collect()
        layers = {}
        for label, unit in (("text", "docs"), ("emb", "vecs")):
            spans = tr.named(f"stream.{label}")
            busy = sum(s["dur"] for s in spans)
            marginal = busy - len(spans) * floors[label]
            layers[f"streaming.neardup.{label}.floor_s"] = (floors[label], "s")
            layers[f"streaming.neardup.{label}.marginal_{unit}_per_s"] = (
                n_rows / marginal if marginal > 0 else 0.0,
                "1/s",
            )
            layers[f"stream.{label}.jobs_per_batch"] = (
                sum(tr.inclusive(s, "jobs") for s in spans) / len(spans),
                "count",
            )
            layers[f"stream.{label}.admitted"] = (adm_t[label], "count")
            layers[f"stream.{label}.admit_ratio"] = (adm_t[label] / n_rows, "ratio")
        # commits made inside micro-batches (not by the floor probes)
        commits = [c for c in tr.named("sources.txlog.commit") if c["parent"] is not None]
        layers["sources.txlog.commit_ms"] = (common.median([c["dur"] for c in commits]) * 1e3, "ms")
        layers["sources.txlog.commits_per_batch"] = (len(commits) / len(batch_t[0]["text"]), "count")
        layers["trace_overhead_frac"] = (wall_t / ((wall + wall_u) / 2.0) - 1.0, "ratio")
        ctx.save_spans(tr)
    return {
        "correct": correct,
        "attempted": n_b * (3 if ctx.traced else 1),
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "detail": detail,
    }
