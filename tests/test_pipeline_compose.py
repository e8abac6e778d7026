"""The full training-data assembly path composed from round-2 operators:

    near-dup pairs → connected components → keep one per component
    → chunk into token windows → pack into token-budget sequences

Each stage is independently verified elsewhere; this test pins the
COMPOSITION: stages connect on their declared schemas and the end-to-end
invariants hold on real documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from psy_supabase_spark.operators import dedup, textanalysis
from psy_supabase_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_dedup_chunk_pack_composition(spark):
    docs = load_table(spark, SF, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, 0.5)
    kept = dedup.dedup_keep_representative(docs, pairs)

    chunks = textanalysis.chunk_documents(kept, chunk_tokens=48, overlap=12).join(
        kept.select("doc_id", "source"), "doc_id"
    )
    packed = textanalysis.pack_sequences(chunks, budget=96, group_col="doc_id")

    n_docs = docs.count()
    n_kept = kept.count()
    if pairs.head(1):
        comp = dedup.connected_components(pairs)
        n_dropped = comp.where(F.col("id") != F.col("component")).count()
    else:
        n_dropped = 0

    # dedup dropped exactly the non-representatives
    assert n_kept == n_docs - n_dropped and n_kept > 0

    # every kept doc is fully chunked; chunk tokens cover the doc
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"), F.max("chunk_idx").alias("max_idx"))
        .collect()
    )
    assert all(r.n_chunks == r.max_idx + 1 for r in per_doc)
    assert {r.doc_id for r in per_doc} == {r.doc_id for r in kept.select("doc_id").collect()}

    # packing preserves every chunk exactly once and respects the budget
    assert packed.count() == chunks.count()
    over = (
        packed.groupBy("doc_id", "seq_id")
        .agg(F.sum("n_chunk_tokens").alias("tot"), F.count("*").alias("n"))
        .where((F.col("tot") > 96) & (F.col("n") > 1))
        .count()
    )
    assert over == 0


def test_facade_corpus_pipeline(spark):
    """The whole corpus path as module calls: quality gates → near-dup
    keep-one → BPE tokenizer training → model-token packing."""
    from psy_supabase_spark.functions import bpe
    from psy_supabase_spark.functions.quality import quality_filter

    docs = load_table(spark, SF, "documents")

    gated = quality_filter(
        docs, min_words=5, min_stopword_hits=1, min_terminal_line_frac=0.0
    )
    n_gated = gated.count()
    assert 0 < n_gated < docs.count()

    pairs = dedup.minhash_lsh_pairs(gated, 0.5)
    kept = dedup.dedup_keep_representative(gated, pairs)

    merges = bpe.train_bpe(kept, n_merges=60)
    assert len(merges) == 60

    packed = textanalysis.pack_for_training(kept, merges, budget=256)
    assert packed.count() == kept.count()  # one row per doc (unchunked path)
    over = (
        packed.groupBy("group_key", "seq_id")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
        .where((F.col("tot") > 256) & (F.col("n") > 1))
        .count()
    )
    assert over == 0


def test_training_pipeline_prefix_contract(spark):
    """build_prefix (the r9 per-stage attribution surface) must stay
    glued to the registered query: the final cut IS training_pipeline,
    every prefix is runnable, and the doc_id set shrinks monotonically
    through the filtering stages (joins that only ADD columns keep it)."""
    from psy_supabase_spark.queries import training_pipeline as TP

    ids_by_stage = []
    for stage in TP.STAGE_ORDER:
        df = TP.build_prefix(spark, SF, stage)
        ids_by_stage.append({r[0] for r in df.select("doc_id").collect()})
    for prev, nxt in zip(ids_by_stage, ids_by_stage[1:]):
        assert nxt <= prev
    # column-adding stages preserve the id set exactly
    names = TP.STAGE_ORDER
    frozen = {"lm_score", "span_dedup", "reshape"}
    for i, stage in enumerate(names[1:], 1):
        if stage in frozen:
            assert ids_by_stage[i] == ids_by_stage[i - 1], stage
    # the registered query is literally the last prefix
    full = TP.training_pipeline(spark, SF)
    assert {r[0] for r in full.select("doc_id").collect()} == ids_by_stage[-1]
    assert full.columns == TP.build_prefix(spark, SF, "reshape").columns
