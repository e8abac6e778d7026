"""Composed text-analysis operators (SURVEY.md §2.4 A1-A5 + the
LLM-data-pipeline extensions: language-ID, quality scoring, token stats,
document fingerprinting).

All UDF-free: taxonomy classification is an explode + broadcast theta-join
+ windowed argmax (the Spark spelling of the reference's Python keyword
loop, `prompt_selector.py:242-300`); fingerprints are a portable
polynomial hash folded with ``aggregate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions import text as TX


def taxonomy_table(spark: SparkSession, taxonomy: dict[str, list[str]] | None = None) -> DataFrame:
    tax = taxonomy or TX.TAXONOMY
    rows = [(topic, kw) for topic, kws in tax.items() for kw in kws]
    return spark.createDataFrame(rows, "topic string, keyword string")


def classify_topics(
    docs: DataFrame,
    tax: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    default_topic: str = "emotional_support",
) -> DataFrame:
    """A1: per-doc topic argmax by keyword-hit count; ties → topic ASC;
    zero hits → default topic (reference prompt_selector.py:294-300).

    The taxonomy side is tiny and broadcast; the containment theta-join is
    a BroadcastNestedLoopJoin — one corpus scan regardless of taxonomy
    size, which is the scalable shape at 100 TB.
    """
    lowered = docs.select(id_col, F.lower(F.col(text_col)).alias("_t"))
    hits = lowered.join(F.broadcast(tax), F.col("_t").contains(F.col("keyword")), "left")
    scores = hits.groupBy(id_col, "topic").agg(F.count("keyword").alias("n_hits"))
    w = Window.partitionBy(id_col).orderBy(F.col("n_hits").desc(), F.col("topic").asc())
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            id_col,
            F.coalesce(F.col("topic"), F.lit(default_topic)).alias("topic"),
            F.col("n_hits"),
        )
    )


def classify_topics_native(
    docs: DataFrame,
    taxonomy: dict[str, list[str]] | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    default_topic: str = "emotional_support",
) -> DataFrame:
    """A1 argmax, map-side spelling for a COMPILE-TIME taxonomy: per-topic
    hit counts are codegen'd expressions and the argmax is array_max over
    structs — zero joins, zero shuffles, identical rows to
    ``classify_topics`` (asserted in tests).  Prefer this whenever the
    taxonomy is a constant; the broadcast theta-join twin exists for
    taxonomies that arrive as DATA.  Measured ~2× faster at sf0.1 (no
    exploded hits relation, no groupBy/window exchanges)."""
    tax = taxonomy or TX.TAXONOMY
    lt = F.lower(F.col(text_col))
    structs = []
    for ord_, topic in enumerate(sorted(t for t in tax if tax[t])):
        kws = F.array(*[F.lit(k) for k in tax[topic]])
        n = F.size(F.filter(kws, lambda k: lt.contains(k))).cast("bigint")
        structs.append(
            F.struct(
                n.alias("n_hits"),
                F.lit(-ord_).cast("int").alias("negord"),  # ties → topic ASC
                F.lit(topic).alias("topic"),
            )
        )
    arr = F.filter(F.array(*structs), lambda s: s.n_hits > 0)
    best = F.array_max(arr)
    return docs.select(
        id_col,
        F.when(F.size(arr) > 0, best.topic).otherwise(F.lit(default_topic)).alias("topic"),
        F.when(F.size(arr) > 0, best.n_hits).otherwise(F.lit(0).cast("bigint")).alias("n_hits"),
    )


def text_profile(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_gates: dict | None = None,
) -> DataFrame:
    """Per-doc text-analysis profile: token counts, length bucket,
    stopword ratio, quality score, language guess, and the T3
    stop-stripped token count (keep-words quirk preserved,
    reference utilities/text_utils.py:51-75 + keep_words.py:16-19).

    ``quality_gates`` (a dict of gopher_quality_flags threshold overrides,
    possibly empty) appends the Gopher/C4 corpus-gate columns in the SAME
    map-side pass — no join, no extra scan; the gates are flat codegen
    expressions over the already-loaded text column."""
    from .scale import spread_for_compute

    # r14 opt (guide §2.5 input skew): this is a PURE map pipeline — zero
    # exchanges — so its wall time is bounded by the scan's split count.
    # An under-split input (a compacted table arriving as 1-few row
    # groups) runs the whole regex/HOF tree near-serial no matter how
    # wide the cluster is; one tiny round-robin exchange unlocks full
    # width (measured at sf0.1: 3.44 -> 2.55 s) and is a literal no-op
    # when the scan already has >= cluster parallelism (the 100 TB case).
    docs = spread_for_compute(docs)
    t = F.col(text_col)
    sw = F.array(*[F.lit(w) for w in TX.STOPWORDS])
    keep = F.array(*[F.lit(w) for w in TX.KEEP_WORDS])
    # tokenize/token_count contain filter() lambdas, which block codegen
    # CSE — staged as named columns so each runs ONCE per row instead of
    # once per consuming output column (the SCALE.md staging rule); the
    # *_from twins guarantee value-identical results to the unstaged
    # spellings (the oracle mirrors are unchanged).
    staged = (
        docs.withColumn("_toks", TX.tokenize(t))
        .withColumn("_dtoks", F.array_distinct(F.col("_toks")))
        .withColumn(
            "_kept",
            F.filter(
                F.col("_toks"),
                lambda x: ~F.array_contains(sw, x) | F.array_contains(keep, x),
            ),
        )
        .withColumn("_nws", TX.token_count(t))
        .withColumn("_swr", TX.stopword_ratio_from_tokens(F.col("_toks")))
    )
    cols = [
        id_col,
        F.col("_nws").cast("bigint").alias("n_tokens"),
        F.size(F.col("_dtoks")).cast("bigint").alias("n_distinct_tokens"),
        F.size(F.col("_kept")).cast("bigint").alias("n_kept"),
        # T3's native stemming tier: distinct S-stemmed kept tokens
        # (Harman's three-rule stemmer — oracle-mirrored CASE cascade)
        F.size(
            F.array_distinct(F.transform(F.col("_kept"), TX.s_stem))
        ).cast("bigint").alias("n_stem_distinct"),
        TX.length_bucket_from_count(F.col("_nws")).alias("length_bucket"),
        F.round(F.col("_swr"), 6).alias("stopword_ratio"),
        TX.quality_score_from(t, F.col("_nws"), F.col("_swr")).alias("quality_score"),
        TX.lang_id_from_tokens(F.col("_dtoks")).alias("lang_guess"),
    ]
    if quality_gates is not None:
        from ..functions import quality as Q

        staged = (
            staged.withColumn("_g", Q.gopher_quality_flags(t, **quality_gates))
            .withColumn("_c", Q.c4_quality_flags(t))
            .withColumn(
                # repetition signals via the Arrow twin (5.7x the
                # interpreted fold; parity pinned in test_quality) —
                # still map-side, no shuffle (0.10 dup3 override: the
                # corpus' repetition variance straddles it, so both
                # gate outcomes occur and the driver hash checks real
                # run-length arithmetic)
                "_r",
                Q.repetition_flags_arrow(t, max_dup3gram_char_frac=0.10),
            )
        )
        cols += [
            F.col("_g.word_count").alias("gopher_word_count"),
            F.col("_g.mean_word_len").alias("gopher_mean_word_len"),
            F.col("_g.passes").alias("gopher_passes"),
            F.col("_c.passes").alias("c4_passes"),
            F.col("_r.top2gram_char_frac").alias("top2gram_char_frac"),
            F.col("_r.dup3gram_char_frac").alias("dup3gram_char_frac"),
            F.col("_r.passes").alias("repetition_ok"),
        ]
    return staged.select(*cols)


def fingerprint(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5-based 32-bit hash of the
    cleaned text (engine-portable AND codegen'd, functions/hashing
    .md5_hash32)."""
    return docs.select(
        id_col,
        hashing.md5_hash32(TX.clean_text(F.col(text_col))).alias("fingerprint"),
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """RAG/training chunking: split each document into overlapping
    token-window chunks — (doc_id, chunk_idx, n_chunk_tokens, chunk).

    Stride = chunk_tokens - overlap; the last window is the remainder
    (kept if non-empty); a document shorter than one window yields one
    chunk.  Fully native: tokenize once, window starts via ``sequence``,
    chunks via ``slice`` + ``array_join``, exploded to rows — no UDF, no
    shuffle (a pure flatMap-shaped projection, embarrassingly parallel
    at any scale).  Token = whitespace token (the engine's cheap
    tokenizer; swap in a BPE pandas-UDF for model-exact budgets)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    # window starts: 0, stride, 2*stride, ... while start < n (≥1 window)
    n_windows = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    starts = F.sequence(F.lit(0), (n_windows - 1) * stride, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("chunk"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_chunk_tokens"),
        ),
    )
    return (
        docs.select(id_col, F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("c.n_chunk_tokens").cast("bigint").alias("n_chunk_tokens"),
            F.col("c.chunk").alias("chunk"),
        )
        .where(F.col("n_chunk_tokens") > 0)
    )


def pack_sequences(
    chunks: DataFrame,
    budget: int,
    *,
    group_col: str = "doc_id",
    tokens_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Token-budget sequence packing: greedily pack chunks (in
    deterministic (doc_id, chunk_idx) order) into training sequences of
    ≤ ``budget`` tokens, within each ``group_col`` partition — the step
    between chunking and batch export in a training-data pipeline.

    Greedy first-fit-in-order is inherently sequential, so it runs as
    ``applyInPandas`` per group (Arrow-batched; each group's chunk list
    fits comfortably in a worker).  Grouping bounds the sequential span —
    pack within (source) or (doc) so no single task sees unbounded data;
    an oversized single chunk gets its own sequence."""
    import pandas as pd

    out_cols = [group_col, "seq_id", "doc_id", "chunk_idx", tokens_col]
    out_cols = list(dict.fromkeys(out_cols))  # group_col may BE doc_id
    out_schema = ", ".join(f"{c} long" for c in out_cols)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "chunk_idx"], kind="mergesort")
        seq_ids = []
        seq, used = 0, 0
        for t in pdf[tokens_col]:
            if used > 0 and used + t > budget:
                seq += 1
                used = 0
            used += t
            seq_ids.append(seq)
        pdf = pdf.assign(seq_id=seq_ids)
        return pdf[out_cols]

    return chunks.groupBy(group_col).applyInPandas(_pack, out_schema)


def pack_for_training(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    budget: int = 2048,
    col: str = "text",
    group_col: str = "source",
    chunk_tokens: int | None = None,
    overlap: int = 16,
) -> DataFrame:
    """Chunks packed into model-token budgets: BPE-exact counts
    (`functions.bpe`, ``merges`` from `bpe.train_bpe`) feeding the
    greedy per-group packer :func:`pack_sequences`.

    ``chunk_tokens`` routes documents through :func:`chunk_documents`
    FIRST (overlapping whitespace windows, real chunk_idx), so a
    document longer than ``budget`` splits instead of riding through
    as one over-budget "chunk" (the default whole-doc path emits an
    oversized sequence per pack_sequences' oversized-chunk rule — fine
    when the caller pre-chunked, a trap otherwise).  Pick
    ``chunk_tokens`` comfortably below ``budget`` — BPE counts run
    ABOVE whitespace counts (subword splits), so budget//2 is a safe
    default choice.  The default ``None`` keeps the
    caller-pre-chunked contract."""
    from ..functions import bpe

    src = docs
    text_col = col
    if chunk_tokens is not None:
        src = chunk_documents(
            docs.select("doc_id", F.col(col).alias("text")),
            chunk_tokens=chunk_tokens,
            overlap=overlap,
        ).join(docs.select("doc_id", group_col), "doc_id")
        text_col = "chunk"
    # pack_sequences emits an all-long schema: derive a numeric group
    # key from the (possibly string) grouping column
    chunks = src.select(
        F.xxhash64(F.col(group_col)).alias("group_key"),
        F.col("doc_id"),
        (F.col("chunk_idx") if chunk_tokens is not None else F.lit(0)).alias(
            "chunk_idx"
        ),
        bpe.bpe_token_count(text_col, merges).alias("n_tokens"),
    )
    return pack_sequences(chunks, budget=budget, group_col="group_key", tokens_col="n_tokens")


def corpus_report(
    docs: DataFrame,
    *,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    approx: bool = False,
) -> DataFrame:
    """The pipeline audit dashboard: per-(group...) ROLLUP of document
    counts, token totals, length stats, mean quality, and heuristic-gate
    pass rates — the numbers a corpus owner checks after every carve
    (what did the gates drop, which domain shrank, is the token budget
    on target).

    One pass: the per-doc measures are map-side codegen
    (:mod:`functions.text` / :mod:`functions.quality`), the ROLLUP is a
    single shuffle with map-side partial aggregation; grand-total and
    per-prefix rows come free from the rollup lattice (NULL group values
    = subtotal rows, the SQL convention).  ``approx=True`` swaps the
    exact median for ``percentile_approx`` — exact percentile buffers
    every group value; at 100 TB the grand-total row would buffer the
    corpus, so the approx spelling is the cluster default."""
    from ..functions import quality as Q

    t = F.col(text_col)
    measured = docs.withColumns(
        {
            "_nt": TX.token_count(t),
            "_q": TX.quality_score(t),
            "_gp": Q.gopher_quality_flags(t)["passes"].cast("double"),
            "_cp": Q.c4_quality_flags(t)["passes"].cast("double"),
        }
    )
    return (
        measured.rollup(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.round(F.avg("_nt"), 2).alias("mean_tokens"),
            F.expr(
                "percentile_approx(_nt, 0.5, 10000)" if approx else "percentile(_nt, 0.5)"
            ).cast("double").alias("p50_tokens"),
            F.round(F.avg("_q"), 6).alias("mean_quality"),
            F.round(F.avg("_gp"), 6).alias("gopher_pass_rate"),
            F.round(F.avg("_cp"), 6).alias("c4_pass_rate"),
        )
        .orderBy(*[F.col(c).asc_nulls_first() for c in group_cols])
    )
