"""Exact duplicated-SPAN dedup — Lee 2021's ExactSubstr, Spark-first.

"Deduplicating Training Data Makes Language Models Better" (Lee 2021)
showed document-level dedup misses the dominant duplication mode: long
VERBATIM SPANS (licenses, boilerplate, quoted chunks) embedded in
otherwise-distinct documents.  Their ExactSubstr removes every
duplicated substring of ≥ 50 tokens, keeping one copy.  The paper
builds a suffix array — inherently sequential, single-machine.

The Spark spelling rests on a window identity: a span of ≥ L tokens is
duplicated iff every one of its length-L windows is duplicated, and the
union of a document's duplicated L-windows is EXACTLY the union of its
maximal duplicated spans (a window straddling a span boundary is not
duplicated, so the union never over-reaches).  That turns a suffix
array into three data-parallel steps:

1. **window rows** — (id, pos, gram): posexplode of the token array's
   length-L windows; map-side only.
2. **duplicated windows** — group by gram (string equality — exact, no
   hash collisions), keep grams with ≥ 2 occurrences; re-attach
   occurrence positions.  The only corpus-wide shuffles, both on the
   gram key with map-side partial aggregation.
3. **interval merge + excision** — per doc: sorted window starts merge
   into spans with one lag-window pass (fixed L makes overlap a
   neighbor test), then tokens are rebuilt through a nested
   higher-order filter — zero Python anywhere.

``keep_first`` (default, the paper's semantics) keeps each duplicated
window's canonical (lowest (id, pos)) occurrence, so one copy of every
span survives; for a multi-doc span the canonical occurrences of its
shifted windows all live in the same earliest document, so the kept
copy is contiguous.  (Self-overlapping periodic repeats can tie-break
across copies — a documented edge the suffix array shares.)

Tokens are whitespace-split VERBATIM (case and punctuation preserved —
byte-faithful matching, the paper's setting); excision rejoins with
single spaces, so output whitespace is normalized.  Skew note: a gram
duplicated 10⁹ times collapses map-side in step 2's count, and step
3's per-doc interval list is bounded by the doc's own window count —
no valve needed where the pair-join dedups need one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MIN_SPAN_TOKENS = 50  # the paper's L


def _ws_tokens(text_col: str) -> F.Column:
    t = F.trim(F.col(text_col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def duplicated_window_rows(
    docs: DataFrame,
    length: int = MIN_SPAN_TOKENS,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """(id, pos) of length-``length`` token windows whose text occurs ≥ 2
    times corpus-wide (``keep_first``: minus each gram's canonical
    occurrence).  pos is the 0-based token index of the window start.

    Two-phase EXACT matching (the ``hash_first`` dedup spelling at
    window granularity): phase 1 counts 8-byte ``xxhash64`` keys —
    hashed straight from the window's token columns, no gram string is
    ever built — so the corpus-wide shuffle carries (id, pos, hash)
    instead of L tokens of text per row (measured 6× at sf0.01, and the
    gap grows with L).  Only hash-duplicated survivors (a sliver of a
    real corpus) rebuild their gram string by re-slicing the token
    array, and STRING equality makes the final call — a hash collision
    costs a few extra candidate rows, never a wrong removal."""
    arr = F.col("arr")
    zipped = F.arrays_zip(
        arr.alias("w0"),
        *[F.slice(arr, k + 1, F.size(arr)).alias(f"w{k}") for k in range(1, length)],
    )
    toks = docs.select(F.col(id_col).alias("id"), _ws_tokens(text_col).alias("arr"))
    wins_light = (
        toks.select("id", F.posexplode(zipped).alias("pos", "t"))
        .where(F.col(f"t.w{length - 1}").isNotNull())
        .select("id", "pos", F.xxhash64(*[f"t.w{k}" for k in range(length)]).alias("gh"))
    )
    # r14 opt: both "occurs ≥ 2 times" tests are WINDOW filters, not
    # aggregate+rejoin.  The old spelling built hdup = groupBy(gh) and
    # joined it back — two branches over the posexplode pipeline (the
    # aggregate's partial stage below its exchange defeats subtree
    # reuse, so the pipeline ran twice; and a broadcast build of hdup
    # recomputed it wholesale).  A count window over (gh) is ONE
    # subtree and one exchange — the same partitioning the join needed
    # anyway — measured 4.29 s → 1.92 s at sf0.1/L=20, row-identical.
    # Skew: a gram duplicated 10⁹ times already routed all its
    # occurrences to one reducer in the join spelling; the window sorts
    # and spills the same group (the counted_buckets trade, documented
    # there).  Same treatment for the phase-2 string-verify count.
    wh = Window.partitionBy("gh")
    cand = (
        wins_light.withColumn("_hn", F.count(F.lit(1)).over(wh))
        .where(F.col("_hn") >= 2)
        .drop("_hn")
        .join(toks, "id")
    )
    cand_g = cand.select(
        "id",
        "pos",
        F.array_join(F.slice(F.col("arr"), F.col("pos") + 1, length), " ").alias("gram"),
    )
    wg = Window.partitionBy("gram")
    dup = (
        cand_g.withColumn("_n", F.count(F.lit(1)).over(wg))
        .withColumn("_first", F.min(F.struct("id", "pos")).over(wg))
        .where(F.col("_n") >= 2)
    )
    if keep_first:
        dup = dup.where(
            (F.col("id") != F.col("_first.id")) | (F.col("pos") != F.col("_first.pos"))
        )
    return dup.select("id", "pos")


def duplicated_spans(
    docs: DataFrame,
    length: int = MIN_SPAN_TOKENS,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """(id, start, end) MERGED duplicated token spans (end exclusive).

    Fixed window length makes the merge a neighbor test: sorted starts
    p₁ ≤ p₂ belong to one span iff p₂ ≤ p₁ + length; the span group id
    is a running count of gap breaks (the sessionize spelling) — one
    window shuffle on id, no iteration."""
    wr = duplicated_window_rows(
        docs, length, id_col=id_col, text_col=text_col, keep_first=keep_first
    )
    w = Window.partitionBy("id").orderBy("pos")
    grouped = wr.withColumn(
        "_brk",
        F.when(
            F.col("pos") - F.lag("pos", 1).over(w) > F.lit(length), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("_grp", F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        grouped.groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(length)).alias("end"),
        )
        .select("id", "start", "end")
    )


def excise_duplicate_spans(
    docs: DataFrame,
    length: int = MIN_SPAN_TOKENS,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
    out_col: str | None = None,
    removed_col: str = "n_removed_tokens",
) -> DataFrame:
    """Documents with duplicated spans cut out (the paper's corpus
    treatment).  Rebuild is a nested higher-order filter over the token
    array — each token index probes the doc's merged-interval list
    (bounded by the doc's own window count) — then a single-space
    rejoin; fully codegen, no Python.  ``out_col`` defaults to
    replacing ``text_col``."""
    spans = (
        duplicated_spans(
            docs, length, id_col=id_col, text_col=text_col, keep_first=keep_first
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("start", "end"))).alias("_spans"))
        .withColumnRenamed("id", id_col)
    )
    out = out_col or text_col
    joined = docs.join(spans, id_col, "left").withColumn(
        "_toks", _ws_tokens(text_col)
    )
    empty = F.array().cast("array<struct<start:int,end:int>>")
    sp = F.coalesce(F.col("_spans"), empty)
    # filter(tokens, (tok, i) -> no span covers i); nested exists() over
    # the doc's interval list
    kept = F.filter(
        F.col("_toks"),
        lambda tok, i: ~F.exists(sp, lambda s: (i >= s["start"]) & (i < s["end"])),
    )
    n_removed = F.size(F.col("_toks")) - F.size(kept)
    return (
        joined.withColumn(out, F.array_join(kept, " "))
        .withColumn(removed_col, n_removed.cast("int"))
        .drop("_spans", "_toks")
    )
