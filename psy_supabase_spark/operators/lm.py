"""N-gram language-model perplexity scoring — the CCNet quality filter.

Real pretraining pipelines (CCNet Wenzek 2020; RedPajama; FineWeb) score
every document's perplexity under a small n-gram LM and drop or
down-weight the worst tail: gibberish, boilerplate, and OCR noise score
far worse than fluent prose under even a bigram model.  The reference
engine has no LM stage; this is a north-star pipeline extension like
dedup/decontam (see COVERAGE.md Extensions).

Model: bigram **Stupid Backoff** (Brants 2007, "Large Language Models in
Machine Translation") — the smoothing designed FOR distributed
estimation at scale: score(w2|w1) = count(w1 w2)/count(w1) when the
bigram was seen, else alpha * count(w2)/total (alpha = 0.4, the paper's
value).  Unnormalized scores, no discounting state, every statistic a
plain distributed count — unlike Kneser-Ney there is nothing to
sequentialize.

Spark-first shape, 100 TB rules:

- **Training is two shuffle-by-key counts** (unigram, bigram) with
  map-side partial aggregation; the token/bigram explode is shuffle-free
  codegen (``arrays_zip`` + slice, the :mod:`operators.decontam`
  spelling at n=2).
- **The model is bounded, then broadcast.**  ``vocab_cap``/``bigram_cap``
  keep the top-K rows by count via distributed sort+limit (the
  :mod:`functions.bpe` bound pattern) — a capped-out bigram degrades
  gracefully to the backoff term, a capped-out word to the OOV floor.
  With caps set, scoring is one corpus scan plus broadcast hash probes;
  uncapped (the oracle-parity mode) the joins shuffle and AQE picks the
  strategy.
- **Scoring is order-independent bit-for-bit.**  Each bigram's log term
  is rounded to 6 dp and summed as DECIMAL(20,6) — exact under any
  partitioning/ordering — then averaged in double and rounded.  A DuckDB
  oracle reproduces the value exactly (:func:`stupid_backoff_sql`);
  ``training_pipeline`` absorbs the score as a driver-gated column.

Tokenization mirrors :mod:`operators.dedup` (lowercase, split on
``[^a-z0-9']+``) so one oracle spelling serves the whole text family.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import TOKEN_SPLIT_RE

ALPHA = 0.4  # Brants 2007's backoff weight


def _token_array(text_col: str) -> Column:
    joined = F.trim(F.regexp_replace(F.lower(F.col(text_col)), TOKEN_SPLIT_RE, " "))
    return F.when(joined == "", F.array().cast("array<string>")).otherwise(
        F.split(joined, " ")
    )


def _bigram_rows(docs: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) rows — one per adjacent token pair, map-side only."""
    arr = F.col("arr")
    zipped = F.arrays_zip(arr.alias("w1"), F.slice(arr, 2, F.size(arr)).alias("w2"))
    return (
        docs.select(F.col(id_col).alias("id"), _token_array(text_col).alias("arr"))
        .select("id", F.explode(zipped).alias("t"))
        .where(F.col("t.w2").isNotNull())
        .select("id", F.col("t.w1").alias("w1"), F.col("t.w2").alias("w2"))
    )


@dataclass(frozen=True)
class BigramLM:
    """A trained Stupid-Backoff bigram model.

    ``unigrams``: (w, c) — token counts.  ``bigrams``: (w1, w2, c, blp)
    — counts plus the baked bigram log-prob round(ln(c/c(w1)), 6).
    ``total``: the corpus token count — ONE scalar, computed at train
    time (a bounded driver action like the IVF fit; folding it into the
    scoring plan as a literal beats any join spelling — a 1-row
    cross/constant-key join degenerates to BroadcastNestedLoopJoin under
    constant folding, which the plan audit rightly bans).
    ``bounded``: True when caps were applied — scoring then broadcasts
    the model sides explicitly.
    """

    unigrams: DataFrame
    bigrams: DataFrame
    total: int
    bounded: bool


def train_bigram_lm(
    docs: DataFrame,
    *,
    text_col: str = "text",
    vocab_cap: int | None = None,
    bigram_cap: int | None = None,
) -> BigramLM:
    """Count-train the model: two groupBy-count passes over the corpus.

    ``vocab_cap`` / ``bigram_cap`` bound the model to its top-K rows by
    count (distributed sort+limit — nothing collects to the driver); the
    totals row is computed BEFORE capping so probabilities keep the true
    denominator.  At 100 TB cap both (e.g. 1M/10M) so the model
    broadcasts; dropped rows degrade to backoff/OOV terms rather than
    erroring.
    """
    toks = docs.select(F.explode(_token_array(text_col)).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    # the ONLY training-time action: one aggregate scalar (computed
    # BEFORE capping so probabilities keep the true denominator).
    # r14 opt: Σ unigram counts ≡ the corpus token count, so sum the
    # per-doc token-array SIZES map-side instead of paying the token
    # explode + (w) shuffle a second time just for this scalar —
    # integer-identical (size(NULL) is NULL and a null text explodes to
    # zero rows, so both spellings skip it), one pass, no exchange.
    total = int(
        docs.select(F.sum(F.size(_token_array(text_col)))).collect()[0][0] or 0
    )
    big = (
        _bigram_rows(
            docs.select(F.lit(0).alias("_id"), F.col(text_col)),
            id_col="_id",
            text_col=text_col,
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    bounded = vocab_cap is not None or bigram_cap is not None
    if vocab_cap is not None:
        uni = uni.orderBy(F.col("c").desc(), F.col("w")).limit(vocab_cap)
    if bigram_cap is not None:
        big = big.orderBy(F.col("c").desc(), "w1", "w2").limit(bigram_cap)
    # bake the bigram log-prob INTO the model (a model-sized join at
    # train time) so scoring needs two broadcast probes, not three: the
    # w1-count join moves off the corpus-sized exploded relation.  Inner
    # join: a bigram whose w1 was capped out of the vocab loses its blp
    # and degrades to the backoff term at score time — the same
    # defensive semantics the old three-join guard had.
    big = big.join(
        uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1")), "w1"
    ).select(
        "w1",
        "w2",
        "c",
        F.round(F.log(F.col("c").cast("double") / F.col("_c1")), 6).alias("blp"),
    )
    return BigramLM(unigrams=uni, bigrams=big, total=total, bounded=bounded)


def score_documents(
    docs: DataFrame,
    lm: BigramLM,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = ALPHA,
) -> DataFrame:
    """(id_col, n_bigrams, avg_logprob, ppl) per document.

    avg_logprob = mean over the doc's bigrams of the Stupid-Backoff log
    score; docs with < 2 tokens have no bigrams → NULL score, 0 count
    (score them by policy, don't guess).  ppl = exp(-avg_logprob), the
    conventional reading (lower = more fluent).

    Per-term rounding to 6 dp + DECIMAL summation makes the result
    independent of partitioning and summation order — reproducible
    cluster-wide and oracle-checkable (registry convention).
    """
    maybe_b = F.broadcast if lm.bounded else (lambda df: df)
    # r15 opt (guide §2.4): one corpus relation carries BOTH the bigram
    # rows and the zero-bigram docs.  The old spelling derived bigram rows
    # (dropping <2-token docs) and then LEFT-joined a second docs scan
    # back on id just to resurrect them — a corpus re-scan plus a
    # sort-merge join with TWO id-hash exchanges.  explode_outer keeps
    # every doc in the exploded relation instead: arrays_zip emits one
    # trailing (w1=last token, w2=NULL) element per non-empty doc and
    # explode_outer turns empty/NULL arrays into a single all-NULL row,
    # so every doc owns >= 1 row and the groupBy(id) already covers the
    # docs the join used to re-attach.  Marker rows (w2 NULL) match
    # neither model join (NULL equi-keys never match), contribute no
    # term (term is NULL off the bigram predicate; decimal SUM skips
    # NULLs), and are excluded from the conditional count — output
    # row-identical (pinned in tests), one scan and one join fewer.
    arr = F.col("arr")
    zipped = F.arrays_zip(arr.alias("w1"), F.slice(arr, 2, F.size(arr)).alias("w2"))
    rows = (
        docs.select(F.col(id_col).alias("id"), _token_array(text_col).alias("arr"))
        .select("id", F.explode_outer(zipped).alias("t"))
        .select("id", F.col("t.w1").alias("w1"), F.col("t.w2").alias("w2"))
    )
    total = float(max(lm.total, 1))
    # backoff log-prob per vocabulary word, derived from the model at
    # score time (alpha is a scoring knob, so it cannot be baked in)
    backoff = lm.unigrams.select(
        F.col("w").alias("w2"),
        F.round(
            F.log(F.lit(alpha) * F.col("c").cast("double") / F.lit(total)), 6
        ).alias("_ulp"),
    )
    joined = rows.join(
        maybe_b(lm.bigrams.select("w1", "w2", F.col("blp").alias("_blp"))),
        ["w1", "w2"],
        "left",
    ).join(maybe_b(backoff), "w2", "left")
    # term precedence: seen bigram > seen-w2 backoff > OOV floor (add-one
    # on the unseen word so the log stays finite); the floor stays a JVM
    # log+round expression so its last-ulp behavior matches the oracle's
    is_bigram = F.col("w2").isNotNull()
    term = F.when(
        is_bigram,
        F.coalesce(
            F.col("_blp"),
            F.col("_ulp"),
            F.round(F.log(F.lit(alpha * 1.0 / total)), 6),
        ),
    )
    n_bigrams = F.sum(is_bigram.cast("long"))
    scored = joined.groupBy("id").agg(
        n_bigrams.alias("n_bigrams"),
        F.round(
            F.sum(term.cast("decimal(20,6)")).cast("double") / n_bigrams, 6
        ).alias("avg_logprob"),
    )
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_bigrams"),
        F.col("avg_logprob"),
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


def score_fluency(
    docs: DataFrame,
    *,
    train_on: DataFrame | None = None,
    vocab_cap: int | None = 1_000_000,
    bigram_cap: int | None = 10_000_000,
) -> DataFrame:
    """``docs`` with :func:`score_documents`' columns joined on
    ``doc_id`` (left: every doc stays): the CCNet quality-filter stage
    in one call.  ``train_on`` defaults to the scored corpus itself;
    pass a clean reference corpus (CCNet uses Wikipedia) when you have
    one.  Caps default ON so the model broadcasts at scale."""
    model = train_bigram_lm(
        train_on if train_on is not None else docs,
        vocab_cap=vocab_cap,
        bigram_cap=bigram_cap,
    )
    return docs.join(score_documents(docs, model), "doc_id", "left")


def ppl_filter(
    docs: DataFrame,
    lm: BigramLM,
    *,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_unscored: bool = True,
) -> DataFrame:
    """Drop documents whose perplexity exceeds ``max_ppl`` (the CCNet
    tail cut, with a FIXED threshold rather than corpus quantiles so the
    gate is deterministic under corpus growth; pick the threshold once
    from ``score_documents`` + ``approxQuantile`` on a sample and pin
    it).  ``keep_unscored`` decides the < 2-token docs."""
    scored = score_documents(docs, lm, id_col=id_col, text_col=text_col)
    keep = scored.where(
        (F.col("ppl") <= max_ppl)
        | (F.col("avg_logprob").isNull() if keep_unscored else F.lit(False))
    ).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def ppl_buckets(
    scored: DataFrame,
    *,
    quantiles: tuple[float, float] = (1 / 3, 2 / 3),
    score_col: str = "ppl",
    bucket_col: str = "ppl_bucket",
    relative_error: float = 0.001,
) -> tuple[DataFrame, tuple[float, float]]:
    """CCNet's head/middle/tail perplexity carve (Wenzek 2020 §4.3):
    bucket documents by corpus ppl terciles — pipelines keep head+middle
    and drop (or downweight) tail.

    Thresholds come from ``approxQuantile`` (Greenwald-Khanna — one pass,
    bounded state, the only quantile that scales); they are RETURNED so
    a pipeline computes them once on a sample epoch and then pins the
    literals into :func:`ppl_filter`-style map-side gates (a quantile
    recomputed per run would silently shift the cut as the corpus
    grows).  NULL scores (< 2-token docs) bucket as 'unscored'.
    """
    qs = scored.approxQuantile(score_col, list(quantiles), relative_error)
    if not qs:
        # approxQuantile ignores nulls and returns [] when the column
        # has NO non-null values (every doc < 2 tokens) — everything
        # buckets 'unscored', with NaN thresholds to make the
        # degenerate carve visible rather than an unpacking crash
        # (r14 review)
        return (
            scored.withColumn(bucket_col, F.lit("unscored")),
            (float("nan"), float("nan")),
        )
    lo, hi = qs
    c = F.col(score_col)
    out = scored.withColumn(
        bucket_col,
        F.when(c.isNull(), F.lit("unscored"))
        .when(c <= lo, F.lit("head"))
        .when(c <= hi, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return out, (lo, hi)


def collect_model(lm: BigramLM, *, max_rows: int = 5_000_000) -> dict:
    """Driver-side dict form of a BOUNDED model, for the stream-safe
    scorer.  Refuses unbounded models over ``max_rows`` total entries —
    train with vocab_cap/bigram_cap first (the same hard-ceiling contract
    as :mod:`functions.bpe`'s word collect).  The refusal counts BEFORE
    collecting (r14 review: a post-collect check cannot prevent the
    driver OOM it exists for — a web-scale uncapped model died in the
    collect the valve was guarding); two count jobs are noise next to
    any collect worth valving."""
    n = lm.unigrams.count() + lm.bigrams.count()
    if n > max_rows:
        raise ValueError(
            f"collect_model: {n} model rows > max_rows={max_rows}; "
            "train with vocab_cap/bigram_cap to bound the model first"
        )
    uni = {r["w"]: r["c"] for r in lm.unigrams.collect()}
    big = {(r["w1"], r["w2"]): r["c"] for r in lm.bigrams.collect()}
    return {"uni": uni, "big": big, "total": lm.total}


def score_stream(
    docs: DataFrame,
    model: dict,
    *,
    text_col: str = "text",
    alpha: float = ALPHA,
    score_col: str = "avg_logprob",
) -> DataFrame:
    """Append the Stupid-Backoff score as a column — the STREAM-SAFE twin
    of :func:`score_documents` (the repo's batch/stream-twin rule, like
    :func:`operators.decontam.flag_contaminated`).

    The batch spelling's groupBy + model joins are not admissible on a
    ``readStream`` frame without watermark state; this twin is fully
    STATELESS: the collected (bounded) model rides the closure of one
    Arrow-batched pandas UDF, each row scored in a single pass over its
    bigrams.  Rounding mirrors the batch path exactly — per-term HALF_UP
    to 6 dp, summed in integer micro-units (the DECIMAL(20,6) twin), so
    stream and batch scores are bit-identical (pinned in tests).
    """
    import math
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd  # PEP-563 strings eval against module globals

    uni, big, total = model["uni"], model["big"], max(model["total"], 1)
    split = re.compile(TOKEN_SPLIT_RE)
    q6 = Decimal("0.000001")

    def _round6_micros(x: float) -> int:
        # Decimal(repr(x)), NOT Decimal(x): Spark's ROUND feeds HALF_UP
        # the double's SHORTEST decimal form (Double.toString) — Python's
        # repr is the same shortest round-trip — while Decimal(float)
        # expands the exact binary value; they disagree on 7th-digit ties
        # (found by the batch==twin parity test at sf0.001, doc 392)
        return int(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP).scaleb(6))

    oov_micros = _round6_micros(math.log(alpha * 1.0 / total))

    @pandas_udf("double")
    def _score(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [w for w in split.split((t or "").lower()) if w != ""]
            if len(toks) < 2:
                out.append(None)
                continue
            acc = 0
            n = 0
            for w1, w2 in zip(toks, toks[1:]):
                bc = big.get((w1, w2))
                u1 = uni.get(w1)
                if bc is not None and u1 is not None:
                    acc += _round6_micros(math.log(bc / u1))
                else:
                    u2 = uni.get(w2)
                    acc += (
                        _round6_micros(math.log(alpha * u2 / total))
                        if u2 is not None
                        else oov_micros
                    )
                n += 1
            # mirror batch exactly: DECIMAL sum -> double cast -> double
            # divide -> HALF_UP round (both divisions correctly rounded)
            avg = acc / 1e6 / n
            out.append(float(Decimal(repr(avg)).quantize(q6, rounding=ROUND_HALF_UP)))
        return pd.Series(out, dtype="float64")

    return docs.withColumn(score_col, _score(F.col(text_col)))


def stupid_backoff_sql(
    *,
    toks_cte: str = "toks_all",
    alpha: float = ALPHA,
    train_where: str | None = None,
) -> str:
    """DuckDB CTE block mirroring train+score, for composition into a
    larger oracle.  Expects an in-scope CTE ``toks_cte`` of
    (doc_id, t: VARCHAR[]); emits CTE ``lm_scored`` of
    (doc_id, n_bigrams, avg_logprob) over ALL of ``toks_cte``.

    ``train_where`` (a SQL predicate over ``toks_cte`` columns)
    restricts the TRAINING corpus — the 100 TB shape, where the model
    counts on a deterministic hash sample and the full corpus is only
    scored (mirror of ``train_bigram_lm(docs.where(gate))``); None
    trains on everything (the classic single-corpus spelling)."""
    train_src = (
        toks_cte
        if train_where is None
        else f"(SELECT * FROM {toks_cte} WHERE {train_where})"
    )
    return f"""
    lm_big_rows AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM {toks_cte}, unnest(range(1, greatest(len(t), 1))) AS u(i)
    ),
    lm_train_rows AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM {train_src} AS lmt, unnest(range(1, greatest(len(t), 1))) AS u(i)
    ),
    lm_uni AS (SELECT w, COUNT(*) AS c
               FROM (SELECT unnest(t) AS w FROM {train_src} AS lmu) GROUP BY w),
    lm_tot AS (SELECT SUM(c) AS n FROM lm_uni),
    lm_big AS (SELECT w1, w2, COUNT(*) AS c FROM lm_train_rows GROUP BY w1, w2),
    lm_terms AS (
      SELECT r.doc_id,
             CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
                  THEN ROUND(ln(b.c::DOUBLE / u1.c), 6)
                  ELSE ROUND(ln({alpha} * COALESCE(u2.c, 1)::DOUBLE / (SELECT n FROM lm_tot)), 6)
             END AS term
      FROM lm_big_rows r
      LEFT JOIN lm_big b ON b.w1 = r.w1 AND b.w2 = r.w2
      LEFT JOIN lm_uni u1 ON u1.w = r.w1
      LEFT JOIN lm_uni u2 ON u2.w = r.w2
    ),
    lm_scored AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(CAST(term AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      FROM lm_terms GROUP BY doc_id
    )"""
