"""Document-quality gates from the public LLM-corpus literature, as codegen.

Two published rule families, re-expressed as pure Catalyst expressions so a
100 TB filter pass is a map-side scan (no Python, no shuffle):

- **Gopher rules** (Rae et al. 2021, "Scaling Language Models: ...Gopher",
  Appendix A): word-count range, mean word length 3-10, symbol-to-word
  ratio, bullet-line / ellipsis-line fractions, fraction of words with an
  alphabetic character, minimum distinct stop-word hits.
- **C4 rules** (Raffel et al. 2020, "Exploring the Limits of Transfer
  Learning...", §2.2): lorem-ipsum and curly-brace tripwires, fraction of
  lines ending in terminal punctuation.

Each family returns ONE struct column of per-rule booleans plus the
aggregate `passes` — keep the struct in the output and a rejected doc
explains itself (which rule fired), which is how corpus-filtering audits
actually get done.  Thresholds are the published defaults, overridable.

The only higher-order functions used are flat per-element predicates
(filter/size over the split arrays) — the cheap kind; the per-char
poly-hash kind stays banned from hot paths (see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_BULLET_RE = r"^\s*([-*•‣◦]|\d+[.)])\s"


def gopher_quality_flags(
    col: ColumnOrName,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """Struct of Gopher-rule measurements + booleans + aggregate `passes`.

    `max_bullet_line_frac` follows the paper's spelling ("at least 90% of
    lines must NOT start with a bullet" => bullet fraction < 0.9 is the
    keep condition with the complement threshold); all other knobs are
    direct upper/lower bounds.
    """
    c = _c(col)
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    nw = F.greatest(n_words, F.lit(1)).cast("double")  # guard /0; empty fails len rule anyway
    # mean word length == non-whitespace chars / words (exactly sum(len(w))/n)
    mean_wl = F.length(F.regexp_replace(c, r"\s+", "")).cast("double") / nw
    # ellipsis forms counted separately: '...' removes 3 chars per
    # occurrence (delta/3 = occurrences) but the single-char '…' removes 1
    # (delta/1) — a shared delta/3 would count each '…' as a third of a
    # symbol.  '…' is stripped first so the two deltas can't overlap.
    no_uni = F.regexp_replace(c, r"…", "")
    n_symbols = (
        F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
        + (F.length(c) - F.length(no_uni))
        + (F.length(no_uni) - F.length(F.regexp_replace(no_uni, r"\.\.\.", ""))) / F.lit(3)
    ).cast("double")
    lines = F.split(c, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(_BULLET_RE)))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, lambda w: F.lower(F.regexp_replace(w, r"[^A-Za-z]", "")))),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_wl_ok = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    symbol_ok = (n_symbols / nw) <= max_symbol_ratio
    bullet_ok = (bullet_lines.cast("double") / n_lines) < max_bullet_line_frac
    ellipsis_ok = (ellipsis_lines.cast("double") / n_lines) <= max_ellipsis_line_frac
    alpha_ok = (alpha_words.cast("double") / nw) >= min_alpha_word_frac
    stop_ok = stop_hits >= min_stopword_hits
    passes = (
        word_count_ok & mean_wl_ok & symbol_ok & bullet_ok & ellipsis_ok & alpha_ok & stop_ok
    )
    return F.struct(
        n_words.cast("long").alias("word_count"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        word_count_ok.alias("word_count_ok"),
        mean_wl_ok.alias("mean_word_len_ok"),
        symbol_ok.alias("symbol_ratio_ok"),
        bullet_ok.alias("bullet_lines_ok"),
        ellipsis_ok.alias("ellipsis_lines_ok"),
        alpha_ok.alias("alpha_words_ok"),
        stop_ok.alias("stopwords_ok"),
        passes.alias("passes"),
    )


def c4_quality_flags(col: ColumnOrName, *, min_terminal_line_frac: float = 0.5) -> Column:
    """Struct of C4-rule booleans + aggregate `passes`.  C4 proper DROPS
    non-terminal lines; as a document gate we keep docs whose terminal-line
    fraction clears `min_terminal_line_frac` (the line-surgery variant
    belongs to a cleaning pass, not a filter)."""
    c = _c(col)
    lc = F.lower(c)
    no_lorem = ~lc.contains("lorem ipsum")
    no_brace = ~c.contains("{")
    lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    terminal = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"[.!?\"']\s*$"))
    )
    terminal_ok = (terminal.cast("double") / n_lines) >= min_terminal_line_frac
    passes = no_lorem & no_brace & terminal_ok
    return F.struct(
        no_lorem.alias("no_lorem_ipsum"),
        no_brace.alias("no_curly_brace"),
        terminal_ok.alias("terminal_lines_ok"),
        passes.alias("passes"),
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    *,
    gopher: bool = True,
    c4: bool = True,
    keep_flags: bool = False,
    **thresholds,
) -> DataFrame:
    """Filter a corpus by the enabled rule families (AND of their `passes`).
    With `keep_flags`, rejected rules stay inspectable as struct columns —
    the audit-friendly form; without, the filter collapses into the scan
    (predicates reach the parquet reader as a map-side filter)."""
    out = docs
    conds = []
    if gopher:
        g_kwargs = {k: v for k, v in thresholds.items() if k in gopher_quality_flags.__kwdefaults__}
        out = out.withColumn("gopher_flags", gopher_quality_flags(text_col, **g_kwargs))
        conds.append(F.col("gopher_flags.passes"))
    if c4:
        c_kwargs = {k: v for k, v in thresholds.items() if k in c4_quality_flags.__kwdefaults__}
        out = out.withColumn("c4_flags", c4_quality_flags(text_col, **c_kwargs))
        conds.append(F.col("c4_flags.passes"))
    for cond in conds:
        out = out.where(cond)
    if not keep_flags:
        out = out.drop("gopher_flags", "c4_flags")
    return out


# ---------------------------------------------------------------------------
# Gopher repetition family (Rae 2021, Table A1 "repetitious text" signals)
# ---------------------------------------------------------------------------

def _token_ngrams(toks: Column, k: int) -> Column:
    """Word k-grams of a token array, built array-side (transform over a
    trimmed slice reading k-1 successors) — empty array below k tokens."""
    n = F.size(toks)

    def joiner(x: Column, i: Column) -> Column:
        parts = [x] + [F.element_at(toks, i + F.lit(j + 1)) for j in range(1, k)]
        return F.concat_ws(" ", *parts)

    return F.when(n >= k, F.transform(F.slice(toks, 1, n - (k - 1)), joiner)).otherwise(
        F.array().cast("array<string>")
    )


def _gram_run_stats(grams: Column) -> Column:
    """struct(topch, dup, tot) over a gram array — chars covered by the
    most frequent gram (count x length, first-smallest gram on count
    ties), chars covered by grams occurring >= 2x, and total occurrence
    chars.  Spelled as ONE fold over the SORTED array (equal grams become
    adjacent runs), so it stays map-side per-doc arithmetic: no explode,
    no (id, gram) shuffle — at 100 TB a repetition score must not cost an
    Exchange the width of the corpus' n-gram stream.  This is a struct
    fold, not a flat predicate — costlier than the other gate lambdas but
    bounded by doc length, and still zero-shuffle (plan-asserted in
    tests/test_quality.py)."""
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("topch"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("tot"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = (acc.run > 0) & (x == acc.prev)
        closes = ~same
        better = closes & (acc.run > acc.top)
        run_chars = acc.run * F.length(acc.prev)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(better, acc.run).otherwise(acc.top).alias("top"),
            F.when(better, run_chars).otherwise(acc.topch).alias("topch"),
            (acc.dup + F.when(closes & (acc.run >= 2), run_chars).otherwise(F.lit(0).cast("long"))).alias("dup"),
            (acc.tot + F.length(x)).alias("tot"),
        )

    def finish(acc: Column) -> Column:
        better = acc.run > acc.top
        run_chars = acc.run * F.length(acc.prev)
        return F.struct(
            F.when(better, run_chars).otherwise(acc.topch).alias("topch"),
            (acc.dup + F.when(acc.run >= 2, run_chars).otherwise(F.lit(0).cast("long"))).alias("dup"),
            acc.tot.alias("tot"),
        )

    return F.aggregate(F.array_sort(grams), zero, step, finish)


def repetition_flags_from_tokens(
    toks: Column,
    *,
    max_top2gram_char_frac: float = 0.18,
    max_dup3gram_char_frac: float = 0.30,
) -> Column:
    """Struct of Gopher repetition signals over a token array:
    ``top2gram_char_frac`` (fraction of 2-gram occurrence chars covered
    by the most frequent 2-gram; paper threshold 0.18),
    ``dup3gram_char_frac`` (fraction of 3-gram occurrence chars in grams
    occurring more than once), per-signal booleans, aggregate ``passes``.
    The paper instantiates top-n at 2-4 and dup-n at 5-10 for web pages;
    n=2/3 suit short docs — thresholds and both n are the audit knobs.
    Fractions are exact rationals rounded to 6dp (oracle-mirrored)."""
    s2 = _gram_run_stats(_token_ngrams(toks, 2))
    s3 = _gram_run_stats(_token_ngrams(toks, 3))

    def frac(num: Column, tot: Column) -> Column:
        return F.round(
            F.when(tot == 0, F.lit(0.0)).otherwise(num.cast("double") / tot), 6
        )

    top2 = frac(s2.topch, s2.tot)
    dup3 = frac(s3.dup, s3.tot)
    top2_ok = top2 <= max_top2gram_char_frac
    dup3_ok = dup3 <= max_dup3gram_char_frac
    return F.struct(
        top2.alias("top2gram_char_frac"),
        dup3.alias("dup3gram_char_frac"),
        top2_ok.alias("top2gram_ok"),
        dup3_ok.alias("dup3gram_ok"),
        (top2_ok & dup3_ok).alias("passes"),
    )


def repetition_flags(col: ColumnOrName, **thresholds: float) -> Column:
    """:func:`repetition_flags_from_tokens` over the engine tokenizer
    (lowercase alnum words — mirrors the text-pack `_TOKENS_SQL`)."""
    from .text import tokenize

    return repetition_flags_from_tokens(tokenize(_c(col)), **thresholds)


# Arrow-batched twin of the repetition signals (the hot-path spelling).
# The Catalyst fold above is the pure-JVM specification; this pays one
# Arrow transfer per batch and counts runs with a per-doc Counter —
# measured 5.7x faster at sf0.1 (0.56s vs 3.22s for the two fractions
# over 5000 docs) because the fold's interpreted per-gram struct churn
# beats codegen out of the plan anyway.  Same map-side shape: no shuffle,
# bounded per-doc state.  Value parity (incl. the count-desc/gram-asc
# tie-break and rounding, which stays JVM-side) is pinned in
# tests/test_quality.py on crafted docs and the corpus; text is ASCII-safe
# by construction of the tokenizer (non-ASCII chars are split points), so
# Python/Java lowercase agreement holds on the token stream.

def _rep_fracs_batch(texts) -> "tuple[list[float], list[float]]":
    import re as _re
    from collections import Counter as _Counter

    tok_re = _re.compile(r"[^a-z0-9']+")
    out_t: list[float] = []
    out_d: list[float] = []
    for text in texts:
        toks = [t for t in tok_re.split((text or "").lower()) if t]
        fr = []
        for k in (2, 3):
            if len(toks) < k:
                fr.append((0.0, 0.0))
                continue
            counts = _Counter(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
            tot = top = dup = 0
            best_cnt = 0
            best_gram = None
            for g, n in counts.items():
                ch = n * len(g)
                tot += ch
                if n >= 2:
                    dup += ch
                if n > best_cnt or (n == best_cnt and g < best_gram):
                    best_cnt, best_gram, top = n, g, ch
            fr.append((top / tot if tot else 0.0, dup / tot if tot else 0.0))
        out_t.append(fr[0][0])
        out_d.append(fr[1][1])
    return out_t, out_d


def repetition_fracs_arrow(col: ColumnOrName) -> Column:
    """struct(top2 double, dup3 double): UNROUNDED repetition fractions
    via the Arrow-batched twin.  Wrap with the same ``F.round(..., 6)``
    the fold applies (JVM-side, so rounding semantics cannot drift
    between the two spellings)."""
    import pandas as pd  # noqa: F401  (Arrow path requirement)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<top2:double,dup3:double>")
    def _udf(texts):
        import pandas as pd

        t, d = _rep_fracs_batch(texts)
        return pd.DataFrame({"top2": t, "dup3": d})

    return _udf(_c(col))


def repetition_flags_arrow(
    col: ColumnOrName,
    *,
    max_top2gram_char_frac: float = 0.18,
    max_dup3gram_char_frac: float = 0.30,
) -> Column:
    """Same struct contract as :func:`repetition_flags`, computed via the
    Arrow twin; fractions rounded and thresholded JVM-side."""
    r = repetition_fracs_arrow(col)
    top2 = F.round(r["top2"], 6)
    dup3 = F.round(r["dup3"], 6)
    top2_ok = top2 <= max_top2gram_char_frac
    dup3_ok = dup3 <= max_dup3gram_char_frac
    return F.struct(
        top2.alias("top2gram_char_frac"),
        dup3.alias("dup3gram_char_frac"),
        top2_ok.alias("top2gram_ok"),
        dup3_ok.alias("dup3gram_ok"),
        (top2_ok & dup3_ok).alias("passes"),
    )


def compression_ratio(col: ColumnOrName, *, level: int = 6) -> Column:
    """zlib-compressed bytes / raw UTF-8 bytes — the classic two-sided
    gibberish signal (used by Dolma's quality taggers and the
    "压缩比"-style filters in CCNet descendants): highly repetitive
    boilerplate compresses far below normal prose (~0.3-0.6), while
    random noise / base64 / minified blobs refuse to compress (≳ 1.0
    with the zlib header overhead).  Empty text → NULL.

    Arrow-batched (zlib is C-speed; the UDF cost is the Arrow transfer);
    DEFLATE output is bit-stable for a fixed (input, level) across
    platforms, so the signal is deterministic cluster-wide."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _udf(texts):
        import zlib

        import pandas as pd

        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return _udf(_c(col))


def compression_flags(
    col: ColumnOrName,
    *,
    min_ratio: float = 0.1,
    max_ratio: float = 0.7,
    min_len: int = 500,
) -> Column:
    """struct(ratio, too_repetitive, too_random, passes): the two-sided
    compression gate.  Measured on this box: boilerplate repetition
    compresses to ~0.01-0.1, varied prose to ~0.4-0.55, and
    high-entropy noise (base64-ish, garbled unicode) to ~0.73-0.77 —
    but the ratio is LENGTH-CONFOUNDED (zlib header overhead pushes a
    310-byte doc to ~0.68), so the gate ABSTAINS (passes, ratio still
    reported) below ``min_len`` UTF-8 bytes, the same abstention shape
    as Gopher's min_words.  Tune thresholds per corpus from a
    corpus_report-style audit before pinning."""
    r = F.round(compression_ratio(col), 6)
    judged = _c(col).isNotNull() & (F.octet_length(_c(col)) >= min_len)
    too_rep = judged & (r < min_ratio)
    too_rand = judged & (r > max_ratio)
    return F.struct(
        r.alias("ratio"),
        too_rep.alias("too_repetitive"),
        too_rand.alias("too_random"),
        (~too_rep & ~too_rand).alias("passes"),
    )
