"""The LLM-training-data pipeline, end to end, as ONE oracle-gated query:

    documents → exact-dup removal → near-dup removal (n-gram Jaccard)
              → benchmark decontamination (shared-8-gram removal)
              → URL domain-blocklist hygiene
              → quality gate → language gate → deterministic sample
              → LM fluency scoring (bigram Stupid Backoff, operators/lm)
              → ExactSubstr span-dedup evidence (operators/substr)
              → training-format reshape

Every stage is an operator from this engine; the composition is one lazy
DataFrame DAG (plus the LM's single train-time count scalar), and the
DuckDB oracle reproduces it stage for stage — the strongest end-to-end
correctness statement the gate can make.  At 100 TB each stage keeps the
scale shape documented in SCALE.md (inverted-index near-dup join,
codegen'd scoring, hash sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.hashing import md5_hash32
from ..operators import dedup, decontam, lm
from ..operators.decontam import ngram_case_sql
from ..registry import register
from ..sources.catalog import load_table
from .dedup_queries import _CLEAN, _EXACT_JACCARD_SQL, _TOKS
from .text_queries import _stopword_ratio_sql, _WS_COUNT_SQL

# URL source-hygiene stage: the corpus carries no URLs, so (as with the
# PII columns in text_clean_pack) each doc gets a deterministic
# doc_id-derived URL and the gate checks the REAL host-extraction +
# suffix-blocklist arithmetic — docs landing on the blocked host
# (doc_id % 5 == 0 by construction) must drop.
_URL_AUG_SQL = (
    "{q}text || ' ref https://src' || CAST({q}doc_id % 5 AS VARCHAR) || '.example.com/page'"
)
_URL_BLOCKED_SQL = """len(list_filter(
      list_transform(regexp_extract_all({aug}, '(https?://\\S+|www\\.\\S+)', 1),
                     u -> lower(regexp_extract(u, '^(?:https?://)?(?:www\\.)?([^/:?#\\s]+)', 1))),
      h -> h = 'src0.example.com' OR ends_with(h, '.src0.example.com'))) > 0""".format(
    aug=_URL_AUG_SQL.format(q="d.")
)

# LM training-sample rate (percent): the bigram model counts over a
# deterministic 'lm'-salted hash sample instead of the full corpus —
# the train-once-capped-broadcast 100 TB shape.  20% keeps the synthetic
# corpus' vocabulary well covered (fidelity vs the full-corpus model is
# measured in SCALE.md) while cutting the two training aggregations to
# a fifth of their input.
_LM_TRAIN_PCT = 20
_LM_TRAIN_WHERE = (
    "CAST(('0x' || substr(md5('lm' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
    f"% 100 < {_LM_TRAIN_PCT}"
)

# ExactSubstr stage gate: the synthetic corpus' only long duplicated
# spans are whole-doc exact dups, so (the PII/URL/HTML augmentation
# pattern) every doc_id % 11 == 0 doc gains a FIXED 14-token boilerplate
# suffix — a real multi-doc duplicated span exercising window rows,
# hash-prefilter + string verify, canonical keep-first, interval merge,
# and excision.  L=12 suits the short synthetic docs (the paper uses 50).
_SPAN_L = 12
_BOILER = (
    " shared boiler plate span alpha beta gamma delta epsilon zeta eta theta iota kappa"
)

_DUPSPAN_CTES = f"""
    span_aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || '{_BOILER}' ELSE text END AS t2
      FROM documents
    ),
    span_toks AS (SELECT doc_id, list_filter(string_split_regex(trim(t2), '\\s+'), x -> x != '') AS t FROM span_aug),
    span_wins AS (
      SELECT doc_id, i AS pos, array_to_string(t[i+1:i+{_SPAN_L}], ' ') AS gram
      FROM span_toks, unnest(range(0, greatest(len(t)-{_SPAN_L}+1, 0))) u(i)
    ),
    span_counted AS (
      SELECT gram, MIN(doc_id * 4294967296 + pos) AS first_enc
      FROM span_wins GROUP BY gram HAVING COUNT(*) >= 2
    ),
    span_dup AS (
      SELECT w.doc_id, w.pos
      FROM span_wins w JOIN span_counted c USING (gram)
      WHERE w.doc_id * 4294967296 + w.pos <> c.first_enc
    ),
    span_grp AS (
      SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_L} THEN 1 ELSE 0 END AS brk
        FROM span_dup)
    ),
    span_ivals AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SPAN_L} AS e
      FROM span_grp GROUP BY doc_id, g
    ),
    span_lists AS (SELECT doc_id, list({{'s': s, 'e': e}}) AS sp FROM span_ivals GROUP BY doc_id),
    span_out AS (
      SELECT t.doc_id AS doc_id,
             [t.t[i] for i in range(1, len(t.t)+1)
              if sl.sp IS NULL OR len(list_filter(sl.sp, x -> (i-1) >= x.s AND (i-1) < x.e)) = 0] AS kept,
             len(t.t) AS ntoks
      FROM span_toks t LEFT JOIN span_lists sl ON sl.doc_id = t.doc_id
    ),
    span_final AS (
      SELECT doc_id, md5(array_to_string(kept, ' ')) AS dupspan_md5,
             CAST(ntoks - len(kept) AS INT) AS dupspan_removed
      FROM span_out
    )"""

_QUALITY_SQL = f"""ROUND((
  (CASE WHEN {_WS_COUNT_SQL} BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
  + (CASE WHEN length(text) = 0 THEN 0.0
          WHEN length(regexp_replace(text, '[^!?.,;:]', '', 'g'))::DOUBLE / length(text) <= 0.1 THEN 1.0
          ELSE 0.0 END)
  + (CASE WHEN {_stopword_ratio_sql()} >= 0.05 THEN 1.0 ELSE 0.0 END)
) / 3.0, 6)"""


@register(
    "training_pipeline",
    oracle=f"""
    WITH neardup_pairs AS ({_EXACT_JACCARD_SQL}),
    exact_keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, lower({_CLEAN.format(col='text')}) AS norm FROM documents)
      GROUP BY norm
    ),
    toks_all AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    bench AS (SELECT array_to_string(t[4:21], ' ') AS btext
              FROM toks_all WHERE doc_id % 97 = 0),
    btoks AS (SELECT {_TOKS.format(col='btext')} AS t FROM bench),
    bgrams AS (SELECT DISTINCT unnest({ngram_case_sql(8)}) AS gram FROM btoks),
    cgrams AS (SELECT doc_id, unnest({ngram_case_sql(8)}) AS gram FROM toks_all),
    contaminated AS (SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams USING (gram)),
    survivors AS (
      SELECT d.* FROM documents d
      JOIN exact_keepers k ON d.doc_id = k.doc_id
      WHERE d.doc_id NOT IN (SELECT id_b FROM neardup_pairs)
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND NOT ({_URL_BLOCKED_SQL})
    ),
    gated AS (
      SELECT doc_id, text, lang, source, {_QUALITY_SQL} AS quality
      FROM survivors
      WHERE {_QUALITY_SQL} >= 0.6 AND lang = 'en'
    ),
    {lm.stupid_backoff_sql(train_where=_LM_TRAIN_WHERE)},
    {_DUPSPAN_CTES}
    SELECT g.doc_id,
           'Summarize the following ' || g.source || ' document' AS instruction,
           g.text AS input,
           g.quality,
           s.avg_logprob AS lm_logprob,
           sf.dupspan_md5,
           sf.dupspan_removed
    FROM gated g
    LEFT JOIN lm_scored s ON s.doc_id = g.doc_id
    LEFT JOIN span_final sf ON sf.doc_id = g.doc_id
    WHERE CAST(('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
    """,
)
def training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (exact + near-dup) → benchmark decontamination → URL
    domain-blocklist hygiene → quality/lang gates → 50% hash sample →
    LM fluency scoring → ExactSubstr evidence → instruction-format
    reshape, composed from the engine's operators.

    The decontamination stage's "benchmark" is built in-query (tokens
    4..21 of every ``doc_id % 97 == 0`` doc — the synthetic corpus shares
    no natural n-grams with anything, so eval contamination is planted
    the way it happens in the wild: verbatim snippets), then any doc
    sharing an 8-token gram with it is dropped via
    :func:`operators.decontam.contaminated_ids` (map-side corpus explode,
    broadcast benchmark grams)."""
    return build_prefix(spark, sf_dir, "reshape")


# Cumulative stage cut points: build_prefix truncates the DAG after any
# of them, so per-stage cost can be timed by differencing adjacent
# prefixes.  The list IS the pipeline order.
STAGE_ORDER = [
    "scan",          # documents parquet scan
    "exact_dedup",   # hash-first exact-dup keepers, left-semi
    "neardup",       # n-gram Jaccard pairs, left-anti
    "decontam",      # shared-8-gram benchmark decontamination, left-anti
    "url_gate",      # domain-blocklist hygiene, map-side predicate
    "quality_lang",  # quality >= 0.6 AND lang = 'en'
    "sample",        # deterministic 50% hash sample
    "lm_score",      # bigram Stupid-Backoff train + score, left join
    "span_dedup",    # ExactSubstr span-excision evidence, left join
    "reshape",       # instruction-format projection
]


def build_prefix(spark: SparkSession, sf_dir: str, upto: str = "reshape") -> DataFrame:
    """The training_pipeline DAG truncated after stage ``upto`` (a name
    from :data:`STAGE_ORDER`).  ``training_pipeline`` itself is
    ``build_prefix(..., "reshape")``, so the registered query and the
    per-stage bench prefixes can never drift apart.  Eager driver-side
    work (the LM model's train-time count scalar) only happens when its
    stage is included, so prefix timings charge it where it belongs."""
    k = STAGE_ORDER.index(upto)
    docs = load_table(spark, sf_dir, "documents")
    out = docs

    if k >= 1:
        # hash_first: the exact-dup stage shuffles (hash, check, id) — ≤48
        # B/row instead of the corpus text — and is row-identical to the
        # text-key spelling (the oracle's GROUP BY norm), incl. collisions
        keepers = dedup.exact_dedup(docs, hash_first=True).select(
            F.col("keeper_id").alias("doc_id")
        )
        out = out.join(keepers, "doc_id", "left_semi")

    if k >= 2:
        neardups = dedup.ngram_jaccard_pairs(docs, 0.5).select(
            F.col("id_b").alias("doc_id")
        )
        out = out.join(neardups, "doc_id", "left_anti")

    if k >= 3:
        arr = F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), dedup.TOKEN_SPLIT_RE, " ")),
            " ",
        )
        bench = docs.where(F.col("doc_id") % 97 == 0).select(
            F.array_join(F.slice(arr, 4, 18), " ").alias("text")
        )
        contaminated = decontam.contaminated_ids(docs, bench, n=8)
        out = out.join(contaminated, "doc_id", "left_anti")

    if k >= 4:
        from ..functions import url as URL

        url_aug = F.concat(
            F.col("text"),
            F.lit(" ref https://src"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/page"),
        )
        # URL source hygiene: map-side predicate, no join (functions/url)
        out = out.where(~URL.is_blocked(url_aug, ["src0.example.com"]))

    if k >= 5:
        quality = TX.quality_score(F.col("text"))
        out = out.select(
            "doc_id", "text", "lang", "source", quality.alias("quality")
        ).where((F.col("quality") >= 0.6) & (F.col("lang") == "en"))

    if k >= 6:
        out = out.where(md5_hash32(F.col("doc_id").cast("string")) % 100 < 50)

    if k >= 7:
        # LM fluency score (CCNet stage): bigram Stupid-Backoff model
        # trained on a DETERMINISTIC HASH SAMPLE of the corpus (r9 verdict
        # #3 — the stage's own documented 100 TB shape, train-once-capped-
        # broadcast, brought into the query: counting n-grams over all
        # 100 TB to score 100 TB is quadratic waste; CCNet itself trains
        # its scoring LM on a fixed corpus, not the corpus under filter),
        # scored onto the surviving sample — emitted as a column (not a
        # filter) so the driver gate checks the whole train+score
        # arithmetic without a data-dependent threshold.  The train gate
        # salts the hash ('lm' prefix) so the training sample is
        # independent of the output sample's doc_id hash.  Sample-size/
        # score-fidelity tradeoff measured in SCALE.md (lm_train_sample).
        # Scoring input (r8): the sample/quality/lang gates are pure
        # map-side predicates on the docs scan, so pushing them into the
        # scoring pass skips the ~2/3 of the corpus whose score the final
        # LEFT join would discard anyway — row-identical output, and the
        # only shape that makes sense at 100 TB (never run the expensive
        # stage on rows the cheap stages already condemned).  The
        # join-derived survivor filters (dedup/decontam) deliberately stay
        # out: duplicating those subtrees would cost more than the scoring
        # they save.
        train_gate = (
            md5_hash32(F.concat(F.lit("lm"), F.col("doc_id").cast("string"))) % 100
            < _LM_TRAIN_PCT
        )
        model = lm.train_bigram_lm(docs.where(train_gate))
        map_gate = (
            (TX.quality_score(F.col("text")) >= 0.6)
            & (F.col("lang") == "en")
            & (md5_hash32(F.col("doc_id").cast("string")) % 100 < 50)
        )
        lm_scores = lm.score_documents(docs.where(map_gate), model).select(
            "doc_id", F.col("avg_logprob").alias("lm_logprob")
        )
        out = out.join(lm_scores, "doc_id", "left")

    if k >= 8:
        # ExactSubstr stage (operators/substr) over the boilerplate-
        # augmented corpus: per-doc excised-text md5 + removed-token count,
        # joined onto the output so the driver hash checks the whole span
        # machinery
        from ..operators import substr

        span_aug = docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(_BOILER)))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        span_cols = substr.excise_duplicate_spans(span_aug, _SPAN_L).select(
            "doc_id",
            F.md5(F.col("text")).alias("dupspan_md5"),
            F.col("n_removed_tokens").alias("dupspan_removed"),
        )
        out = out.join(span_cols, "doc_id", "left")

    if k >= 9:
        out = out.select(
            "doc_id",
            F.concat(
                F.lit("Summarize the following "), F.col("source"), F.lit(" document")
            ).alias("instruction"),
            F.col("text").alias("input"),
            "quality",
            "lm_logprob",
            "dupspan_md5",
            "dupspan_removed",
        )

    return out
