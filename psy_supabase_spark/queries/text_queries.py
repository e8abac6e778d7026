"""Text pack queries (SURVEY.md §2.8 T1-T9, §2.4 A1-A5 + LLM-pipeline text
analysis) over `documents`.

Oracle strings are BUILT FROM THE SAME CONSTANTS as the Spark expressions
(taxonomy, stopwords, language markers, safety patterns) so the two sides
cannot drift.  DuckDB regexp_replace needs the 'g' flag to match Spark's
replace-all semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import charset as CHARSET
from ..functions import text as TX
from ..operators import bloom as BLOOM
from ..operators import linkgraph as LINKGRAPH
from ..functions import url as URLMOD
from ..operators import robots as ROBOTS

# the reg_domain evidence host (DuckDB spelling; mirror of the Spark
# concat in doc_adjacent_stats)
_RD_HOST_SQL = (
    "('w' || CAST(a.doc_id % 5 AS VARCHAR) || CASE a.doc_id % 4"
    " WHEN 0 THEN '.example.com' WHEN 1 THEN '.shop.co.uk'"
    " WHEN 2 THEN '.github.io' ELSE '.site.org' END)"
)
from ..operators import textanalysis


def _sql_list(items: list[str]) -> str:
    return "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in items) + "]"


# tokens of lower(text): mirrors functions.text.tokenize
_TOKENS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x != '')"
_WS_COUNT_SQL = "len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))"


def _stopword_ratio_sql() -> str:
    sw = _sql_list(TX.STOPWORDS)
    return (
        f"CASE WHEN len({_TOKENS_SQL}) = 0 THEN 0.0 "
        f"ELSE len(list_filter({_TOKENS_SQL}, x -> list_contains({sw}, x)))::DOUBLE / len({_TOKENS_SQL}) END"
    )


# The registry import sits BELOW the shared SQL helpers: training_pipeline
# imports _stopword_ratio_sql/_WS_COUNT_SQL from here mid-cycle (this
# module → registry → training_pipeline → back here, partially
# initialized), so they must be bound before the circular edge fires —
# this keeps `import psy_supabase_spark.queries.text_queries` working
# standalone too.
from ..registry import register  # noqa: E402
from ..sources.catalog import load_table  # noqa: E402


# Deterministic PII-bearing augmentation: the synthetic corpus carries no
# real PII, so the redaction columns are gated on text || a PII suffix
# derived from doc_id — both engines build the identical string, and the
# driver hash then checks actual redaction/count arithmetic (a pattern or
# ordering drift flips real bytes, not a column of zeros).
_PII_SUFFIX_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com on 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.0.1 or call 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _pii_augmented() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com on 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


# Deterministic HTML augmentation (same rationale as the PII suffix): the
# corpus is markup-free, so the extraction column is gated on text wrapped
# in a doc_id-derived page — script subtree, heading, entity, comment all
# present, so the driver hash checks every chain stage on real bytes.
_HTML_WRAP_SQL = (
    "('<html><head><script>var page=' || CAST(doc_id AS VARCHAR) || ';</script></head>"
    "<body><h1>Doc ' || CAST(doc_id % 7 AS VARCHAR) || '</h1><!-- c --><p>' || text ||"
    " ' &amp; fin</p></body></html>')"
)


def _html_wrapped() -> F.Column:
    return F.concat(
        F.lit("<html><head><script>var page="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></head><body><h1>Doc "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</h1><!-- c --><p>"),
        F.col("text"),
        F.lit(" &amp; fin</p></body></html>"),
    )


def _text_clean_pack_oracle() -> str:
    from ..functions.html import html_oracle_sql
    from ..functions.pii import pii_counts_oracle_sql, pii_oracle_sql

    src = f"({_PII_SUFFIX_SQL})"
    count_cols = ",\n           ".join(
        f"{expr} AS n_pii_{name}" for name, expr in pii_counts_oracle_sql(src)
    )
    return rf"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text, '[‘’]', '''', 'g'), '[“”]', '"', 'g'), '—', '-', 'g'), '…', '...', 'g'),
             '[^a-zA-Z0-9\s.,!?''"-]', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned,
           regexp_replace(text, '(https?://\S+|www\.\S+)', '', 'g') AS no_urls,
           {pii_oracle_sql(src)} AS pii_redacted,
           {count_cols},
           {html_oracle_sql(_HTML_WRAP_SQL)} AS html_text
    FROM documents
    """


@register("text_clean_pack", oracle=_text_clean_pack_oracle())
def text_clean_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 normalization chain (reference utilities/text_utils.py:26-48) +
    T2 URL removal (prompt_selector.py:68) + PII redaction (functions/pii
    — the pipeline op every corpus-prep stack runs before training) —
    merged registry slot: one scan, every chain map-side codegen, all
    driver-gated.  The PII columns run over a deterministic doc_id-derived
    augmentation (see ``_PII_SUFFIX_SQL``) because the synthetic corpus
    itself is PII-free; ``html_text`` gates the WET-style HTML extraction
    chain (functions/html) the same way — text wrapped in a doc_id-derived
    page exercising every chain stage."""
    from ..functions.html import html_to_text
    from ..functions.pii import PII_PATTERNS, pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    pii_src = _pii_augmented()
    counts = pii_counts(pii_src)
    return docs.select(
        "doc_id",
        TX.clean_text(F.col("text")).alias("cleaned"),
        TX.strip_urls(F.col("text")).alias("no_urls"),
        redact_pii(pii_src).alias("pii_redacted"),
        *[counts[name].alias(f"n_pii_{name}") for name, _p, _t in PII_PATTERNS],
        html_to_text(_html_wrapped()).alias("html_text"),
    )


def _safety_case_sql() -> str:
    whens = "\n".join(
        "WHEN regexp_matches(lower(text), '{}') THEN '{}'".format(pat.replace("'", "''"), cat)
        for cat, _sev, pat in TX.SAFETY_PATTERNS
    )
    return f"CASE {whens} ELSE NULL END"


def _template_case_sql() -> str:
    whens = "\n".join(
        f"WHEN regexp_matches(lower(text), '({'|'.join(kws)})') THEN '{name}'"
        for name, kws in TX.TEMPLATE_KEYWORDS
    )
    return f"CASE {whens} ELSE 'Others' END"


# Pinned logistic weights for the learned-quality SCORING path gate
# (operators/quality_clf.score_with_pinned_weights): the serving shape of
# a distilled classifier — explicit token→weight map, no hashing trick.
# Values chosen to split the synthetic corpus; training stays pytest-only
# (learned weights have no SQL oracle by nature — round-5 verdict #5).
_PINNED_W = {"fast": 0.9, "slow": -0.7, "spark": 0.5, "data": 0.3, "vector": 0.4, "big": -0.2}
_PINNED_B = -0.5

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x != '')"
_PINNED_CASE = (
    "CASE t "
    + " ".join(f"WHEN '{w}' THEN {v}::DOUBLE" for w, v in sorted(_PINNED_W.items()))
    + " ELSE 0.0::DOUBLE END"
)


@register(
    "classifier_counts",
    oracle=f"""
    WITH scored AS (
      SELECT text,
             1.0 / (1.0 + exp(-({_PINNED_B}::DOUBLE + COALESCE(
               list_sum(list_transform({_TOKS_SQL}, t -> {_PINNED_CASE})), 0.0)))) AS p
      FROM documents
    )
    SELECT {_safety_case_sql()} AS category, {_template_case_sql()} AS template,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pinned,
           CAST(SUM(CAST(ROUND(p, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality_pinned
    FROM scored GROUP BY 1, 2
    """,
)
def classifier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 ordered first-match-wins regex harm classifier
    (safety_handler.py:46-78, NULL = safe) × T7 keyword → template CASE
    (prompt_selector.py:198-202, default 'Others') — merged registry slot:
    cross-tabulated counts gate both classifiers from one scan.

    ``n_quality_pinned`` / ``sum_quality_pinned`` absorb the learned-
    quality-classifier SCORING path (quality_clf.score_with_pinned_weights
    — tokenize → weight-fold → sigmoid) with pinned weights: per-doc
    probabilities rounded to 6 dp and summed in DECIMAL (order-independent,
    bit-exact across engines) so the driver value-hashes the whole scoring
    arithmetic.  Training (HashingTF + L-BFGS) remains pytest-gated."""
    from ..operators.quality_clf import score_with_pinned_weights

    docs = load_table(spark, sf_dir, "documents")
    scored = score_with_pinned_weights(docs, _PINNED_W, _PINNED_B, prob_col="_p")
    return scored.groupBy(
        TX.safety_category("text").alias("category"),
        TX.select_template("text").alias("template"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("_p") >= 0.5).cast("int")).cast("bigint").alias("n_quality_pinned"),
        F.sum(F.round(F.col("_p"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_quality_pinned"),
    )


def _taxonomy_values_sql() -> str:
    rows = [
        f"('{topic}', '{kw}')" for topic, kws in TX.TAXONOMY.items() for kw in kws
    ]
    return ", ".join(rows)


@register(
    "topic_classify_argmax",
    oracle=f"""
    WITH tax(topic, keyword) AS (VALUES {_taxonomy_values_sql()}),
    lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
    hits AS (
      SELECT l.doc_id, x.topic, COUNT(x.keyword) AS n_hits
      FROM lowered l LEFT JOIN tax x ON contains(l.t, x.keyword)
      GROUP BY l.doc_id, x.topic
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, topic ASC) AS rn
      FROM hits
    )
    SELECT doc_id, COALESCE(topic, 'emotional_support') AS topic, n_hits
    FROM ranked WHERE rn = 1
    """,
)
def topic_classify_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-doc topic argmax over the taxonomy (reference
    prompt_selector.py:242-300); default topic on zero hits.  Uses the
    map-side native spelling (the taxonomy is a compile-time constant);
    `classify_topics` is the broadcast theta-join twin for taxonomies that
    arrive as data — row-identical, asserted in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return textanalysis.classify_topics_native(docs)


# Gopher/C4 gate mirror (functions/quality.py, same thresholds as the
# query's overrides: min_words=25, min_stopword_hits=1, rest defaults).
# gw/nw/no_uni come from the `gates` CTE below.
_GOPHER_STOP_SQL = _sql_list(["the", "be", "to", "of", "and", "that", "have", "with"])
_GOPHER_OK_SQL = """(
      (g.gw_n >= 25 AND g.gw_n <= 100000)
      AND (g.mean_wl >= 3.0 AND g.mean_wl <= 10.0)
      AND (g.n_symbols / g.nw <= 0.1)
      AND (g.n_bullet / g.n_lines < 0.9)
      AND (g.n_ellipsis_l / g.n_lines <= 0.3)
      AND (g.n_alpha / g.nw >= 0.8)
      AND (g.stop_hits >= 1)
    )"""


@register(
    "text_profile",
    oracle=f"""
    WITH gates AS (
      SELECT doc_id,
             len(gw) AS gw_n,
             greatest(len(gw), 1)::DOUBLE AS nw,
             length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / greatest(len(gw), 1) AS mean_wl,
             ((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(no_uni))
              + (length(no_uni) - length(replace(no_uni, '...', ''))) / 3.0)::DOUBLE AS n_symbols,
             greatest(len(lns), 1)::DOUBLE AS n_lines,
             len(list_filter(lns, l -> regexp_matches(l, '^\\s*([-*•‣◦]|[0-9]+[.)])\\s'))) AS n_bullet,
             len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS n_ellipsis_l,
             len(list_filter(gw, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             len(list_intersect(
               list_distinct(list_transform(gw, w -> lower(regexp_replace(w, '[^A-Za-z]', '', 'g')))),
               {_GOPHER_STOP_SQL})) AS stop_hits,
             NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
             NOT contains(text, chr(123)) AS no_brace,
             greatest(len(list_filter(lns, l -> trim(l) <> '')), 1)::DOUBLE AS n_ne_lines,
             len(list_filter(list_filter(lns, l -> trim(l) <> ''),
                             l -> regexp_matches(trim(l), '[.!?"'']\\s*$'))) AS n_terminal
      FROM (SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS gw,
                   replace(text, '…', '') AS no_uni,
                   string_split(text, chr(10)) AS lns
            FROM documents)
    ),
    rep_g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 2 THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t) - 1 + 1)] ELSE [] END AS g2,
             CASE WHEN len(t) >= 3 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 2 + 1)] ELSE [] END AS g3
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    ),
    rep_c2 AS (SELECT doc_id, gram, COUNT(*) AS c, COUNT(*) * length(gram) AS chars
               FROM (SELECT doc_id, unnest(g2) AS gram FROM rep_g) GROUP BY 1, 2),
    rep_c3 AS (SELECT doc_id, gram, COUNT(*) AS c, COUNT(*) * length(gram) AS chars
               FROM (SELECT doc_id, unnest(g3) AS gram FROM rep_g) GROUP BY 1, 2),
    rep_t2 AS (SELECT doc_id, chars AS topch FROM (
                 SELECT doc_id, chars, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
                 FROM rep_c2) WHERE rn = 1),
    rep_s2 AS (SELECT doc_id, SUM(chars) AS tot FROM rep_c2 GROUP BY 1),
    rep_s3 AS (SELECT doc_id, SUM(chars) AS tot, SUM(chars) FILTER (c >= 2) AS dup FROM rep_c3 GROUP BY 1),
    rep AS (
      SELECT g.doc_id,
             ROUND(COALESCE(t2.topch::DOUBLE / s2.tot, 0.0), 6) AS top2,
             ROUND(COALESCE(COALESCE(s3.dup, 0)::DOUBLE / s3.tot, 0.0), 6) AS dup3
      FROM rep_g g
      LEFT JOIN rep_t2 t2 USING (doc_id)
      LEFT JOIN rep_s2 s2 USING (doc_id)
      LEFT JOIN rep_s3 s3 USING (doc_id)
    )
    SELECT d.doc_id,
           {_WS_COUNT_SQL} AS n_tokens,
           len(list_distinct({_TOKENS_SQL})) AS n_distinct_tokens,
           len(list_filter({_TOKENS_SQL}, x -> NOT list_contains({_sql_list(TX.STOPWORDS)}, x)
                                OR list_contains({_sql_list(TX.KEEP_WORDS)}, x))) AS n_kept,
           len(list_distinct(list_transform(
             list_filter({_TOKENS_SQL}, x -> NOT list_contains({_sql_list(TX.STOPWORDS)}, x)
                                  OR list_contains({_sql_list(TX.KEEP_WORDS)}, x)),
             x -> {TX.s_stem_sql("x")}))) AS n_stem_distinct,
           CASE WHEN {_WS_COUNT_SQL} < 20 THEN 'too_short'
                WHEN {_WS_COUNT_SQL} <= 500 THEN 'appropriate'
                ELSE 'too_long' END AS length_bucket,
           ROUND({_stopword_ratio_sql()}, 6) AS stopword_ratio,
           ROUND((
             (CASE WHEN {_WS_COUNT_SQL} BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN length(text) = 0 THEN 0.0
                     WHEN length(regexp_replace(text, '[^!?.,;:]', '', 'g'))::DOUBLE / length(text) <= 0.1 THEN 1.0
                     ELSE 0.0 END)
             + (CASE WHEN {_stopword_ratio_sql()} >= 0.05 THEN 1.0 ELSE 0.0 END)
           ) / 3.0, 6) AS quality_score,
           {{lang_case}} AS lang_guess,
           g.gw_n AS gopher_word_count,
           ROUND(g.mean_wl, 6) AS gopher_mean_word_len,
           {_GOPHER_OK_SQL} AS gopher_passes,
           (g.no_lorem AND g.no_brace AND (g.n_terminal / g.n_ne_lines >= 0.5)) AS c4_passes,
           r.top2 AS top2gram_char_frac,
           r.dup3 AS dup3gram_char_frac,
           (r.top2 <= 0.18 AND r.dup3 <= 0.10) AS repetition_ok
    FROM documents d
    JOIN gates g ON g.doc_id = d.doc_id
    JOIN rep r ON r.doc_id = d.doc_id
    """.format(lang_case="{lang_case}"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis profile: token stats, length bucket, stopword ratio,
    composite quality score, marker-based language guess — plus the
    Gopher/C4 corpus-gate evidence columns (functions/quality.py; Rae 2021
    App. A, Raffel 2020 §2.2) computed in the same map-side pass.
    Threshold overrides (min_words=25, min_stopword_hits=1) sit inside the
    synthetic corpus' variance so both gate outcomes occur."""
    docs = load_table(spark, sf_dir, "documents")
    return textanalysis.text_profile(
        docs, quality_gates={"min_words": 25, "min_stopword_hits": 1}
    )


def _lang_case_sql() -> str:
    langs = sorted(TX.LANG_MARKERS.items())
    scores = {
        lang: f"len(list_intersect(list_distinct({_TOKENS_SQL}), {_sql_list(markers)}))"
        for lang, markers in langs
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n".join(
        f"WHEN {best} > 0 AND {scores[lang]} = {best} THEN '{lang}'" for lang, _ in langs
    )
    return f"CASE {whens} ELSE 'und' END"


# splice the language CASE into the text_profile oracle (kept out of the
# decorator for readability)
from ..registry import ORACLES  # noqa: E402

ORACLES["text_profile"] = ORACLES["text_profile"].replace("{lang_case}", _lang_case_sql())


def _winnow_cte_sql(k: int = 8, w: int = 4) -> str:
    """DuckDB mirror of operators/winnow.winnow_fingerprints, built from the
    SAME constants (HASH_BASE/HASH_MOD) so the two sides cannot drift: the
    k-gram polynomial rolling hash unrolled for fixed k over
    ``ascii(substr(...))``, the w-window minimum, then value-dedupe.  The
    paper's rightmost-tie rule picks a *position*; the picked *value* is
    always the window min, so a value-level mirror needs only list_min
    (verified against winnow_fingerprints_py on the full sf0.01 corpus)."""
    from ..operators.winnow import HASH_BASE, HASH_MOD

    pows = [pow(HASH_BASE, k - 1 - j, HASH_MOD) for j in range(k)]
    terms = " + ".join(
        f"CAST(ascii(substr(text, i+{j}, 1)) AS BIGINT)*{pows[j]}" for j in range(k)
    )
    return f"""
    winnow AS (
      SELECT doc_id,
             list_distinct([list_min(hs[j:j+{w - 1}]) for j in range(1, len(hs)-{w - 2})]) AS fps
      FROM (
        SELECT doc_id, [({terms}) % {HASH_MOD} for i in range(1, len(text)-{k - 2})] AS hs
        FROM documents
      )
    )"""


# Bloom evidence constants shared by the Spark side and the oracle SQL
# of doc_adjacent_stats (one definition — the sides cannot drift).
_BLOOM_M, _BLOOM_K = 16384, 3

# Charset-sniffing scenarios (doc_id % 5 → (http header block, body)),
# ONE table building both the Spark expressions and the oracle SQL:
# 0 BOM beats header, 1 header beats meta, 2 aliased meta only,
# 3 nothing → default, 4 aliased+quoted header.
_CS_SCENARIOS: dict[int, tuple[str, str]] = {
    0: ("Content-Type: text/html; charset=ISO-8859-1", "ï»¿<html>x"),
    1: ("Content-Type: text/html; charset=UTF8", '<meta charset="latin1"><p>y</p>'),
    2: ("Content-Type: text/html", "<meta charset=CP1252>z"),
    3: ("Content-Type: text/html", "<p>plain</p>"),
    4: ("Content-Type: text/plain; charset='x-sjis'", "<p>plain</p>"),
}


def _cs_scenario_cols() -> tuple[F.Column, F.Column]:
    scen = F.col("doc_id") % 5
    h = F.lit(_CS_SCENARIOS[3][0])
    b = F.lit(_CS_SCENARIOS[3][1])
    for k, (hdr, body) in _CS_SCENARIOS.items():
        h = F.when(scen == k, F.lit(hdr)).otherwise(h)
        b = F.when(scen == k, F.lit(body)).otherwise(b)
    return h, b


# robots.txt evidence grammar (one template → both engines): three
# hosts h0/h1/h2, each with a * group carrying a host-specific prefix
# Disallow + a longer anchored Allow, and a psybot group with a
# wildcard+anchor Disallow — so group selection, wildcard translation,
# anchor matching, and the longest-match tie all sit on the gated path.
_ROBOTS_TEMPLATE = (
    "# policy {j}\n"
    "User-agent: *\n"
    "Disallow: /p{j}\r\n"   # CRLF line: the r12 \r?\n split is gated
    "Allow: /p{j}/x.html$\n"
    "Crawl-delay: 1{j}\r\n"
    "\n"
    "User-agent: psybot\n"
    "Disallow: /p*/y$\n"
)


def _robots_txt_col(j: F.Column) -> F.Column:
    parts = _ROBOTS_TEMPLATE.split("{j}")
    items: list = [F.lit(parts[0])]
    for p in parts[1:]:
        items.append(j)
        items.append(F.lit(p))
    return F.concat(*items)


def _robots_txt_sql(jexpr: str) -> str:
    def q(s: str) -> str:
        return (
            "'"
            + s.replace("'", "''")
            .replace("\r", "' || chr(13) || '")
            .replace("\n", "' || chr(10) || '")
            + "'"
        )

    parts = _ROBOTS_TEMPLATE.split("{j}")
    return "(" + f" || {jexpr} || ".join(q(p) for p in parts) + ")"


def _cs_scenario_sql(qual: str = "a.") -> tuple[str, str]:
    def case(i: int) -> str:
        whens = " ".join(
            f"WHEN {k} THEN '{v[i].replace(chr(39), chr(39) * 2)}'"
            for k, v in _CS_SCENARIOS.items()
        )
        return f"(CASE {qual}doc_id % 5 {whens} END)"

    return case(0), case(1)


def _bloom_url_sql(qual: str = "") -> str:
    """The deterministic per-doc URL, DuckDB spelling (mirror of the
    Spark concat in doc_adjacent_stats)."""
    d = f"{qual}doc_id"
    return (
        f"('http://h' || CAST({d} % 41 AS VARCHAR) || '.example/p/' "
        f"|| CAST({d} AS VARCHAR))"
    )


@register(
    "doc_adjacent_stats",
    oracle=f"""
    WITH RECURSIVE {_winnow_cte_sql()},
    cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text, '[‘’]', '''', 'g'), '[“”]', '"', 'g'), '—', '-', 'g'), '…', '...', 'g'),
               '[^a-zA-Z0-9\\s.,!?''"-]', ' ', 'g'), '\\s+', ' ', 'g')) AS c
      FROM documents
    ),
    toks AS (SELECT doc_id, list_distinct({_TOKENS_SQL}) AS t FROM documents),
    alltok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token
               FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)),
    stats AS (SELECT count(*) AS n_docs, sum(len({_TOKENS_SQL})) AS sum_dl
              FROM documents),
    hh20 AS (SELECT token FROM (SELECT token, count(*) AS c FROM alltok
                                GROUP BY token ORDER BY c DESC, token LIMIT 20)),
    ntop AS (SELECT doc_id, count(*) AS n_top20 FROM alltok
             WHERE token IN (SELECT token FROM hh20) GROUP BY doc_id),
    tfq AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM alltok
            WHERE token IN ('fast', 'query') GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*) AS df FROM tfq GROUP BY token),
    bm AS (SELECT tfq.doc_id,
                  round(sum(ln(1.0 + (s.n_docs - d.df + 0.5)/(d.df + 0.5))
                        * (tfq.tf * 2.2) / (tfq.tf + 1.2 * (0.25 + 0.75 * tfq.dl
                            / (CAST(s.sum_dl AS DOUBLE)/s.n_docs)))), 6) AS bm25
           FROM tfq JOIN dfq d USING (token) CROSS JOIN stats s
           GROUP BY tfq.doc_id),
    tfa AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM alltok
            GROUP BY doc_id, token),
    dfa AS (SELECT token, count(*) AS df FROM tfa GROUP BY token),
    kt AS (SELECT doc_id, token,
                  row_number() OVER (PARTITION BY doc_id
                      ORDER BY round((tfa.tf::DOUBLE / tfa.dl)
                                     * ln(s.n_docs::DOUBLE / d.df), 6) DESC,
                               token) AS rn
           FROM tfa JOIN dfa d USING (token) CROSS JOIN stats s),
    -- DSIR (r8): hashed unigram+bigram features, add-one-smoothed
    -- bucket log-ratios target/raw, per-doc log-weight summed in
    -- DECIMAL — target corpus = docs with doc_id % 7 = 0 (fixed
    -- deterministic split), n_buckets = 512 (forces collisions)
    dsgrams AS (SELECT doc_id,
                       unnest(toks || [toks[i] || ' ' || toks[i+1]
                                       for i in range(1, len(toks))]) AS gram
                FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)),
    dsfeats AS (SELECT doc_id,
                       CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 512 AS bucket,
                       count(*) AS cnt
                FROM dsgrams GROUP BY doc_id, bucket),
    dstc AS (SELECT bucket, sum(cnt) AS c FROM dsfeats WHERE doc_id % 7 = 0 GROUP BY bucket),
    dsrc AS (SELECT bucket, sum(cnt) AS c FROM dsfeats GROUP BY bucket),
    dstt AS (SELECT sum(c) AS t FROM dstc), dsrt AS (SELECT sum(c) AS t FROM dsrc),
    dsratio AS (SELECT COALESCE(dstc.bucket, dsrc.bucket) AS bucket,
                       round(ln((COALESCE(dstc.c, 0) + 1.0) / ((SELECT t FROM dstt) + 512))
                             - ln((COALESCE(dsrc.c, 0) + 1.0) / ((SELECT t FROM dsrt) + 512)), 6) AS lr
                FROM dstc FULL OUTER JOIN dsrc ON dstc.bucket = dsrc.bucket),
    dslw AS (SELECT f.doc_id,
                    CAST(sum(f.cnt * CAST(r.lr AS DECIMAL(20,6))) AS DOUBLE) AS w
             FROM dsfeats f JOIN dsratio r USING (bucket) GROUP BY f.doc_id),
    -- streaming admission decision (r8): StreamingNearDupFilter.admit
    -- with the even doc_ids pre-indexed and the odds as the micro-batch.
    -- Mirror = exact SimHash hamming<=3 rejection against the index
    -- (the pigeonhole band join is provably complete) + min-id-per-
    -- component first-occurrence among the survivors (recursive closure,
    -- the connected_components contract).
    sa_grams AS (SELECT doc_id,
                        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                             ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                                 for i in range(1, greatest(len(t) - 2, 0) + 1)]) END AS g
                 FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)),
    sa_hashed AS (SELECT doc_id AS id,
                         list_transform(g, s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hl
                  FROM sa_grams),
    sa_sh AS (SELECT id,
                     list_sum([CASE WHEN list_sum(list_transform(hl, h -> ((h >> b) & 1) * 2 - 1)) > 0
                                    THEN (1::BIGINT << b) ELSE 0::BIGINT END
                               for b in range(0, 32)])::BIGINT AS simhash
              FROM sa_hashed),
    sa_idx AS (SELECT * FROM sa_sh WHERE id % 2 = 0),
    sa_bat AS (SELECT * FROM sa_sh WHERE id % 2 = 1),
    sa_surv AS (SELECT b.* FROM sa_bat b
                WHERE NOT EXISTS (SELECT 1 FROM sa_idx i
                                  WHERE bit_count(xor(i.simhash, b.simhash)) <= 3)),
    sa_edges AS (SELECT a.id AS src, b.id AS dst
                 FROM sa_surv a JOIN sa_surv b
                 ON a.id <> b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
    sa_reach AS (SELECT src AS id, src AS comp FROM sa_edges
                 UNION
                 SELECT e.dst, r.comp FROM sa_reach r JOIN sa_edges e ON e.src = r.id),
    sa_comp AS (SELECT id, MIN(comp) AS component FROM sa_reach GROUP BY id),
    sa_adm AS (SELECT s.id, COALESCE(c.component, s.id) = s.id AS adm
               FROM sa_surv s LEFT JOIN sa_comp c ON c.id = s.id),
    -- host-level PageRank (r11): deterministic host graph off doc ids;
    -- h41/h42 only ever appear as destinations -> dangling-mass path
    pr_edges AS (
      SELECT 'h' || CAST(doc_id % 41 AS VARCHAR) AS src,
             'h' || CAST((doc_id * 7 + 3) % 43 AS VARCHAR) AS dst
      FROM documents WHERE doc_id % 5 <> 0
    ),
    {LINKGRAPH.pagerank_sql(iterations=3)},
    -- Bloom filter (r11): set bits of the even-doc "previous crawl"
    bl_bits AS (
      SELECT list(DISTINCT pos) AS bl FROM (
        SELECT unnest({BLOOM.bloom_positions_sql(_bloom_url_sql(), _BLOOM_M, _BLOOM_K)}) AS pos
        FROM documents WHERE doc_id % 2 = 0
      )
    ),
    -- robots.txt policy (r11): _ROBOTS_TEMPLATE grammar, two agents
    rb_src AS (
      SELECT DISTINCT 'h' || CAST(doc_id % 3 AS VARCHAR) AS host,
             {_robots_txt_sql("CAST(doc_id % 3 AS VARCHAR)")} AS robots_txt
      FROM documents
    ),
    rb_req AS (
      SELECT doc_id AS rid, 'h' || CAST(doc_id % 3 AS VARCHAR) AS host,
             '/p' || CAST(doc_id % 9 AS VARCHAR) ||
             CASE WHEN doc_id % 2 = 0 THEN '/x.html' ELSE '/y' END AS path
      FROM documents
    ),
    {ROBOTS.robots_rules_sql(robots_cte="rb_src", requests_cte="rb_req",
                             agent="nobody", prefix="rbs")},
    {ROBOTS.robots_rules_sql(robots_cte="rb_src", requests_cte="rb_req",
                             agent="psybot", prefix="rbb")},
    -- frontier pacing (r12): crawl-delay parse mirror + slot window
    {ROBOTS.robots_crawl_delays_sql(robots_cte="rb_src", agent="nobody",
                                    prefix="frd")},
    fr_req AS (
      SELECT doc_id, 'h' || CAST(doc_id % 3 AS VARCHAR) AS host,
             'http://h' || CAST(doc_id % 3 AS VARCHAR) || '.example/p/' ||
             CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    fr_sched AS (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1 AS slot
      FROM fr_req
    ),
    fr_final AS (
      SELECT s.doc_id, CAST(s.slot AS BIGINT) AS frontier_slot,
             ROUND(s.slot * COALESCE(d.crawl_delay, 1.0), 3)
               AS frontier_offset_sec
      FROM fr_sched s LEFT JOIN frd_delay d ON d.host = s.host
    )
    SELECT a.doc_id,
           CAST(('0x' || substr(md5(cl.c), 1, 8)) AS BIGINT) AS fingerprint,
           CASE WHEN b.doc_id IS NULL OR len(a.t) = 0 THEN NULL
                ELSE ROUND(len(list_intersect(a.t, b.t))::DOUBLE / len(a.t), 6) END AS term_overlap,
           CASE WHEN adh.template = 'Question' AND contains(lower(adh.resp), '?') THEN 'high'
                WHEN adh.template = 'Empathy and Validation'
                     AND regexp_matches(lower(adh.resp), '(understand|feel|valid)') THEN 'high'
                ELSE 'medium' END AS template_adherence,
           CAST(len(w1.fps) AS BIGINT) AS n_winnow_fps,
           CASE WHEN w2.doc_id IS NULL THEN NULL
                ELSE CAST(len(list_intersect(w1.fps, w2.fps)) AS BIGINT) END AS winnow_shared_next,
           CAST(COALESCE(ntop.n_top20, 0) AS BIGINT) AS n_top20,
           COALESCE(bm.bm25, 0.0) AS bm25_fq,
           kt1.token AS keyterm,
           COALESCE(dslw.w, 0.0) AS dsir_logweight,
           CASE WHEN a.doc_id % 2 = 0 THEN NULL
                ELSE COALESCE(sa_adm.adm, FALSE) END AS stream_admit,
           prf.pagerank AS pr_host_rank,
           list_has_all(bb.bl, {BLOOM.bloom_positions_sql(_bloom_url_sql('a.'), _BLOOM_M, _BLOOM_K)}) AS bloom_hit,
           {CHARSET.sniff_charset_sql(*_cs_scenario_sql('a.'))} AS charset_verdict,
           {URLMOD.registrable_domain_sql(_RD_HOST_SQL)} AS reg_domain,
           rbs_v.allowed AS robots_allow_star,
           rbb_v.allowed AS robots_allow_bot,
           frf.frontier_slot AS frontier_slot,
           frf.frontier_offset_sec AS frontier_offset_sec
    FROM toks a
    JOIN cleaned cl ON cl.doc_id = a.doc_id
    JOIN winnow w1 ON w1.doc_id = a.doc_id
    LEFT JOIN winnow w2 ON w2.doc_id = a.doc_id + 1
    JOIN (SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'Question'
                      WHEN doc_id % 3 = 1 THEN 'Empathy and Validation'
                      ELSE 'Others' END AS template,
                 text || CASE WHEN doc_id % 2 = 0 THEN ' ok?' ELSE ' i understand' END AS resp
          FROM documents) adh ON adh.doc_id = a.doc_id
    LEFT JOIN toks b ON b.doc_id = a.doc_id + 1
    LEFT JOIN ntop ON ntop.doc_id = a.doc_id
    LEFT JOIN bm ON bm.doc_id = a.doc_id
    LEFT JOIN (SELECT doc_id, token FROM kt WHERE rn = 1) kt1 ON kt1.doc_id = a.doc_id
    LEFT JOIN dslw ON dslw.doc_id = a.doc_id
    LEFT JOIN sa_adm ON sa_adm.id = a.doc_id
    LEFT JOIN pr_final prf ON prf.host = 'h' || CAST(a.doc_id % 43 AS VARCHAR)
    CROSS JOIN bl_bits bb
    JOIN rbs_verdict rbs_v ON rbs_v.rid = a.doc_id
    JOIN rbb_verdict rbb_v ON rbb_v.rid = a.doc_id
    JOIN fr_final frf ON frf.doc_id = a.doc_id
    """,
)
def doc_adjacent_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprinting + A2 term-overlap, merged registry slot.

    FROZEN as of r13 (r12 verdict #3: 45 exchanges; every added family
    makes the plan slower to audit and easier to mask a regression in).
    This slot accepts NO new oracle families: new evidence gates by
    replacing a stale column here, or — preferred — via pytest-level
    DuckDB parity (the tests/test_url.py / tests/test_hll.py pattern,
    full cross-engine parity without a registry slot).

    TRIAGE MAP (r8 verdict #7) — this slot gates eight operators via
    column absorption (the 50-slot driver cap); a failing driver hash
    localizes to exactly one of these columns → operator → pytest oracle:

    ========================  ====================================  ==========================
    column                    operator                              pytest localizer
    ========================  ====================================  ==========================
    fingerprint               functions/hashing.md5_hash32          tests/test_text.py
    term_overlap              functions/text.term_overlap (A2)      tests/test_text.py
    template_adherence        operators/textanalysis (T9)           tests/test_text.py
    n_winnow_fps,
    winnow_shared_next        operators/winnow                      tests/test_winnow.py
    n_top20                   operators/heavyhitters.top_tokens     tests/test_heavyhitters.py
    bm25_fq                   operators/retrieval.bm25_scores       tests/test_retrieval.py
    keyterm                   operators/retrieval.keyterms_tfidf    tests/test_retrieval.py
    dsir_logweight            operators/dsir.dsir_logweights        tests/test_dsir.py
    stream_admit              streaming/neardup.admit               tests/test_streaming_neardup.py
    pr_host_rank              operators/linkgraph.host_pagerank     tests/test_linkgraph.py
    bloom_hit                 operators/bloom (build+literal tier)  tests/test_bloom.py
    charset_verdict           functions/charset.sniff_charset       tests/test_charset.py
                              (full priority chain + alias fold)
    robots_allow_star,        operators/robots (group parse +       tests/test_robots.py
    robots_allow_bot          agent select + longest-match)
    reg_domain                functions/url.registrable_domain      tests/test_url.py
                              (eTLD+1, full PSL rule semantics)
    frontier_slot,            operators/robots (crawl-delay parse   tests/test_robots.py
    frontier_offset_sec       + schedule_frontier pacing; the
                              api.plan_crawl_round legs)
    ========================  ====================================  ==========================

    Run the localizer first; only if every pytest oracle is green does a
    hash failure implicate this query's own join/gating glue.

    Base columns: md5-based 32-bit hash of cleaned text (bit-identical
    across engines, functions/hashing.md5_hash32) plus |Q∩R|/|Q| over
    distinct tokens against the NEXT document (reference
    prompt_selector.py:332-346), NULL for the last doc — every doc keeps
    a row.

    ``template_adherence`` is the T9 evidence column (reference
    prompt_selector.py:348-355): the synthetic corpus has no '?' or
    empathy keywords, so template and response get deterministic doc_id-mod
    variation that exercises every CASE branch (Question+'?' → high,
    Empathy+'understand' → high, mismatched combinations → medium).

    ``n_winnow_fps`` / ``winnow_shared_next`` are the winnowing
    (operators/winnow, Schleimer 2003) driver-evidence columns: the
    document's fingerprint-sketch size and the shared-fingerprint count
    with the NEXT document — the exact quantity winnow_neardup_pairs
    thresholds on — mirrored in DuckDB by an unrolled rolling-hash +
    window-min CTE built from the same constants.

    ``n_top20`` / ``bm25_fq`` / ``keyterm`` are the corpus-analytics
    driver-evidence columns (round 7): per-doc multiplicity of the
    corpus top-20 tokens as found by the Misra-Gries + exact-recount
    heavy hitters (operators/heavyhitters — the oracle recomputes the
    top-20 exactly, so a wrong candidate set or certificate flips the
    membership counts), the doc's Okapi BM25 score for the fixed query
    ('fast','query') (operators/retrieval.bm25_scores, 0.0 when no
    term matches), and the doc's rank-1 TF-IDF keyterm
    (operators/retrieval.keyterms_tfidf, tie-break token ASC).

    ``dsir_logweight`` is the DSIR driver-evidence column (round 8,
    r7 verdict #2): operators/dsir.dsir_logweights end-to-end — hashed
    n-gram features, smoothed bucket log-ratios, DECIMAL-summed per-doc
    importance log-weight — against the fixed deterministic target
    split ``doc_id % 7 = 0`` at n_buckets=512 (small space forces
    bucket collisions, the regime hashing exists for); the SQL mirror
    is the DuckDB oracle from tests/test_dsir.py.

    ``stream_admit`` (round 8) oracle-gates the streaming admission
    DECISION FUNCTION — `streaming/neardup.StreamingNearDupFilter.admit`
    is a pure DataFrame-in/DataFrame-out function, so the driver gate
    can check it even though the foreachBatch/txlog machinery around it
    cannot run under DuckDB: even doc_ids are appended to a fresh
    TxTable index, the odd doc_ids form the micro-batch, and the column
    is TRUE/FALSE per odd doc (NULL for the indexed evens).  The mirror
    spells admission semantics exactly: rejection iff ANY indexed
    simhash is within Hamming 3 (the pigeonhole band join is provably
    complete, so exact hamming is equivalent), then min-id-per-near-dup-
    component first-occurrence among survivors (recursive-CTE closure,
    the connected_components contract)."""
    import shutil
    import tempfile

    from ..operators import bloom as BL
    from ..operators import dedup as DD
    from ..operators import dsir as DS
    from ..operators import heavyhitters as HH
    from ..operators import linkgraph as LG
    from ..operators import retrieval as RT
    from ..operators import winnow as WN
    from ..streaming.neardup import StreamingNearDupFilter

    docs = load_table(spark, sf_dir, "documents")
    fp = textanalysis.fingerprint(docs)
    wf = WN.winnow_fingerprints(docs)
    wa = wf.select("doc_id", F.col("fingerprints").alias("fa"))
    wb = wf.select((F.col("doc_id") - 1).alias("doc_id"), F.col("fingerprints").alias("fb"))
    wn = wa.join(wb, "doc_id", "left").select(
        "doc_id",
        F.size("fa").cast("bigint").alias("n_winnow_fps"),
        F.when(
            F.col("fb").isNotNull(), F.size(F.array_intersect("fa", "fb")).cast("bigint")
        ).alias("winnow_shared_next"),
    )
    template = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("Question"))
        .when(F.col("doc_id") % 3 == 1, F.lit("Empathy and Validation"))
        .otherwise(F.lit("Others"))
    )
    resp = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(" ok?")).otherwise(F.lit(" i understand")),
    )
    a = docs.select("doc_id", F.col("text").alias("ta"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("tb"))
    adh = docs.select("doc_id", TX.template_adherence(template, resp).alias("template_adherence"))
    ov = a.join(b, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.col("tb").isNotNull(), F.round(TX.term_overlap("ta", "tb"), 6)
        ).alias("term_overlap"),
    )
    top20 = F.array(
        *[
            F.lit(r.token)
            for r in HH.top_tokens(docs, 20, capacity=4096, auto_grow=True).collect()
        ]
    )
    ntop = docs.select(
        "doc_id",
        F.size(F.filter(TX.tokenize("text"), lambda t: F.array_contains(top20, t)))
        .cast("bigint")
        .alias("n_top20"),
    )
    bm = RT.bm25_scores(docs, ["fast", "query"]).select(
        "doc_id", F.col("bm25").alias("bm25_fq")
    )
    kt = RT.keyterms_tfidf(docs, 1).select("doc_id", "keyterm")
    dw = DS.dsir_logweights(
        docs, docs.where(F.col("doc_id") % 7 == 0), n_buckets=512
    )
    # pr_host_rank: host-level PageRank (operators/linkgraph) over a
    # deterministic host graph derived from doc ids — src h(doc_id % 41),
    # dst h((doc_id*7+3) % 43), edges only for doc_id % 5 != 0, so hosts
    # h41/h42 (and, at small sf, stragglers) are DANGLING and the
    # dangling-mass fold is part of the gated path.  Each doc reads back
    # the rank of its own host h(doc_id % 43); NULL if that host never
    # appears in the graph.
    pr_edges = docs.where(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 41).cast("string")).alias(
            "src_host"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 7 + 3) % 43).cast("string")
        ).alias("dst_host"),
    )
    pr = LG.host_pagerank(pr_edges, iterations=3).withColumnRenamed(
        "host", "_prh"
    )
    prj = (
        docs.select(
            "doc_id",
            F.concat(F.lit("h"), (F.col("doc_id") % 43).cast("string")).alias(
                "_prh"
            ),
        )
        .join(pr, "_prh", "left")
        .select("doc_id", F.col("pagerank").alias("pr_host_rank"))
    )
    # charset_verdict: the FULL sniffing priority chain of
    # functions/charset (BOM > HTTP header param > HTML meta > default,
    # plus alias folding), driven by five doc_id-derived scenarios the
    # oracle synthesizes identically: 0 BOM-beats-header, 1
    # header-beats-meta, 2 meta only (aliased), 3 nothing → default,
    # 4 aliased header.  Pure string evidence — the real JVM sniff
    # expression is what's under test (the binary/latin-1 view leg is
    # gated through multimodal_features' warc_charset).
    cs_headers, cs_body = _cs_scenario_cols()
    # reg_domain rides the same frame: eTLD+1 of a doc_id-derived host
    # cycling default-rule / multi-label-suffix / private-registry /
    # suffix-only branches through functions/url.registrable_domain
    from ..functions.url import registrable_domain

    _rd_host = F.concat(
        F.lit("w"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(".example.com"))
        .when(F.col("doc_id") % 4 == 1, F.lit(".shop.co.uk"))
        .when(F.col("doc_id") % 4 == 2, F.lit(".github.io"))
        .otherwise(F.lit(".site.org")),
    )
    csd = docs.select(
        "doc_id",
        CHARSET.sniff_charset(cs_headers, cs_body).alias("charset_verdict"),
        registrable_domain(_rd_host).alias("reg_domain"),
    )
    # robots_allow_star / robots_allow_bot: the REAL operators/robots
    # parse + decision over the _ROBOTS_TEMPLATE grammar — star-group
    # verdicts exercise prefix match + anchored-allow longest-match,
    # psybot verdicts exercise agent-group selection + wildcard+anchor
    from ..operators import robots as RB

    rb_j = (F.col("doc_id") % 3).cast("string")
    rb_src = (
        docs.select(rb_j.alias("j"))
        .distinct()
        .select(
            F.concat(F.lit("h"), "j").alias("host"),
            _robots_txt_col(F.col("j")).alias("robots_txt"),
        )
    )
    rb_rules = RB.robots_rules(rb_src)
    rb_reqs = docs.select(
        "doc_id",
        F.concat(F.lit("h"), rb_j).alias("host"),
        F.concat(
            F.lit("/p"),
            (F.col("doc_id") % 9).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/x.html")).otherwise(
                F.lit("/y")
            ),
        ).alias("path"),
    )
    rb_star = RB.robots_allowed(rb_rules, rb_reqs, agent="nobody").select(
        "doc_id", F.col("allowed").alias("robots_allow_star")
    )
    rb_bot = RB.robots_allowed(rb_rules, rb_reqs, agent="psybot").select(
        "doc_id", F.col("allowed").alias("robots_allow_bot")
    )
    # frontier_slot / frontier_offset_sec (r12): the politeness
    # scheduler (operators/robots.schedule_frontier) paced by the REAL
    # crawl-delay parser over the same robots grammar — the star group
    # publishes Crawl-delay 1{j} (10/11/12 s), so slot order (per-host
    # url window) AND the delay multiplication are both on the gated
    # path; robots.plan_crawl_round chains exactly these legs.
    fr_urls = docs.select(
        "doc_id",
        F.concat(F.lit("h"), rb_j).alias("fr_host"),
        F.concat(
            F.lit("http://h"), rb_j, F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("fr_url"),
    )
    fr_delays = RB.robots_crawl_delays(rb_src, agent="nobody")
    frs = RB.schedule_frontier(
        fr_urls, fr_delays, host_col="fr_host", url_col="fr_url"
    ).select(
        "doc_id",
        F.col("fetch_slot").cast("long").alias("frontier_slot"),
        F.col("fetch_offset_sec").alias("frontier_offset_sec"),
    )
    # bloom_hit: portable Bloom membership (operators/bloom) — the
    # filter is built DISTRIBUTED over the "previous crawl" (even
    # doc_ids' URLs) and served through the literal Catalyst tier; evens
    # must all hit (no false negatives), odds hit only on the md5-exact
    # false positives the oracle reproduces bit-for-bit.
    _bloom_url = F.concat(
        F.lit("http://h"),
        (F.col("doc_id") % 41).cast("string"),
        F.lit(".example/p/"),
        F.col("doc_id").cast("string"),
    )
    bloom_words = BL.bloom_build(
        docs.where(F.col("doc_id") % 2 == 0).select(_bloom_url.alias("url")),
        "url", _BLOOM_M, _BLOOM_K,
    )
    blm = docs.select(
        "doc_id",
        BL.bloom_contains_expr(
            _bloom_url, bloom_words, _BLOOM_M, _BLOOM_K
        ).alias("bloom_hit"),
    )
    # admit() localCheckpoints eagerly, so the index dir is dead weight
    # once it returns — clean it up here rather than leaking one temp
    # tree per driver-gate invocation (3 SFs × every verify run).
    gate_dir = tempfile.mkdtemp(prefix="admit_gate_")
    try:
        filt = StreamingNearDupFilter(spark, gate_dir + "/idx")
        filt.index.append(
            DD.simhash(docs.where(F.col("doc_id") % 2 == 0)).select(
                F.col("id").alias("doc_id"), "simhash"
            )
        )
        adm = filt.admit(docs.where(F.col("doc_id") % 2 == 1)).select(
            "doc_id", F.lit(True).alias("_adm")
        )
    finally:
        shutil.rmtree(gate_dir, ignore_errors=True)
    stream_admit = F.when(
        F.col("doc_id") % 2 == 0, F.lit(None).cast("boolean")
    ).otherwise(F.coalesce(F.col("_adm"), F.lit(False)))
    return (
        fp.join(ov, "doc_id")
        .join(adh, "doc_id")
        .join(wn, "doc_id")
        .join(ntop, "doc_id")
        .join(bm, "doc_id", "left")
        .join(kt, "doc_id", "left")
        .join(dw, "doc_id")
        .join(adm, "doc_id", "left")
        .join(prj, "doc_id")
        .join(blm, "doc_id")
        .join(csd, "doc_id")
        .join(rb_star, "doc_id")
        .join(rb_bot, "doc_id")
        .join(frs, "doc_id")
        .withColumn("bm25_fq", F.coalesce("bm25_fq", F.lit(0.0)))
        .withColumn("stream_admit", stream_admit)
        .drop("_adm")
    )


@register(
    "training_export_reshape",
    oracle="""
    SELECT event_id,
           'Respond to a ' || event_type || ' event' AS instruction,
           'user ' || CAST(user_id AS VARCHAR) AS input,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS label
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
)
def training_export_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: projection + string-interpolation reshape to training format
    (reference rag_processor.py:182-238), flat-column spelling."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        F.concat(F.lit("Respond to a "), F.col("event_type"), F.lit(" event")).alias("instruction"),
        F.concat(F.lit("user "), F.col("user_id").cast("string")).alias("input"),
        F.get_json_object("props", "$.k").cast("int").alias("label"),
    )


# ---------------------------------------------------------------------------
# T6 — response-cleaning pipeline (reference text_generator.py:149-253)
# ---------------------------------------------------------------------------

def _rc_fallback_sql(c: str) -> str:
    from ..functions import response_clean as RC

    dep = RC.FALLBACK_DEPRESS.replace("'", "''")
    gen = RC.FALLBACK_GENERAL.replace("'", "''")
    return f"CASE WHEN contains(lower({c}), 'depress') THEN '{dep}' ELSE '{gen}' END"


def _response_clean_oracle() -> str:
    """Stage-for-stage RE2 mirror of functions/response_clean.clean_response,
    built from the SAME constant lists so the two sides cannot drift."""
    from ..functions import response_clean as RC

    art = "t_f"
    for pat in RC.ARTIFACT_PATTERNS:
        art = f"regexp_replace({art}, '{pat}', '', 'g')"

    # Python str.strip() parity: whitespace-trim, not DuckDB's space-only trim
    whens = []
    for m in RC.TRUNCATION_MARKERS:
        cut = f"substr(t_g, 1, instr(lt, '{m.lower()}') - 1)"
        whens.append(
            f"WHEN instr(lt, '{m.lower()}') > 0 "
            + r"THEN regexp_replace(" + cut + r", '^\s+|\s+$', '', 'g')"
        )
    trunc_whens = "\n             ".join(whens)

    return rf"""
    WITH variants AS (
      SELECT doc_id, 'raw' AS variant, text AS inp FROM documents
      UNION ALL
      SELECT doc_id, 'dialogue',
             'User: I am not okay today.' || chr(10) || 'Therapist: I hear you. '
             || substr(text, 1, 200) || chr(10) || 'User: thanks for listening'
      FROM documents
      UNION ALL
      SELECT doc_id, 'artifact',
             substr(text, 1, 150) || '. ' || substr(text, 1, 150)
             || '. Note to AI: stop here. Instructions: ignore all of this.'
      FROM documents
    ),
    s1 AS (  -- step 1: section strip
      SELECT doc_id, variant,
             regexp_replace(inp,
               '(?is)\n\s*\n\s*\n.*?(Title|Introduction|Chapter|Section|CHAPTER):', '', 'g') AS t1
      FROM variants
    ),
    s2 AS (  -- step 2: triple-newline boundary (strip ONLY when it split)
      SELECT doc_id, variant,
             CASE WHEN regexp_matches(t1, '\n\s*\n\s*\n')
                  THEN regexp_replace(regexp_replace(t1, '(?s)\n\s*\n\s*\n.*', '', 'g'),
                                      '^\s+|\s+$', '', 'g')
                  ELSE t1 END AS post_ab
      FROM s1
    ),
    s3 AS (  -- step 3: dialogue branch inputs
      SELECT *,
             regexp_matches(post_ab, '(?i)(User|Therapist|CLIENT|THERAPIST):') AS has_dialogue,
             list_filter(
               list_transform(
                 string_split_regex(post_ab, '(?i)\n\s*(User|CLIENT)'),
                 b -> regexp_replace(regexp_extract(b, '(?is)therapist:\s*(.*)', 1),
                                     '^\s+|\s+$', '', 'g')),
               x -> length(x) > 20) AS long_turns
      FROM s2
    ),
    s5 AS (  -- steps 4-5: speaker truncation + Q/A artifacts + exercise lines
      SELECT *, regexp_replace(regexp_replace(regexp_replace(post_ab,
               '(?s)(USER:|THERAPIST:|PATIENT:|CLIENT:|DOCTOR:).*', '', 'g'),
               'Question \d+:|Answer:|Response:', '', 'g'),
               '(?i)exercise:[^\n]*', '', 'g') AS t_b
      FROM s3
    ),
    s6a AS (  -- step 6: sentence split (sentinel spelling of the lookbehind)
      SELECT *, string_split(
               regexp_replace(t_b, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS sents
      FROM s5
    ),
    s6 AS (  -- step 6: first-occurrence dedup
      SELECT *, array_to_string(
               list_filter(sents, (x, i) -> regexp_replace(x, '^\s+|\s+$', '', 'g') <> ''
                                             AND list_position(sents, x) = i),
               ' ') AS t_c
      FROM s6a
    ),
    s8 AS (  -- steps 7-8: residual markers, brackets, line filter, whitespace
      SELECT *, regexp_replace(trim(regexp_replace(
               array_to_string(
                 list_filter(
                   string_split(
                     regexp_replace(regexp_replace(t_c,
                       '(?i)\b(tr:|therpst:|therap:|therapy:)', '', 'g'),
                       '\[.*?\]', '', 'g'),
                     chr(10)),
                   ln -> len(list_filter(string_split_regex(trim(ln), '\s+'), w -> w <> '')) > 1),
                 chr(10)),
               '\s+', ' ', 'g')), '\(\s*\)', '', 'g') AS t_f
      FROM s6
    ),
    s9a AS (  -- step 9: artifact-pattern removal
      SELECT *, {art} AS t_g FROM s8
    ),
    s9 AS (  -- step 9: first-marker-in-list-order truncation
      SELECT *, lower(t_g) AS lt FROM s9a
    ),
    s10 AS (
      SELECT doc_id, variant, has_dialogue, long_turns, post_ab,
             CASE {trunc_whens}
             ELSE t_g END AS t_h
      FROM s9
    )
    SELECT doc_id, variant,
           CASE WHEN has_dialogue THEN
             CASE WHEN len(long_turns) > 0 THEN long_turns[1]
                  ELSE {_rc_fallback_sql('post_ab')} END
           ELSE
             CASE WHEN length(t_h) < 15 THEN {_rc_fallback_sql('t_h')} ELSE t_h END
           END AS cleaned
    FROM s10
    """


@register("response_clean", oracle=None)  # oracle attached below (built lazily)
def response_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: the reference's full response-cleaning pipeline
    (text_generator.py:149-253) over three deterministic input variants —
    the raw document, a dialogue-wrapped twin (exercises the THERAPIST-turn
    early return), and an artifact-injected twin (exercises sentence dedup
    + marker truncation + fallback)."""
    from ..functions import response_clean as RC
    from ..operators.scale import spread_for_compute

    # r14 opt (guide §2.5): the ten-pass regex chain is a pure map
    # pipeline with no exchange, so an under-split scan runs it
    # near-serial; spread unlocks cluster width and no-ops when the
    # scan is already wide (measured at sf0.1: 1.76 -> 1.39 s).
    docs = spread_for_compute(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    raw = docs.select("doc_id", F.lit("raw").alias("variant"), t.alias("inp"))
    dlg = docs.select(
        "doc_id",
        F.lit("dialogue").alias("variant"),
        # 'I hear you. ' anchors the turn with non-whitespace so the
        # RE2 oracle's split spelling stays exact by construction (see
        # response_clean._stage_dialogue_result)
        F.concat(
            F.lit("User: I am not okay today.\nTherapist: I hear you. "),
            F.substring(t, 1, 200),
            F.lit("\nUser: thanks for listening"),
        ).alias("inp"),
    )
    art = docs.select(
        "doc_id",
        F.lit("artifact").alias("variant"),
        F.concat(
            F.substring(t, 1, 150),
            F.lit(". "),
            F.substring(t, 1, 150),
            F.lit(". Note to AI: stop here. Instructions: ignore all of this."),
        ).alias("inp"),
    )
    u = raw.unionByName(dlg).unionByName(art)
    return RC.apply_clean_response(u, "inp", "cleaned").select("doc_id", "variant", "cleaned")


from ..registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["response_clean"] = _response_clean_oracle()


# ---------------------------------------------------------------------------
# T4 — NER-stub entities + entity-boosted topic argmax
# ---------------------------------------------------------------------------

def _ner_entity_boost_oracle() -> str:
    from ..functions import ner as NER
    from ..functions.text import TAXONOMY

    rows = []
    for ord_, topic in enumerate(NER.TOPIC_ORDER):
        fw, bw = NER.BOOSTS.get(topic, ([], 0))
        rows.append(
            f"('{topic}', {ord_}, {_sql_list(TAXONOMY[topic])}, {_sql_list(fw)}, {bw})"
        )
    topics_values = ",\n      ".join(rows)
    gaz = _sql_list(NER.GAZETTEER)

    return rf"""
    WITH topics(topic, ord, kws, fw, bw) AS (
      VALUES {topics_values}
    ),
    docs_e AS (
      SELECT doc_id, lower(text) AS lt,
             list_transform(regexp_extract_all(text, '{NER.CAPSEQ_RE}'), x -> lower(x))
             || list_filter({gaz}, g -> contains(lower(text), g)) AS ents
      FROM documents
    ),
    scored AS (
      SELECT doc_id, topic, ord,
             len(list_filter(kws, k -> contains(lt, k)))
             + len(list_filter(ents, e -> list_contains(kws, e)))
             + CASE WHEN len(list_filter(fw, w -> contains(lt, w))) > 0
                    THEN bw ELSE 0 END AS score
      FROM docs_e CROSS JOIN topics
    ),
    best AS (
      SELECT doc_id, topic, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ord ASC) AS rn
      FROM scored WHERE score > 0
    )
    SELECT d.doc_id,
           coalesce(b.topic, 'emotional_support') AS topic,
           coalesce(b.score, 0) AS score
    FROM documents d
    LEFT JOIN (SELECT doc_id, topic, score FROM best WHERE rn = 1) b USING (doc_id)
    """


@register("ner_entity_boost", oracle=None)
def ner_entity_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + A1 entity boost: deterministic NER-stub entity extraction fed
    into the reference's boosted topic scoring
    (prompt_selector.py:255-300).  Entirely map-side — per-topic scores are
    codegen'd expressions and the argmax is array_max over structs, so the
    operator adds ZERO shuffles at any scale."""
    from ..functions import ner as NER

    docs = load_table(spark, sf_dir, "documents")
    return NER.with_boosted_topic(docs, "text").select("doc_id", "topic", "score")


_ORACLES["ner_entity_boost"] = _ner_entity_boost_oracle()
