"""T6 — the response-cleaning pipeline (reference
`text_generator.py:149-242`, `_clean_therapeutic_response` +
`_get_targeted_fallback_response` lines 244-253), as one UDF-free
Catalyst column expression.

The reference runs ~10 sequential regex/string passes per generated
response; every pass is re-expressed below with the SAME pass structure
so the DuckDB oracle (queries/text_queries.py `response_clean`) can
mirror it stage for stage:

1.  section-header strip            — re.sub, global
2.  triple-newline boundary         — keep text before the first one
3.  dialogue branch                 — if any `(User|Therapist|CLIENT):`
    marker appears, return the FIRST THERAPIST turn longer than 20
    chars (stripped) and SKIP all later passes; if none qualifies,
    return the targeted fallback.  A turn runs from its `therapist:`
    marker to the next `\\n\\s*(User|CLIENT)` boundary or end of text.
4.  case-SENSITIVE speaker-marker truncation (USER:/THERAPIST:/...)
5.  Q/A artifact removal, Exercise-line removal
6.  first-occurrence sentence dedup (split at whitespace after [.!?])
7.  TR:/THERAP:-style marker removal, [bracketed] removal
8.  single-word-line drop, whitespace collapse, empty-paren removal
9.  instruction-artifact pattern removal + marker truncation
    (first marker IN LIST ORDER wins — not earliest position)
10. <15-char fallback: the "depress" message if the cleaned text
    mentions it, else the general support message.

Regex portability: DuckDB is RE2 (no lookarounds), so the reference's
lookbehind sentence split `(?<=[.!?])\\s+` becomes replace-to-sentinel +
split, and every `.*?(?=\\n|$)` becomes `[^\\n]*` / `[^\\n]+` — both
provably equivalent.  All patterns below are valid and identical in Java
regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .memo import per_gateway

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _wstrim(c: Column) -> Column:
    """Python ``str.strip()`` parity: Spark's ``trim`` removes SPACES
    only, but every reference ``.strip()`` removes all whitespace — a
    trailing newline on a therapist turn changes the >20-char check
    (found by the hypothesis property test)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


# sentinel for the sentence split (never appears in real text)
SENT = "\x01"

# exact reference fallback strings (text_generator.py:250-253) — parity data
FALLBACK_DEPRESS = (
    "I understand you're feeling depressed. This is a challenging emotion to "
    "experience. Consider speaking with a mental health professional who can "
    "provide personalized support. In the meantime, gentle self-care activities "
    "and maintaining social connections can help support your wellbeing."
)
FALLBACK_GENERAL = (
    "I understand you're going through a difficult time. Remember that your "
    "feelings are valid, and seeking support is a sign of strength. Consider "
    "speaking with a mental health professional who can provide personalized "
    "guidance tailored to your specific situation."
)

# step-9 artifact patterns (text_generator.py:211-221), lookaheads lowered
# to [^\n]+ equivalents; applied global + case-insensitive
ARTIFACT_PATTERNS = [
    r"(?i)\bexercise:[^\n]+",
    r"(?i)\bwrite (a|the) (response|answer)[^\n]+",
    r"(?i)\byour response should[^\n]+",
    r"(?i)\brespond to the user[^\n]+",
    r"(?i)\binstructions:[^\n]+",
    r"(?i)user question:[^\n]+",
    r"(?i)therapeutic approach:[^\n]+",
    r"(?i)response \(keep[^\n]+",
]

# step-9 truncation markers (text_generator.py:224-230) — FIRST IN THIS
# LIST ORDER wins (the reference breaks after the first marker found)
TRUNCATION_MARKERS = [
    "Exercise:",
    "Instructions:",
    "Your response:",
    "Note to AI:",
    "USER QUESTION:",
    "THERAPEUTIC APPROACH:",
    "RESPONSE (keep",
    "PREVIOUS CONVERSATION:",
    "RELEVANT KNOWLEDGE:",
]


def targeted_fallback(cleaned: Column) -> Column:
    """reference `_get_targeted_fallback_response` (text_generator.py:244-253)."""
    return F.when(
        F.lower(cleaned).contains("depress"), F.lit(FALLBACK_DEPRESS)
    ).otherwise(F.lit(FALLBACK_GENERAL))


# --- stage functions (single source of truth for both spellings below) ---


def _stage_post_ab(t: Column) -> Column:
    """Passes 1-2: section strip + triple-newline boundary.  The reference
    strips ONLY when a boundary actually split the text (`parts[0].strip()`
    under `len(parts) > 1`) — an unconditional trim would change untrimmed
    sentence equality in pass 6 for inputs with leading whitespace, so the
    conditional is load-bearing."""
    t = F.regexp_replace(
        t, r"(?is)\n\s*\n\s*\n.*?(Title|Introduction|Chapter|Section|CHAPTER):", ""
    )
    return F.when(
        t.rlike(r"\n\s*\n\s*\n"),
        _wstrim(F.regexp_replace(t, r"(?s)\n\s*\n\s*\n.*", "")),
    ).otherwise(t)


def _stage_has_dialogue(post_ab: Column) -> Column:
    return post_ab.rlike(r"(?i)(User|Therapist|CLIENT|THERAPIST):")


def _stage_dialogue_result(post_ab: Column) -> Column:
    """Pass 3: the reference's findall scan, VERBATIM — Java regex
    supports the lazy-group-plus-lookahead pattern, so the Spark side is
    reference-exact by construction.  (A block-split spelling diverges
    when a turn is pure whitespace before a ``\\n User`` boundary: the
    reference's greedy ``\\s*`` then EATS the boundary and the turn merges
    into the next block — found by adversarial sweep.  The RE2 oracle
    keeps the split spelling, which is identical whenever turns are
    non-degenerate — guaranteed by construction for the registered
    query's inputs.)"""
    turns = F.regexp_extract_all(
        post_ab, F.lit(r"(?is)therapist:\s*(.*?)(?=\n\s*(?:user|client)|$)"), 1
    )
    stripped = F.transform(turns, _wstrim)
    long_turns = F.filter(stripped, lambda x: F.length(x) > 20)
    return F.when(F.size(long_turns) > 0, F.element_at(long_turns, 1)).otherwise(
        targeted_fallback(post_ab)
    )


def _stage_prededup(post_ab: Column) -> Column:
    """Passes 4-5: case-sensitive speaker-marker truncation (earliest
    occurrence), Q/A artifacts, exercise lines."""
    t2 = F.regexp_replace(post_ab, r"(?s)(USER:|THERAPIST:|PATIENT:|CLIENT:|DOCTOR:).*", "")
    t2 = F.regexp_replace(t2, r"Question \d+:|Answer:|Response:", "")
    return F.regexp_replace(t2, r"(?i)exercise:[^\n]*", "")


def _stage_sents(t2: Column) -> Column:
    marked = F.regexp_replace(t2, r"([.!?])\s+", "$1" + SENT)
    return F.split(marked, SENT)


def _stage_dedup(sents: Column) -> Column:
    """Pass 6: first-occurrence sentence dedup — keep a sentence iff its
    first equal occurrence is itself (reference compares untrimmed equality
    against the kept list; prefix-equality is provably identical because
    dropped-empty sentences can never equal a kept nonempty one)."""
    kept = F.filter(
        sents,
        lambda x, i: (_wstrim(x) != "") & (F.array_position(sents, x) == i + F.lit(1)),
    )
    return F.array_join(kept, " ")


def _stage_lines_ws(t2: Column) -> Column:
    """Passes 7-8: residual markers, [bracketed] asides, single-word line
    drop, whitespace collapse, empty-paren removal."""
    t2 = F.regexp_replace(t2, r"(?i)\b(tr:|therpst:|therap:|therapy:)", "")
    t2 = F.regexp_replace(t2, r"\[.*?\]", "")
    lines = F.split(t2, "\n")
    goodlines = F.filter(
        lines,
        lambda ln: F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda w: w != "")) > 1,
    )
    t2 = F.array_join(goodlines, "\n")
    t2 = F.trim(F.regexp_replace(t2, r"\s+", " "))
    return F.regexp_replace(t2, r"\(\s*\)", "")


def _stage_artifacts(t2: Column) -> Column:
    for pat in ARTIFACT_PATTERNS:
        t2 = F.regexp_replace(t2, pat, "")
    return t2


def _stage_truncate(t2: Column, low: Column) -> Column:
    """Pass 9b: first marker IN LIST ORDER wins (the reference breaks
    after the first marker found, not the earliest position)."""
    trunc = None
    for m in TRUNCATION_MARKERS:
        pos = F.instr(low, m.lower())
        branch = (pos > 0, _wstrim(F.substring(t2, F.lit(1), pos - 1)))
        trunc = F.when(*branch) if trunc is None else trunc.when(*branch)
    return trunc.otherwise(t2)


def _stage_final_plain(t2: Column) -> Column:
    return F.when(F.length(t2) < 15, targeted_fallback(t2)).otherwise(t2)


def _combine(has_dialogue: Column, dialogue_result: Column, final_plain: Column) -> Column:
    return F.when(has_dialogue, dialogue_result).otherwise(final_plain)


def clean_response(col: ColumnOrName) -> Column:
    """The whole pipeline as ONE column expression — convenient for unit
    tests and small inputs.  HOT PATHS MUST USE ``apply_clean_response``:
    nesting duplicates the upstream regex chain inside every lambda and
    CASE branch (codegen CSE cannot reach through higher-order functions),
    measured 5-6× slower at sf0.1."""
    t = _c(col)
    post_ab = _stage_post_ab(t)
    tb = _stage_prededup(post_ab)
    tc = _stage_dedup(_stage_sents(tb))
    tg = _stage_artifacts(_stage_lines_ws(tc))
    th = _stage_truncate(tg, F.lower(tg))
    return _combine(
        _stage_has_dialogue(post_ab),
        _stage_dialogue_result(post_ab),
        _stage_final_plain(th),
    )


def apply_clean_response(df, src_col: str, out_col: str = "cleaned"):
    """The staged spelling for hot paths: every pass materializes a named
    intermediate column, so each is evaluated ONCE per row — Catalyst's
    CollapseProject keeps multiply-referenced non-cheap aliases in their
    own Project instead of inlining them into lambdas/CASE branches.
    Intermediates are dropped; semantics identical to ``clean_response``
    (same stage functions).

    The stage trees are built once per py4j gateway for each
    (``src_col``, ``out_col``) pair (``memo.per_gateway``): building them
    costs ~1,200 py4j round trips, several times the cost of chaining them
    onto a request frame."""
    stages = _clean_response_stages(src_col, out_col)
    for name, expr in stages:
        df = df.withColumn(name, expr)
    return df.drop(*[name for name, _ in stages if name != out_col])


@per_gateway
def _clean_response_stages(src_col: str, out_col: str):
    return (
        ("_rc_post_ab", _stage_post_ab(F.col(src_col))),
        ("_rc_tb", _stage_prededup(F.col("_rc_post_ab"))),
        ("_rc_sents", _stage_sents(F.col("_rc_tb"))),
        ("_rc_tc", _stage_dedup(F.col("_rc_sents"))),
        ("_rc_tg", _stage_artifacts(_stage_lines_ws(F.col("_rc_tc")))),
        ("_rc_th", _stage_truncate(F.col("_rc_tg"), F.lower(F.col("_rc_tg")))),
        (
            out_col,
            _combine(
                _stage_has_dialogue(F.col("_rc_post_ab")),
                _stage_dialogue_result(F.col("_rc_post_ab")),
                _stage_final_plain(F.col("_rc_th")),
            ),
        ),
    )
