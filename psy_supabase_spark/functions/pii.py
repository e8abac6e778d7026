"""PII detection / redaction — map-side regex families for the
training-data pipeline.

Large-scale corpus preparation redacts personally-identifiable
information before training (emails, phone numbers, IP addresses,
national-id-shaped numbers); every production pipeline (C4's cleanup,
BigScience ROOTS, the Pile) carries a regex pass of this shape.  The
whole family is a chain of ``regexp_replace`` / ``regexp_count`` scalar
expressions — pure whole-stage-codegen, zero Exchange, zero Python — so
at 100 TB it rides the same scan as the rest of the cleaning pack.

Pattern dialect: every pattern below is written in the common subset of
Java regex (Spark) and RE2 (DuckDB) — no backreferences, no lookaround —
so the DuckDB oracle can mirror the exact expressions; the driver gate
then checks real redaction arithmetic, not just plumbing.

Ordering contract: :func:`redact_pii` applies the families in
``PII_PATTERNS`` order on the running text (EMAIL first — an address
contains digit runs a later family could clip mid-token).  Counts in
:func:`pii_counts` are measured per family on the ORIGINAL text, so they
are order-independent and each family is auditable on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import ColumnOrName, _c

# (name, pattern, replacement-token); common Java-regex/RE2 subset.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # local@domain.tld — conservative, requires a dotted TLD of >= 2 alpha
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    # dotted-quad with word boundaries; octet range intentionally loose
    # (redaction favors recall — 999.1.1.1 redacted is a non-event)
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    # US-SSN-shaped 3-2-4 digit groups
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    # NANP-ish phone: optional +1/1 prefix, 3-3-4 groups with -, ., or
    # space.  The \b sits AFTER the optional prefix: '+' is a non-word
    # char, so a leading \b could never hold between ' ' and '+' and the
    # prefix branch would be dead (the prefix's own separator provides
    # the left anchor instead)
    ("phone", r"(\+?1[-. ])?\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "[PHONE]"),
]


def pii_counts(col: ColumnOrName) -> Column:
    """STRUCT(<family> INT, ...): occurrences of each PII family in the
    original text — the audit side of the redaction pass (corpus-level
    PII rates are a standard datasheet line item)."""
    c = _c(col)
    return F.struct(
        *[F.regexp_count(c, F.lit(pat)).alias(name) for name, pat, _tok in PII_PATTERNS]
    )


def redact_pii(col: ColumnOrName) -> Column:
    """Replace every PII family with its ``[TOKEN]`` placeholder, applied
    in ``PII_PATTERNS`` order.  Placeholder tokens (not deletion) keep
    sentence structure for downstream quality scoring and make redaction
    rates measurable post-hoc."""
    c = _c(col)
    for _name, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def redact_with_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """``df`` with ``col`` redacted by :func:`redact_pii` and one
    ``n_pii_<family>`` count column per family, counted on the ORIGINAL
    text (the columns are added before the redaction replaces ``col``)."""
    counts = pii_counts(col)
    return df.withColumns(
        {f"n_pii_{name}": counts[name] for name, _p, _t in PII_PATTERNS}
    ).withColumn(col, redact_pii(col))


def pii_oracle_sql(col: str) -> str:
    """DuckDB mirror of :func:`redact_pii` — the same patterns in the
    same order as nested ``regexp_replace(..., 'g')`` calls."""
    expr = col
    for _name, pat, token in PII_PATTERNS:
        expr = "regexp_replace({}, '{}', '{}', 'g')".format(
            expr, pat.replace("'", "''"), token
        )
    return expr


def pii_counts_oracle_sql(col: str) -> list[tuple[str, str]]:
    """[(family, DuckDB count expression over the original text)] —
    mirrors :func:`pii_counts` (``len(regexp_extract_all(...))`` is
    RE2's occurrence count, equal to Spark's ``regexp_count``)."""
    return [
        (
            name,
            "CAST(len(regexp_extract_all({}, '{}')) AS INT)".format(
                col, pat.replace("'", "''")
            ),
        )
        for name, pat, _tok in PII_PATTERNS
    ]
