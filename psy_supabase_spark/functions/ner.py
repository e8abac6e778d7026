"""T4 — entity extraction (reference `prompt_selector.py:91-97`) and the
entity-boosted topic scoring it feeds (`prompt_selector.py:255-300`).

The reference calls spaCy's NER (`self.nlp(question).ents`).  spaCy is not
in this container, so — exactly like M1's embedding UDF — we ship:

* a DETERMINISTIC native-expression stub with the same output contract
  (``array<string>`` of entity mentions, duplicates preserved in text
  order), oracle-gated and used by the registered query; and
* the real pandas-UDF contract twin, import-gated behind spaCy.

Stub semantics (documented, engine-portable): an entity mention is
(a) every capitalized-token span of the RAW text (spaCy-like PERSON/ORG
shape), lowercased, in match order — the reference lowercases the question
before NER, which would starve a real NER; the stub deliberately reads the
raw text so the scoring path stays exercised — plus (b) each gazetteer
term contained in the lowered text, at most once, in gazetteer order.
Entity→topic credit follows the reference exactly: a mention counts for a
topic iff it EQUALS one of that topic's keywords (list membership,
`prompt_selector.py:264`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .memo import per_gateway
from .text import TAXONOMY

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


# capitalized-token spans: Title-case word runs, the classic NER surface form
CAPSEQ_RE = r"\b[A-Z][a-z]+(?: [A-Z][a-z]+)*\b"

# grief/loss + relationship entity gazetteer (reference
# prompt_selector.py:136-139) plus this engine's taxonomy unigrams, so
# entity credit can actually fire on matching keywords.
GAZETTEER = [
    "grief", "loss", "bereavement", "death",
    "relationship", "partner", "breakup", "divorce", "marriage",
    "anxiety", "panic", "depression", "stress", "trauma", "ptsd",
]

# entity-boost weights (reference prompt_selector.py:269-286, adapted to
# this engine's taxonomy names): category-flag words → (topic, weight).
# The flag words mirror generate_category_info's keyword groups
# (prompt_selector.py:121-139).
BOOSTS: dict[str, tuple[list[str], int]] = {
    "anxiety": (["anxi", "worry", "panic", "fear"], 3),
    "depression": (["depress", "hopeless", "worthless"], 2),
    "stress": (["overwhelmed", "burnout", "pressure"], 2),
    "relationships": (["partner", "breakup", "divorce", "marriage"], 2),
}

# taxonomy insertion order = the reference dict's iteration order, which is
# the argmax tie-break (`max` returns the FIRST maximal item)
TOPIC_ORDER = [t for t in TAXONOMY if t != "emotional_support"]


def extract_entities(col: ColumnOrName) -> Column:
    """Deterministic NER stub: capitalized spans (lowercased, match order,
    duplicates kept) ++ gazetteer hits (presence, gazetteer order)."""
    raw = _c(col)
    lt = F.lower(raw)
    caps = F.transform(F.regexp_extract_all(raw, F.lit(CAPSEQ_RE), 0), F.lower)
    gaz = F.filter(
        F.array(*[F.lit(g) for g in GAZETTEER]), lambda g: lt.contains(g)
    )
    return F.concat(caps, gaz)


def topic_scores_boosted(text_col: ColumnOrName) -> Column:
    """Per-topic boosted scores as ONE map-side expression — no join, no
    shuffle.  Returns array<struct<score,ord,topic>> filtered to
    score > 0 (the reference records only positive totals,
    prompt_selector.py:288-290).

    NOTE this inline spelling re-evaluates `lower(text)` and the entity
    extraction inside every per-topic lambda (LambdaFunction blocks CSE);
    hot paths should use :func:`with_boosted_topic`, which stages them as
    named columns first — identical values, one evaluation per row."""
    lt = F.lower(_c(text_col))
    ents = extract_entities(_c(text_col))
    return _scores_from(lt, ents)


def _scores_from(lt: Column, ents: Column) -> Column:
    structs = []
    for ord_, topic in enumerate(TOPIC_ORDER):
        kws = F.array(*[F.lit(k) for k in TAXONOMY[topic]])
        kw_hits = F.size(F.filter(kws, lambda k: lt.contains(k)))
        ent_hits = F.size(F.filter(ents, lambda e: F.array_contains(kws, e)))
        flag_words, weight = BOOSTS.get(topic, ([], 0))
        if flag_words:
            flagged = F.array(*[F.lit(w) for w in flag_words])
            boost = F.when(
                F.exists(flagged, lambda w: lt.contains(w)), F.lit(weight)
            ).otherwise(F.lit(0))
        else:
            boost = F.lit(0)
        score = (kw_hits + ent_hits + boost).cast("bigint")
        structs.append(
            F.struct(
                score.alias("score"),
                F.lit(-ord_).cast("int").alias("negord"),
                F.lit(topic).alias("topic"),
            )
        )
    return F.filter(F.array(*structs), lambda s: s.score > 0)


def best_topic_boosted(text_col: ColumnOrName) -> tuple[Column, Column]:
    """(topic, score) argmax with the reference's dict-order tie-break;
    zero positives → ('emotional_support', 0) default
    (prompt_selector.py:294-300)."""
    arr = topic_scores_boosted(text_col)
    best = F.array_max(arr)
    topic = F.when(F.size(arr) > 0, best.topic).otherwise(F.lit("emotional_support"))
    score = F.when(F.size(arr) > 0, best.score).otherwise(F.lit(0).cast("bigint"))
    return topic, score


def with_boosted_topic(
    df,
    text_col: str = "text",
    *,
    topic_col: str = "topic",
    score_col: str = "score",
):
    """Hot-path spelling of best_topic_boosted: lower(text), the entity
    array, and the score array are staged as named columns (evaluated once
    per row; CollapseProject keeps multiply-referenced non-cheap aliases
    staged), then the argmax/default read the staged array.  Value-identical
    to the inline expressions — the oracle mirror is unchanged.

    The stage trees are built once per py4j gateway for each set of column
    names (``memo.per_gateway``): building them costs ~1,650 py4j round
    trips, several times the cost of chaining them onto a request frame."""
    for name, expr in _boosted_topic_stages(text_col, topic_col, score_col):
        df = df.withColumn(name, expr)
    return df.drop("_lt", "_ents", "_scores")


@per_gateway
def _boosted_topic_stages(text_col: str, topic_col: str, score_col: str):
    arr = F.col("_scores")
    best = F.array_max(arr)
    return (
        ("_lt", F.lower(F.col(text_col))),
        ("_ents", extract_entities(F.col(text_col))),
        ("_scores", _scores_from(F.col("_lt"), F.col("_ents"))),
        (
            topic_col,
            F.when(F.size(arr) > 0, best.topic).otherwise(F.lit("emotional_support")),
        ),
        (
            score_col,
            F.when(F.size(arr) > 0, best.score).otherwise(F.lit(0).cast("bigint")),
        ),
    )


def entity_extractor():
    """T4 dispatcher: callable ``col -> Column``.  PSY_REAL_MODELS=1 →
    the spaCy NER pandas UDF (NotImplementedError if spaCy is missing —
    an enabled flag must never silently degrade); else the deterministic
    native stub `extract_entities`.  Both produce ``array<string>``."""
    import os

    if os.environ.get("PSY_REAL_MODELS") == "1":
        return spacy_ner_udf()
    return extract_entities


def spacy_ner_udf():  # pragma: no cover - spaCy not in this container
    """The real-model contract twin (reference prompt_selector.py:91-97):
    an Arrow-batched pandas UDF ``text -> array<string>`` running spaCy NER
    with an executor-singleton pipeline (the M4 lifecycle pattern,
    operators/ml_udfs.py).  Import-gated: raises with instructions here."""
    try:
        import spacy  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "spaCy is not installed in this environment. Install spacy and a "
            "model (e.g. en_core_web_sm) to use the real NER path; the "
            "deterministic stub `extract_entities` is the tested default."
        ) from exc

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _ner(texts: pd.Series) -> pd.Series:
        import spacy

        if not hasattr(_ner, "_nlp"):
            _ner._nlp = spacy.load("en_core_web_sm")
        return pd.Series(
            [[e.text for e in _ner._nlp(t or "").ents] for t in texts]
        )

    return _ner
