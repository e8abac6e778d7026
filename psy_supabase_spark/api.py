"""Reference-parity API.

One method per reference entry point (SURVEY.md §2 operator inventory →
`database.py` / `rag_processor.py` surface), each returning a DataFrame.
A user of the reference can run every query they run today against this
class; under the hood everything is the DataFrame operators of
``psy_supabase_spark.operators``.  Capabilities the reference does not
have (the corpus pipeline, crawl ingest) are module functions, called
directly: ``PsyEngine`` has no second spelling of them.

Score-naming contract (SURVEY.md §2.3 trap): ``find_similar_documents``
returns ``distance`` ASC (server semantics, reference `query.txt:186-205`);
``get_relevant_documents`` returns ``similarity`` DESC (client semantics,
reference `rag_processor.py:26-75`).  Same ranking, honestly named scores.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import json_ops
from .functions import text as TX
from .functions import vector as V
from .functions.memo import per_gateway
from .operators import ivf as ivf_ops
from .operators import ml_udfs, topk, windows
from .sources.local import local_frame
from .sources.tenancy import DEFAULT_TENANT, TenantStore, sanitize_tenant_id

INTERACTIONS = "interactions"
KNOWLEDGE_BASE = "knowledge_base"
# the order of turns without a stored interaction_id (written before the
# column existed); created_at alone ties within one multi-row append
LEGACY_TURN_ORDER = ("created_at", "question", "answer", "context", "metadata")


def _turn_order(df: DataFrame, *, newest_first: bool = False) -> list[Column]:
    """Sort keys for ``df``'s conversation turns, oldest first unless
    ``newest_first``: the stored ``interaction_id`` (legacy rows, whose
    ordinal is null, are the oldest), then ``LEGACY_TURN_ORDER``.  A
    multi-row append stamps ONE ``created_at`` and ``compact`` reorders
    files, so ``created_at`` alone does not order the turns of one
    append."""
    keys = [F.col(c) for c in LEGACY_TURN_ORDER]
    if "interaction_id" in df.columns:
        keys.insert(0, F.col("interaction_id"))
    if newest_first:
        return [k.desc_nulls_last() for k in keys]
    return [k.asc_nulls_first() for k in keys]


@per_gateway
def _safety_columns(col: str) -> tuple[Column, Column]:
    return TX.safety_struct(col), F.col("safety").isNotNull()


@per_gateway
def _effectiveness_columns(question_col: str, answer_col: str, template_col: str) -> tuple[Column, ...]:
    return (
        F.round(TX.term_overlap(question_col, answer_col), 6).alias("term_overlap"),
        TX.token_count(answer_col).alias("response_length"),
        TX.length_bucket(answer_col).alias("length_quality"),
        TX.template_adherence(template_col, answer_col).alias("template_adherence"),
    )


class PsyEngine:
    """The engine's user-facing API (reference `DatabaseManager` +
    `RAGProcessor` surface, Spark-native)."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.store = TenantStore(spark, warehouse_dir)
        self._ivf_indexes: dict[str, ivf_ops.IVFIndex] = {}

    # ---- ingest (reference database.py:96-198, 388-420) ----

    def add_interaction(
        self,
        user_id: str,
        *,
        context: str | None,
        question: str,
        answer: str,
        metadata: str | None = None,
    ) -> None:
        """S5: append one conversation turn; engine assigns created_at
        and a STORED per-tenant interaction_id at insert time — the
        reference's SERIAL (query.txt:63).  Assigning at append keeps
        ids stable across later appends and makes the build_context
        read path sort-free.  The one-row turn is a
        local frame (`sources.local.local_frame`): the append's ordinal
        probe, window and write then run no Python task."""
        df = local_frame(
            self.spark,
            [(context, question, answer, metadata)],
            "context string, question string, answer string, metadata string",
        )
        self.store.append(
            INTERACTIONS, df, user_id=user_id, ordinal_col="interaction_id"
        )

    def add_documents(self, user_id: str, docs: DataFrame) -> None:
        """S6: append (content, embedding) rows — native array column, no
        '[...]' string codec (reference serializes vectors to text,
        database.py:394-399).  Drops the tenant's IVF index: an index built
        before this append would silently exclude the new rows from
        find_similar_documents; the next create_vector_index rebuilds."""
        self.store.append(KNOWLEDGE_BASE, docs.select("content", "embedding"), user_id=user_id)
        self._ivf_indexes.pop(sanitize_tenant_id(user_id), None)

    # ---- scans (reference query.txt:109-138, database.py:282-314) ----

    def get_conversation_history(self, user_id: str) -> DataFrame:
        """S3/O1: full history, oldest turn first (``_turn_order``)."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        return df.orderBy(*_turn_order(df))

    def get_recent_history(self, user_id: str, k: int = 5) -> DataFrame:
        """W2: last-k turns (reference rag_processor.py:109), re-sorted asc.

        Ordered as ``build_context`` numbers turns (``_turn_order``).
        The tenant is already one partition of the scan, so one ordered
        limit (a single TakeOrderedAndProject job) takes the k newest
        rows and the ascending re-sort runs over those k only."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        return (
            df.orderBy(*_turn_order(df, newest_first=True))
            .limit(k)
            .orderBy(*_turn_order(df))
        )

    def get_all_documents_and_embeddings(self, user_id: str) -> DataFrame:
        """S1/S2: knowledge-base scan; no vector-decode step needed."""
        return self.store.scan(KNOWLEDGE_BASE, user_id=user_id).select("content", "embedding")

    # ---- JSON metadata queries (reference query.txt:141-158, database.py:316-386) ----

    def get_topic_interactions(self, user_id: str, topic: str, limit: int = 5) -> DataFrame:
        """P1/P2+O2: case-insensitive topic match, recency top-k
        (newest turn first, ``_turn_order``)."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        return (
            df.where(json_ops.json_topic_matches("metadata", topic))
            .orderBy(*_turn_order(df, newest_first=True))
            .limit(limit)
        )

    def get_high_quality_interactions(
        self, user_id: str, topic: str, min_overlap: float = 0.7, limit: int = 100
    ) -> DataFrame:
        """P3+O2: compound JSON predicate with cast (reference
        database.py:344-386), newest ``limit`` matches first
        (``_turn_order``)."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        overlap = json_ops.json_get_float("metadata", "effectiveness.term_overlap")
        adherence = json_ops.json_get("metadata", "effectiveness.template_adherence")
        return (
            df.where(
                (json_ops.json_get("metadata", "topic") == topic)
                & ((overlap >= min_overlap) | (adherence == "high"))
            )
            .orderBy(*_turn_order(df, newest_first=True))
            .limit(limit)
        )

    # ---- retrieval (reference query.txt:186-205, rag_processor.py:26-75) ----

    @staticmethod
    def _probe_kb(kb: DataFrame) -> bool:
        """Does the tenant have knowledge-base rows?  One head() job,
        which decides the default-KB fallback."""
        return kb.select("content").head() is not None

    def find_similar_documents(self, user_id: str, query_vec: Sequence[float], k: int = 5) -> DataFrame:
        """J1 server semantics: cosine DISTANCE ASC LIMIT k.  Uses the IVF
        index when built (reference builds ivfflat but never routes queries
        through it — we fix that dead fast-path, SURVEY.md §3.1 step 8).
        Without an index it is :func:`topk.topk_distance` over the scan,
        which picks its kernel from the query's width: no probe job."""
        index = self._ivf_indexes.get(sanitize_tenant_id(user_id))
        if index is not None:
            hits = ivf_ops.ivf_search(index, list(query_vec), k=k, id_col="content", vec_col="embedding")
            return hits.select("content", V.round6(F.lit(1.0) - F.col("similarity")).alias("distance"))
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        return topk.topk_distance(kb, list(query_vec), k=k, id_col="content", embedding_col="embedding")

    def get_relevant_documents(self, user_id: str, query_vec: Sequence[float], k: int = 5) -> DataFrame:
        """J2 client semantics: cosine SIMILARITY DESC top-k, with the
        reference's default-KB fallback (rag_processor.py:125-126).

        Serving is bound by per-job latency, so the path is cut to the
        scan, ONE probe (:meth:`_probe_kb`) and one top-k job:
        :func:`topk.topk_similarity`, which picks its kernel from the
        query's width and finishes with one ordered limit
        (TakeOrderedAndProject) on either kernel."""
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        if not self._probe_kb(kb):
            kb = self.store.scan(KNOWLEDGE_BASE, user_id=DEFAULT_TENANT)
        return topk.topk_similarity(kb, list(query_vec), k=k, id_col="content", embedding_col="embedding")

    def create_vector_index(self, user_id: str, n_lists: int = 8) -> None:
        """X1: the reference's per-request `CREATE INDEX ivfflat` becomes
        an explicit batch KMeans build (reference query.txt:208-226).
        Indexes key on the SANITIZED tenant id — the partition the store
        actually writes — so two raw spellings of one tenant share one
        index and add_documents' invalidation always hits it."""
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        self._ivf_indexes[sanitize_tenant_id(user_id)] = ivf_ops.build_ivf(
            kb, n_lists=n_lists, id_col="content", vec_col="embedding"
        )

    def find_similar_documents_batch(
        self,
        user_id: str,
        queries: DataFrame,
        k: int = 5,
        *,
        nprobe: int = 4,
    ) -> DataFrame:
        """N-query serving in ONE distributed pass: `(query_id,
        query_embedding)` rows in, `(query_id, content, similarity, rank)`
        out.  Routes through the IVF index when built
        (`ivf.ivf_search_batch` — GEMM-default serving, salted two-phase
        top-k), else the brute-force broadcast KNN join (`topk.knn_join`,
        which takes its kernel from the queries' width).  A corpus too
        large to score against every query, with no index, is
        `lsh.srp_topk`'s regime (train-free SRP-bucketed ANN over
        ``store.scan``); at broadcast-scale corpora the brute KNN join
        wins (2.0 s vs LSH's 2.4 s on the 5k-row sf0.1 bench corpus).
        The reference has no batch path at all (one RPC per request,
        `rag_processor.py:45-65`); this is the serving shape its
        workload actually needs."""
        index = self._ivf_indexes.get(sanitize_tenant_id(user_id))
        if index is not None:
            return ivf_ops.ivf_search_batch(
                index, queries, k=k, nprobe=nprobe, id_col="content", vec_col="embedding"
            ).select("query_id", F.col("content"), "similarity", "rank")
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        hits = topk.knn_join(kb, queries, k=k, corpus_id="content", corpus_vec="embedding")
        return hits.select("query_id", F.col("content"), "similarity", "rank")

    # ---- pipeline scalars (reference safety_handler / prompt_selector) ----

    def classify_safety(self, questions: DataFrame, col: str = "question") -> DataFrame:
        """T5: first-match-wins harm classifier + canned routing.  The
        classifier tree is built once per py4j gateway for each ``col``
        (``functions.memo.per_gateway``): a request-sized frame otherwise
        pays more for building the tree than for running it."""
        safety, blocked = _safety_columns(col)
        return questions.withColumn("safety", safety).withColumn("blocked", blocked)

    def analyze_response_effectiveness(
        self, df: DataFrame, *, question_col: str = "question", answer_col: str = "answer",
        template_col: str = "template"
    ) -> DataFrame:
        """A2/A3/T9 (reference prompt_selector.py:302-361).  The four score
        trees are built once per py4j gateway for each set of column names
        (``functions.memo.per_gateway``), as in ``classify_safety``."""
        return df.select("*", *_effectiveness_columns(question_col, answer_col, template_col))

    def build_context(self, user_id: str, max_context_turns: int = 3) -> DataFrame:
        """W1: rolling conversation context (reference
        utilities/text_utils.py:78-120).  interactionID is the STORED
        per-tenant ordinal `add_interaction` assigned at insert time
        (the reference's SERIAL, query.txt:63) — the read path neither
        re-sorts the tenant's full history by multi-KB text columns nor
        renumbers when a later append lands, as a read-time
        row_number would.

        Three warehouse states (the merged-footer scan makes the
        column check DETERMINISTIC — a single-footer read could
        surface or drop the column per call on a mixed warehouse):

        - no ``interaction_id`` column on disk, or no row stamped:
          the pre-r14 deterministic read-time ordinal (full-column
          ordering — a multi-row append stamps ONE current_timestamp,
          so created_at alone ties);
        - every row stamped (or empty): the stored ordinal IS the id
          — sort-free read, stable across appends;
        - mixed: legacy rows all predate the first stamped append
          (append-docstring invariant), so the null-ordinal block
          ranks first under its legacy ordering and stamped rows
          follow in stored order — ids stay stable as appends land,
          no migration rewrite needed.

        The stamped/mixed split costs ONE scalar probe over the
        pruned tenant partition (map-side count, no sort).  The
        read-time ordinal numbers turns in ``_turn_order``."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        stamped = "interaction_id" in df.columns  # False: pure pre-r14 files
        if stamped:
            probe = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("interaction_id").alias("stamped"),
            ).head()
            stamped = probe["stamped"] == probe["n"]
        if stamped:  # fully stamped or empty
            df = df.withColumn(
                "interactionID", F.col("interaction_id").cast("int")
            )
        else:
            from pyspark.sql import Window

            df = df.withColumn(
                "interactionID",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(*_turn_order(df))
                ),
            )
        return windows.rolling_context(
            df,
            partition_by="user_id",
            order_by=["interactionID"],
            render=F.format_string("Q: %s A: %s", F.col("question"), F.col("answer")),
            n_turns=max_context_turns,
        )

    def generate_training_examples(self, user_id: str, topic: str) -> DataFrame:
        """P5: high-quality filter + reshape to (instruction, input,
        output) training rows (reference rag_processor.py:182-238)."""
        hq = self.get_high_quality_interactions(user_id, topic)
        return hq.select(
            F.concat(
                F.lit("You are a helpful assistant. Topic: "),
                F.coalesce(json_ops.json_get("metadata", "topic"), F.lit("general")),
            ).alias("instruction"),
            F.col("question").alias("input"),
            F.col("answer").alias("output"),
        )

    def is_toxic(self, df: DataFrame, col: str = "answer") -> DataFrame:
        """M3: toxicity gate (stub model; real signature identical)."""
        return df.withColumn("toxic", ml_udfs.is_toxic(col))

    def clean_responses(self, df: DataFrame, col: str = "answer") -> DataFrame:
        """T6: the reference cleans every generated /chat response through
        its ~10-pass pipeline (text_generator.py:149-253); staged-column
        spelling (hot-path safe), its stage trees built once per py4j
        gateway for each column name (see ``apply_clean_response``)."""
        from .functions.response_clean import apply_clean_response

        return apply_clean_response(df, col, "cleaned_response")

    def extract_entities(self, df: DataFrame, col: str = "question") -> DataFrame:
        """T4: deterministic NER-stub mentions (reference
        prompt_selector.py:91-97; spaCy twin gated in functions/ner)."""
        from .functions import ner

        return df.withColumn("entities", ner.extract_entities(col))

    def determine_topic(self, df: DataFrame, col: str = "question") -> DataFrame:
        """A1 + T4: entity-boosted topic argmax with the reference's
        dict-order tie-break and default (prompt_selector.py:242-300).  The
        staged score trees are built once per py4j gateway for each column
        name (see ``ner.with_boosted_topic``)."""
        from .functions import ner

        return ner.with_boosted_topic(df, col, topic_col="topic", score_col="topic_score")
