"""Reference-parity facade.

One method per reference entry point (SURVEY.md §2 operator inventory →
`database.py` / `rag_processor.py` surface), each returning a DataFrame.
A user of the reference can run every query they run today against this
class; under the hood everything is the DataFrame operators of
``psy_supabase_spark.operators``.

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
        reference's SERIAL (query.txt:63, r13 verdict: assign-at-append
        keeps ids stable across later appends and makes the
        build_context read path sort-free).  The one-row turn is a
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
        """S3/O1: full history ordered by created_at."""
        return self.store.scan(INTERACTIONS, user_id=user_id).orderBy("created_at")

    def get_recent_history(self, user_id: str, k: int = 5) -> DataFrame:
        """W2: last-k turns (reference rag_processor.py:109), re-sorted asc.

        Ordered as ``build_context`` numbers turns: the stored
        ``interaction_id`` with legacy (null-ordinal) rows first, then the
        legacy columns.  ``created_at`` alone ties, because a multi-row
        append stamps ONE current_timestamp, so it cannot pick the k-th
        row.  The tenant is already one partition of the scan, so one
        ordered limit (a single TakeOrderedAndProject job) takes the k
        newest rows and the ascending re-sort runs over those k only."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        newest_first = [F.col(c).desc() for c in LEGACY_TURN_ORDER]
        oldest_first = [F.col(c).asc() for c in LEGACY_TURN_ORDER]
        if "interaction_id" in df.columns:
            newest_first.insert(0, F.col("interaction_id").desc_nulls_last())
            oldest_first.insert(0, F.col("interaction_id").asc_nulls_first())
        return df.orderBy(*newest_first).limit(k).orderBy(*oldest_first)

    def get_all_documents_and_embeddings(self, user_id: str) -> DataFrame:
        """S1/S2: knowledge-base scan; no vector-decode step needed."""
        return self.store.scan(KNOWLEDGE_BASE, user_id=user_id).select("content", "embedding")

    # ---- JSON metadata queries (reference query.txt:141-158, database.py:316-386) ----

    def get_topic_interactions(self, user_id: str, topic: str, limit: int = 5) -> DataFrame:
        """P1/P2+O2: case-insensitive topic match, recency top-k."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        return (
            df.where(json_ops.json_topic_matches("metadata", topic))
            .orderBy(F.col("created_at").desc())
            .limit(limit)
        )

    def get_high_quality_interactions(
        self, user_id: str, topic: str, min_overlap: float = 0.7, limit: int = 100
    ) -> DataFrame:
        """P3+O2: compound JSON predicate with cast (reference
        database.py:344-386)."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        overlap = json_ops.json_get_float("metadata", "effectiveness.term_overlap")
        adherence = json_ops.json_get("metadata", "effectiveness.template_adherence")
        return (
            df.where(
                (json_ops.json_get("metadata", "topic") == topic)
                & ((overlap >= min_overlap) | (adherence == "high"))
            )
            .orderBy(F.col("created_at").desc())
            .limit(limit)
        )

    # ---- retrieval (reference query.txt:186-205, rag_processor.py:26-75) ----

    # GEMM crossover: at ≥ this dim the GEMM kernels beat the expression
    # folds by ~40× (SCALE.md §width validation).  ONE constant — the
    # single-query and batch routes must flip kernels together.
    _GEMM_MIN_DIM = 256

    @staticmethod
    def _head_dim(kb: DataFrame) -> int | None:
        """Width of the first NON-NULL stored embedding (None = no non-null
        vectors), at the cost of one head job whose filter may read past
        the first row.  The batch facades probe with it once per batch;
        the single-query path runs it only when :meth:`_probe_kb` finds a
        NULL first vector.  Never inside a registered query plan."""
        head = kb.select(F.size("embedding").alias("d")).where(
            F.col("embedding").isNotNull()
        ).head()
        return None if head is None else int(head["d"])

    @classmethod
    def _probe_kb(cls, kb: DataFrame) -> tuple[bool, int | None]:
        """``(has rows, embedding width)`` from ONE head() of
        ``size(embedding)`` over the scan, unfiltered: no row means an
        empty knowledge base, a non-null width routes the query.  A
        NULL first vector (``size`` gives NULL, or -1 with ANSI mode
        off) falls back to :meth:`_head_dim`."""
        head = kb.select(F.size("embedding").alias("d")).head()
        if head is None:
            return False, None
        d = head["d"]
        if d is None or d < 0:
            return True, cls._head_dim(kb)
        return True, int(d)

    @classmethod
    def _is_wide(cls, dim: int | None) -> bool:
        """The one spelling of the GEMM threshold test, for every route."""
        return dim is not None and dim >= cls._GEMM_MIN_DIM

    def find_similar_documents(self, user_id: str, query_vec: Sequence[float], k: int = 5) -> DataFrame:
        """J1 server semantics: cosine DISTANCE ASC LIMIT k.  Uses the IVF
        index when built (reference builds ivfflat but never routes queries
        through it — we fix that dead fast-path, SURVEY.md §3.1 step 8)."""
        index = self._ivf_indexes.get(sanitize_tenant_id(user_id))
        if index is not None:
            hits = ivf_ops.ivf_search(index, list(query_vec), k=k, id_col="content", vec_col="embedding")
            return hits.select("content", (F.lit(1.0) - F.col("similarity")).alias("distance"))
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        _, dim = self._probe_kb(kb)
        if self._is_wide(dim):
            hits = topk.topk_similarity_gemm(
                kb, query_vec, k, dim=dim, id_col="content", embedding_col="embedding"
            )
            return hits.select(
                "content", (F.lit(1.0) - F.col("similarity")).alias("distance")
            )
        return topk.topk_distance(
            kb, list(query_vec), k=k, id_col="content", embedding_col="embedding"
        ).select("content", "distance")

    def get_relevant_documents(self, user_id: str, query_vec: Sequence[float], k: int = 5) -> DataFrame:
        """J2 client semantics: cosine SIMILARITY DESC top-k, with the
        reference's default-KB fallback (rag_processor.py:125-126).

        Serving is bound by per-job latency, so the path is cut to the
        scan, ONE probe and one top-k job.  The probe answers both "is
        the tenant's KB empty?" and "how wide are its vectors?".  Wide
        KBs hand the query vector to the GEMM scorer straight from the
        driver: a query frame built from a Python list would cost a job
        of ``defaultParallelism`` Python tasks, each with a worker
        set-up far above its work, only to be collected back.  The
        finish is one ordered limit (TakeOrderedAndProject), so the
        scorer's tasks are the request's only Python tasks.  Same
        rounding and (similarity DESC, content ASC) ranking as
        :func:`topk.topk_similarity` on either route (parity pinned in
        tests)."""
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        found, dim = self._probe_kb(kb)
        if not found:
            kb = self.store.scan(KNOWLEDGE_BASE, user_id=DEFAULT_TENANT)
            _, dim = self._probe_kb(kb)
        if self._is_wide(dim):
            return topk.topk_similarity_gemm(
                kb, query_vec, k, dim=dim, id_col="content", embedding_col="embedding"
            )
        return topk.topk_similarity(
            kb, list(query_vec), k=k, id_col="content", embedding_col="embedding"
        ).select("content", "similarity")

    def create_vector_index(self, user_id: str, n_lists: int = 8) -> None:
        """X1: the reference's per-request `CREATE INDEX ivfflat` becomes
        an explicit batch KMeans build (reference query.txt:208-226).
        Indexes key on the SANITIZED tenant id — the partition the store
        actually writes — so two raw spellings of one tenant share one
        index and add_documents' invalidation always hits it (r13
        review)."""
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
        method: str = "auto",
    ) -> DataFrame:
        """N-query serving in ONE distributed pass: `(query_id,
        query_embedding)` rows in, `(query_id, content, similarity, rank)`
        out.  ``method="auto"`` routes through the IVF index when built
        (`ivf.ivf_search_batch` — GEMM-default serving, salted two-phase
        top-k), else the brute-force broadcast KNN join;
        ``method="lsh"`` forces the train-free SRP-bucketed ANN
        (`lsh.srp_topk` — no index build, self-tuned banding, pre-filter
        recall semantics); ``method="lsh_exact_k"`` adds the brute
        completion for queries whose buckets return < k rows
        (`srp_topk(brute_fallback=True)` — exact-k contract at LSH cost
        for the common case).  Regime note (measured at sf0.1): at
        broadcast-scale corpora the plain brute KNN join WINS (2.0 s vs
        LSH's 2.4 s on the 5k-row bench corpus)
        — the LSH methods are for the regime where the corpus is too
        large to score against every query, which is exactly when
        ``method="auto"``'s brute route stops being available; they are
        deliberate opt-ins, not a default.  The reference has no batch path at all
        (one RPC per request, `rag_processor.py:45-65`); this is the
        serving shape its workload actually needs."""
        if method not in ("auto", "lsh", "lsh_exact_k"):
            # loud, not a silent fall-through to a different algorithm
            # with different recall semantics (r13 review)
            raise ValueError(
                f"unknown method {method!r}: expected 'auto', 'lsh', or "
                "'lsh_exact_k'"
            )
        if method in ("lsh", "lsh_exact_k"):
            from .operators import lsh as lsh_ops

            kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
            d = self._head_dim(kb)
            return lsh_ops.srp_topk(
                kb,
                queries,
                k=k,
                id_col="content",
                vec_col="embedding",
                dim=d if d is not None else 64,
                brute_fallback=(method == "lsh_exact_k"),
            ).select("query_id", F.col("content"), "similarity", "rank")
        index = self._ivf_indexes.get(sanitize_tenant_id(user_id))
        if index is not None:
            return ivf_ops.ivf_search_batch(
                index, queries, k=k, nprobe=nprobe, id_col="content", vec_col="embedding"
            ).select("query_id", F.col("content"), "similarity", "rank")
        kb = self.store.scan(KNOWLEDGE_BASE, user_id=user_id)
        # brute route picks the kernel by measured width: the expression
        # KNN's per-pair fold is the narrow-dim winner (no Python
        # boundary); at the reference's real widths (1536/2048) the GEMM
        # twin wins by ~40× (SCALE.md §width validation).
        d = self._head_dim(kb)
        if self._is_wide(d):
            hits = topk.knn_join_gemm(
                kb, queries, k=k, corpus_id="content", corpus_vec="embedding", dim=d
            )
        else:
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
        renumbers when a later append lands (r13 verdict: the old
        read-time row_number did both).

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
        pruned tenant partition (map-side count, no sort)."""
        df = self.store.scan(INTERACTIONS, user_id=user_id)
        order = None
        if "interaction_id" not in df.columns:  # pure pre-r14 files
            order = LEGACY_TURN_ORDER
        else:
            probe = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("interaction_id").alias("stamped"),
            ).head()
            if probe["stamped"] != probe["n"]:
                order = (
                    LEGACY_TURN_ORDER
                    if probe["stamped"] == 0
                    else [
                        F.col("interaction_id").asc_nulls_first(),
                        *LEGACY_TURN_ORDER,
                    ]
                )
        if order is None:  # fully stamped or empty
            df = df.withColumn(
                "interactionID", F.col("interaction_id").cast("int")
            )
        else:
            from pyspark.sql import Window

            df = df.withColumn(
                "interactionID",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(*order)
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

    # ---- corpus-pipeline extensions (no reference counterpart: the
    # engine's north-star training-data surface) -------------------------

    def filter_corpus(self, docs: DataFrame, col: str = "text", **thresholds) -> DataFrame:
        """Gopher/C4 quality gates (functions/quality) — map-side."""
        from .functions.quality import quality_filter

        return quality_filter(docs, col, **thresholds)

    def train_tokenizer(
        self, docs: DataFrame, col: str = "text", *, n_merges: int = 200
    ) -> list[tuple[str, str]]:
        """BPE merge table: distributed word counts, driver merge loop."""
        from .functions import bpe

        return bpe.train_bpe(docs, col, n_merges=n_merges)

    def pack_for_training(
        self,
        docs: DataFrame,
        merges: list[tuple[str, str]],
        *,
        budget: int = 2048,
        col: str = "text",
        group_col: str = "source",
        chunk_tokens: int | None = None,
        overlap: int = 16,
    ) -> DataFrame:
        """Chunks packed into model-token budgets: BPE-exact counts feeding
        the greedy per-group packer (operators/textanalysis).

        ``chunk_tokens`` routes documents through
        `textanalysis.chunk_documents` FIRST (overlapping whitespace
        windows, real chunk_idx), so a document longer than ``budget``
        splits instead of riding through as one over-budget "chunk"
        (r13 review: the default whole-doc path emits an oversized
        sequence per pack_sequences' oversized-chunk rule — fine when
        the caller pre-chunked, a trap otherwise).  Pick
        ``chunk_tokens`` comfortably below ``budget`` — BPE counts run
        ABOVE whitespace counts (subword splits), so budget//2 is a
        safe default choice.  The default ``None`` keeps the
        caller-pre-chunked contract."""
        from .functions import bpe
        from .operators.textanalysis import chunk_documents, pack_sequences

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

    def dedup_stream_filter(self, index_path: str, sink=None, **kw):
        """Streaming near-dup admission filter bound to this engine's
        Spark session (streaming/neardup)."""
        from .streaming.neardup import StreamingNearDupFilter

        return StreamingNearDupFilter(self.spark, index_path, sink, **kw)

    def decontaminate(
        self, docs: DataFrame, benchmark: DataFrame, *, n: int = 8, **kw
    ) -> DataFrame:
        """Drop docs sharing any verbatim token n-gram with an eval set
        (operators/decontam — map-side corpus explode, broadcast
        benchmark grams)."""
        from .operators.decontam import decontaminate

        return decontaminate(docs, benchmark, n, **kw)

    def redact_pii(self, df: DataFrame, col: str = "text") -> DataFrame:
        """Replace PII (email/ipv4/ssn/phone) with typed placeholders and
        append per-family counts (functions/pii — pure codegen chain)."""
        from .functions.pii import PII_PATTERNS, pii_counts, redact_pii

        counts = pii_counts(col)
        # counts first (they audit the ORIGINAL text), redaction second
        return df.withColumns(
            {f"n_pii_{name}": counts[name] for name, _p, _t in PII_PATTERNS}
        ).withColumn(col, redact_pii(col))

    def export_training_jsonl(
        self,
        df: DataFrame,
        path: str,
        *,
        num_shards: int | None = None,
        max_records_per_file: int | None = 100_000,
    ) -> None:
        """Trainer-facing JSONL export (sources/jsonl): gzipped bounded
        shards, null fields kept so every record carries the schema."""
        from .sources.jsonl import write_jsonl

        write_jsonl(
            df, path, num_shards=num_shards, max_records_per_file=max_records_per_file
        )

    def semantic_dedup(
        self,
        embedded_docs: DataFrame,
        eps: float = 0.95,
        *,
        n_clusters: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        **kw,
    ) -> DataFrame:
        """Remove semantic duplicates in embedding space (operators/
        semdedup — SemDeDup, Abbas 2023: k-means clusters, within-cluster
        cosine, keep the cluster-edge member per duplicate group)."""
        from .operators.semdedup import semdedup

        return semdedup(
            embedded_docs, eps, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col, **kw
        )

    def soft_dedup_weights(self, docs: DataFrame, pairs: DataFrame, **kw) -> DataFrame:
        """Append 1/|duplicate-component| sample weights instead of
        dropping copies (operators/dedup.duplicate_weights)."""
        from .operators.dedup import duplicate_weights

        return duplicate_weights(docs, pairs, **kw)

    def excise_duplicate_spans(self, docs: DataFrame, length: int = 50, **kw) -> DataFrame:
        """Cut duplicated ≥length-token spans out of every document,
        keeping one copy corpus-wide (operators/substr — Lee 2021's
        ExactSubstr as a data-parallel window identity)."""
        from .operators.substr import excise_duplicate_spans

        return excise_duplicate_spans(docs, length, **kw)

    def extract_html(self, df: DataFrame, col: str = "text") -> DataFrame:
        """Replace an HTML column with its extracted text (functions/html
        — the WET-style regex chain; wire a trafilatura-class extractor
        via mapInPandas for production main-content detection)."""
        from .functions.html import html_to_text

        return df.withColumn(col, html_to_text(col))

    def corpus_report(self, docs: DataFrame, **kw) -> DataFrame:
        """Per-(lang, source) ROLLUP of doc/token counts, length stats,
        mean quality, and gate pass rates (operators/textanalysis) —
        the after-every-carve audit dashboard."""
        from .operators.textanalysis import corpus_report

        return corpus_report(docs, **kw)

    def train_quality_model(self, labeled: DataFrame, **kw):
        """Fit the learned quality classifier (operators/quality_clf —
        hashed-token logistic regression, distributed L-BFGS).  Bootstrap
        labels with quality_clf.weak_labels_from_gates when no curated
        reference set exists."""
        from .operators.quality_clf import train_quality_classifier

        return train_quality_classifier(labeled, **kw)

    def score_quality(self, docs: DataFrame, model, **kw) -> DataFrame:
        """Append P(quality) from a trained model — one map-side pass of
        the broadcast weight vector (stream-admissible)."""
        from .operators.quality_clf import score_quality

        return score_quality(docs, model, **kw)

    def score_fluency(
        self,
        docs: DataFrame,
        *,
        train_on: DataFrame | None = None,
        vocab_cap: int | None = 1_000_000,
        bigram_cap: int | None = 10_000_000,
    ) -> DataFrame:
        """Per-doc LM fluency: bigram Stupid-Backoff avg log-prob +
        perplexity (operators/lm — the CCNet quality-filter stage).
        ``train_on`` defaults to the scored corpus itself; pass a clean
        reference corpus (CCNet uses Wikipedia) when you have one.  Caps
        default ON so the model broadcasts at scale."""
        from .operators import lm

        model = lm.train_bigram_lm(
            train_on if train_on is not None else docs,
            vocab_cap=vocab_cap,
            bigram_cap=bigram_cap,
        )
        return docs.join(lm.score_documents(docs, model), "doc_id", "left")

    def export_training_shards(
        self, df: DataFrame, path: str, n_shards: int, **kw
    ) -> DataFrame:
        """Deterministic globally-shuffled near-equal shards for the
        trainer (sources/shards); returns the per-shard audit frame."""
        from .sources.shards import write_training_shards

        return write_training_shards(df, path, n_shards, **kw)

    def dedup_lines(self, docs: DataFrame, **kw) -> DataFrame:
        """Corpus-level duplicate-line removal (operators/dedup.dedup_lines
        — the boilerplate stage; first occurrence wins, docs reassemble
        in order)."""
        from .operators.dedup import dedup_lines

        return dedup_lines(docs, **kw)

    def filter_blocked_urls(
        self, docs: DataFrame, blocklist: list[str], **kw
    ) -> DataFrame:
        """Drop (or flag, via keep_flag=) docs whose URLs hit a domain
        blocklist (functions/url — suffix-aware, map-side)."""
        from .functions.url import blocklist_filter

        return blocklist_filter(docs, blocklist, **kw)

    def ingest_warc(self, path: str, *, streaming: bool = False, **kw) -> DataFrame:
        """Common Crawl WARC shards → record rows (sources/warc: one task
        per shard, O(record head) memory, HTTP split + optional wire
        decoding via decode_http_body=).  ``streaming=True`` returns the
        readStream twin for live crawl directories."""
        from .sources.warc import read_warc, read_warc_stream

        fn = read_warc_stream if streaming else read_warc
        return fn(self.spark, path, **kw)

    def ingest_wet(self, path: str, *, streaming: bool = False, **kw) -> DataFrame:
        """Common Crawl WET shards → extracted-text rows (skips the
        html_to_text stage; truncation ends on a clean codepoint)."""
        from .sources.warc import read_wet, read_wet_stream

        fn = read_wet_stream if streaming else read_wet
        return fn(self.spark, path, **kw)

    def ingest_wat(self, path: str, **kw) -> DataFrame:
        """Common Crawl WAT shards → JSON-envelope metadata rows; compose
        with sources.warc.wat_links for the outlink edge list."""
        from .sources.warc import read_wat

        return read_wat(self.spark, path, **kw)

    def media_metadata(self, blobs: DataFrame, **kw) -> DataFrame:
        """Typed container metadata over a mixed-modality binary column
        (operators/multimodal.extract_media_meta): image/video dims,
        audio sample-rate/channels/bits/bitrate — header parsing only,
        no codec.  groupBy(kind, format) on the result is the corpus
        inventory."""
        from .operators.multimodal import extract_media_meta

        return extract_media_meta(blobs, **kw)

    def outlinks(self, path: str, **kw) -> DataFrame:
        """WAT shards → the (target_uri, link_url) outlink edge list
        (sources.warc.wat_links over ingest_wat — JVM JSON path, no
        Python)."""
        from .sources.warc import read_wat, wat_links

        return wat_links(read_wat(self.spark, path, **kw))

    def link_graph_stats(self, links: DataFrame) -> DataFrame:
        """Per-page outlink rollup over an edge list (out-degree,
        intra/inter-host split, intra ratio) — operators/linkgraph; the
        first crawl-quality pass on `outlinks` output.  Degree skew on
        host keys is zipfian at crawl scale; see the module docstring
        for the salting argument."""
        from .operators.linkgraph import page_link_stats

        return page_link_stats(links)

    def top_linked_hosts(self, links: DataFrame, k: int = 20) -> DataFrame:
        """The k most-linked-to hosts off an edge list (exact groupBy +
        TakeOrdered; swap in operators.heavyhitters for sketched top-k
        when distinct hosts outgrow the exact shuffle)."""
        from .operators.linkgraph import top_linked_hosts

        return top_linked_hosts(links, k)

    def index_crawl(self, path: str, **kw) -> DataFrame:
        """WARC shards → record-level (filename, offset, length) index
        with header metadata (sources/cdx.index_warc_members) — build
        once, then filter + fetch_crawl_records instead of re-scanning
        shards."""
        from .sources.cdx import index_warc_members

        return index_warc_members(self.spark, path, **kw)

    def read_crawl_index(self, path: str, **kw) -> DataFrame:
        """Published CDXJ index lines → typed index rows
        (sources/cdx.read_cdx)."""
        from .sources.cdx import read_cdx

        return read_cdx(self.spark, path, **kw)

    def fetch_crawl_records(self, index: DataFrame, **kw) -> DataFrame:
        """Range-read exactly the records a filtered index selects —
        one gzip member per hit through the production WARC parser
        (sources/cdx.fetch_records); a 1% filter pulls N records, not
        N shards."""
        from .sources.cdx import fetch_records

        return fetch_records(index, **kw)

    def rank_hosts(self, links: DataFrame, **kw) -> DataFrame:
        """Host-level PageRank over an outlink edge list — the
        crawl-quality / frontier-priority signal (Common Crawl publishes
        exactly this per host).  Compose: `outlinks` → `with_hosts`
        host extraction → fixed-iteration power method
        (operators/linkgraph.host_pagerank; per-iteration shuffle is
        rank-frame-sized, dangling mass folded, DECIMAL-deterministic).
        kwargs: iterations=4, damping=0.85."""
        from .operators.linkgraph import host_pagerank, with_hosts

        return host_pagerank(with_hosts(links), **kw)

    def build_seen_filter(
        self, df: DataFrame, col: str, *, expected: int | None = None,
        fp_rate: float = 0.01,
    ) -> tuple[list[int], int, int]:
        """Build a portable Bloom filter over a key column (the
        'previous crawl' side of incremental ingest) — returns
        (words, m_bits, k) sized for the target fp rate
        (operators/bloom; the build shuffle is bitmap-bounded).
        `expected` defaults to a count of the frame."""
        from .operators import bloom as BL

        n = df.count() if expected is None else expected
        m_bits, k = BL.bloom_params(max(n, 1), fp_rate)
        return BL.bloom_build(df, col, m_bits, k), m_bits, k

    def filter_unseen(
        self, df: DataFrame, col: str, seen: tuple[list[int], int, int]
    ) -> DataFrame:
        """Keep only rows whose key a `build_seen_filter` filter has NOT
        seen — definitely-new rows, no join, map-side only (a false
        positive drops a new row at the filter's priced fp rate)."""
        from .operators import bloom as BL

        words, m_bits, k = seen
        return BL.filter_unseen(df, col, words, m_bits, k)

    def decode_crawl_text(self, records: DataFrame, **kw) -> DataFrame:
        """WARC response records → UTF-8 text: sniff the charset
        (BOM > HTTP Content-Type header > HTML meta, all JVM-side) and
        decode split-path — the UTF-8 majority stays in codegen, only
        the non-UTF-8 minority rides the Arrow codec leg
        (functions/charset; `ingest_warc` output plugs in directly)."""
        from pyspark.sql import functions as F

        from .functions import charset as CS

        sniffed = records.withColumn(
            "charset",
            CS.sniff_charset(
                F.concat(
                    F.lit("content-type: "),
                    F.coalesce(F.col("http_content_type"), F.lit("")),
                ),
                CS.latin1_view("payload"),
            ),
        )
        return CS.decode_text(sniffed, **kw)

    def new_captures(
        self, index: DataFrame, seen: tuple[list[int], int, int],
        *, key_col: str = "digest",
    ) -> DataFrame:
        """Cross-SNAPSHOT incremental ingest: keep only index rows whose
        payload digest no previous crawl's filter has seen — build the
        filter once per snapshot over its digest column
        (`build_seen_filter`, merge snapshots with
        `operators.bloom.bloom_merge`), then each new crawl's index
        anti-filters map-side BEFORE any payload byte is fetched.
        Composes with `dedupe_captures` (within-snapshot revisit
        collapse) and `fetch_crawl_records` (fetch only what survived):
        the full story is filter → dedupe → fetch, touching new-content
        bytes only."""
        from .operators import bloom as BL

        words, m_bits, k = seen
        return BL.filter_unseen(index, key_col, words, m_bits, k)

    def robots_policy(self, path: str, **kw) -> DataFrame:
        """robots.txt captures (their own WARC subset in a Common Crawl
        snapshot) → the per-host rule table: read the shards, keep the
        /robots.txt responses, decode bodies, parse directives into
        (host, group, agents, directive, path) via the declarative
        parser (operators/robots).

        HTTP wire codings are decoded by DEFAULT (r13 review): a
        robots.txt served with ``Content-Encoding: gzip`` would
        otherwise parse as byte noise → zero rules → the RFC's
        allowed-by-default posture, i.e. a silent politeness violation
        on every path the host disallowed."""
        from pyspark.sql import functions as F

        from .operators.robots import robots_rules
        from .sources.warc import read_warc

        kw.setdefault("decode_http_body", True)
        recs = read_warc(self.spark, path, **kw).where(
            F.col("target_uri").endswith("/robots.txt")
            & (F.col("http_status") == 200)
        )
        src = recs.select(
            F.lower(F.parse_url("target_uri", F.lit("HOST"))).alias("host"),
            F.decode(F.col("payload").cast("binary"), "ISO-8859-1").alias(
                "robots_txt"
            ),
        )
        return robots_rules(src)

    def frontier_allowed(
        self, urls: DataFrame, rules: DataFrame, *, agent: str,
        url_col: str = "url", host_out: str | None = None,
    ) -> DataFrame:
        """Frontier filtering: annotate a URL frame with the robots
        verdict for `agent` (host/path split JVM-side, longest-match
        decision map-side against the broadcast rule table); compose
        with `filter_unseen` and `new_captures` for the full
        politeness + novelty frontier pass.

        Rules match against PATH + '?' + QUERY (REP/Google semantics —
        'Disallow: /*?sessionid=' must fire on query-bearing URLs, r11
        ADVICE); a bare-host URL's empty path normalizes to '/' (REP:
        the homepage of a 'Disallow: /' host is blocked — parse_url
        returns '' there, NOT null, so a coalesce alone misses it);
        temp columns are collision-safe so a pre-existing host/path
        column on the input rides through untouched.  ``host_out``
        keeps the derived lowercase host under that name instead of
        dropping it (callers that need the host again — the
        plan_crawl_round scheduler — avoid a second parse_url pass)."""
        from pyspark.sql import functions as F

        from .operators.robots import robots_allowed

        q = F.parse_url(F.col(url_col), F.lit("QUERY"))
        path = F.parse_url(F.col(url_col), F.lit("PATH"))
        path = F.when(
            path.isNull() | (path == ""), F.lit("/")
        ).otherwise(path)
        target = F.concat(
            path,
            F.when(q.isNotNull(), F.concat(F.lit("?"), q)).otherwise(
                F.lit("")
            ),
        )
        parts = urls.withColumn(
            "_fa_host", F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
        ).withColumn("_fa_path", target)
        out = robots_allowed(
            rules, parts, agent=agent,
            host_col="_fa_host", path_col="_fa_path",
        )
        if host_out is not None:
            return out.withColumnRenamed("_fa_host", host_out).drop(
                "_fa_path"
            )
        return out.drop("_fa_host", "_fa_path")

    @staticmethod
    def _hll_tag_card(
        frame: DataFrame,
        keys: tuple[str, ...],
        tag_structs: list,
        b: int,
    ) -> list:
        """One-pass tagged HLL card shared by both `snapshot_stats`
        branches: explode each row into its (keys…, tag, value) facets,
        build ONE tag-grouped register set, estimate in-engine, and
        collect the finished (keys…, tag, estimate) rows — the only
        thing that leaves the cluster.  Register shuffle is bounded by
        n_groups × n_tags × 2^b whatever the input size."""
        from pyspark.sql import functions as F

        from .operators import hll as HL

        tagged = frame.select(
            *keys,
            F.explode(F.array(*tag_structs)).alias("_tv"),
        ).select(
            *keys, F.col("_tv.t").alias("_tag"), F.col("_tv.v").alias("_v")
        )
        return HL.hll_estimates(
            HL.hll_registers(tagged, "_v", b=b, by=(*keys, "_tag")),
            by=(*keys, "_tag"),
            b=b,
        ).collect()

    def snapshot_stats(
        self, index: DataFrame, *, b: int = 12,
        cols: tuple[str, ...] = ("url", "digest"),
        by: tuple[str, ...] | None = None,
    ) -> dict[str, float] | DataFrame:
        """Approximate distinct counts over a crawl snapshot's index —
        one portable-HLL sketch per column (`operators/hll`: register-
        bounded shuffles, ≤2^b rows each, error ~1.04/sqrt(2^b)) plus
        a host sketch derived from the url column.  The per-snapshot
        cardinality card (distinct pages / payloads / hosts) every
        crawl-ops dashboard starts with, without a single exact
        count(distinct) shuffle.

        ``by`` (r12 verdict: per-group cards) switches to GROUPED
        sketches and returns a small DataFrame of one row per group
        with an ``approx_distinct_{col}`` column per sketched column.
        Each ``by`` entry is an index column name or a derived key:
        ``"host"`` (lower-cased URL host) / ``"day"`` (the CDX
        timestamp's yyyyMMdd prefix).  Estimation runs IN-ENGINE
        (`operators.hll.hll_estimates` — exact DECIMAL register sum,
        one double op per group, registers never leave the cluster);
        only the finished per-group estimates collect, ONE row per
        group per sketched column — so the driver bound is the group
        count itself (days and TLDs trivially, a million hosts is
        ~24 MB of rows; beyond that use `hll_estimates` directly and
        keep the result frame distributed).

        BOTH cards are ONE pass over the index (r13 verdict: the old
        spelling scanned once per sketched column plus once for the
        group universe): every sketched column unpivots to a tagged
        (by…, col_tag, value) row — the grouped card adds a per-row
        SENTINEL tag so a group whose every sketched value is null
        still appears with 0.0 — and a single tag-grouped register
        build + in-engine estimate serves all columns (and the group
        universe) from one job, no persist needed.  Register shuffle
        stays sketch-bounded (≤ n_groups × (n_cols+1) × 2^b rows).
        Both branches share `_hll_tag_card` (one tagging scheme to
        maintain — r14 review) and differ only in key columns and the
        sentinel."""
        from pyspark.sql import functions as F

        def tag_struct(tag: str, value):
            return F.struct(
                F.lit(tag).alias("t"), value.cast("string").alias("v")
            )

        derived_host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
        if by is None:
            # same one-pass tagged build as the grouped card below (no
            # persist: the index is read once, full stop — r14, the
            # r13 verdict's grouped-card fix applied to the scalar card
            # too).  Estimation is in-engine per tag (hll_estimates —
            # identical registers, so the estimate matches the old
            # driver-side float math to float-ulp level).
            # the URL-derived host OWNS the 'host' tag whenever a url
            # column exists (the pre-r14 card's semantics: the derived
            # sketch overwrote a same-named column's) — tagging both
            # under 'host' would estimate the UNION of the two value
            # sets, matching neither (r14 review)
            derive_host = "url" in index.columns
            expected = [
                c
                for c in cols
                if c in index.columns and not (c == "host" and derive_host)
            ]
            tag_structs = [tag_struct(c, F.col(c)) for c in expected]
            if derive_host:
                tag_structs.append(tag_struct("host", derived_host))
                expected.append("host")
            if not tag_structs:
                return {}
            got = {
                r[0]: r[1]
                for r in self._hll_tag_card(index, (), tag_structs, b)
            }
            # an all-null column sketches EMPTY (no register rows) and
            # cards as 0.0, the empty-sketch posture — never missing
            return {f"approx_distinct_{c}": got.get(c, 0.0) for c in expected}
        keys = []
        for k in by:
            if k in index.columns:
                keys.append(F.col(k))
            elif k == "host" and "url" in index.columns:
                keys.append(derived_host.alias("host"))
            elif k == "day" and "timestamp" in index.columns:
                keys.append(
                    F.substring("timestamp", 1, 8).alias("day")
                )
            else:
                raise ValueError(
                    f"unknown grouping key {k!r}: not an index "
                    "column and not a derivable 'host'/'day'"
                )
        # a by-key is never also sketched: "distinct keys per that
        # same key" is identically 1, and the duplicate column
        # name would make every downstream reference ambiguous
        sketch_cols = [
            c for c in cols if c in index.columns and c not in by
        ]
        base = index.select(*keys, *[F.col(c) for c in sketch_cols])
        nk = len(by)
        # unpivot + sentinel: one tagged row per (input row, sketched
        # col) + one sentinel row per input row.  The sentinel carries
        # a constant non-null value, so EVERY group owns at least one
        # register row and the group universe rides the same job (r13
        # review kept: an all-null-sketch group must card as 0.0, not
        # vanish).  String-typed sketch values by construction (CDX
        # index columns); the tag value never collides with a column
        # name (\\x00 is not a legal identifier byte).
        _GROUPS = "\x00groups"
        est_rows = self._hll_tag_card(
            base,
            tuple(by),
            [tag_struct(_GROUPS, F.lit(""))]
            + [tag_struct(c, F.col(c)) for c in sketch_cols],
            b,
        )
        ests: dict[str, dict] = {c: {} for c in sketch_cols}
        groups = set()
        for r in est_rows:
            g = r[0] if nk == 1 else tuple(r[:nk])
            tag = r[nk]
            if tag == _GROUPS:
                groups.add(g)
            else:
                ests[tag][g] = r[nk + 1]
        # null-safe deterministic ordering (unparsable-URL hosts are a
        # null group like any other)
        all_keys = sorted(
            groups,
            key=lambda g: tuple(
                (x is None, x)
                for x in (g if isinstance(g, tuple) else (g,))
            ),
        )
        # a group with NO non-null keys in one sketched column
        # estimates 0.0 (the empty-sketch posture), never null
        rows = [
            tuple([g] if len(by) == 1 else list(g))
            + tuple(ests[c].get(g, 0.0) for c in sketch_cols)
            for g in all_keys
        ]
        # explicit schema (key types from the projection itself):
        # names-only inference crashes on an EMPTY index or an
        # all-null key column — both realistic operational inputs
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField(k, base.schema[i].dataType, True)
                for i, k in enumerate(by)
            ]
            + [
                T.StructField(
                    f"approx_distinct_{c}", T.DoubleType(), True
                )
                for c in sketch_cols
            ]
        )
        return local_frame(self.spark, rows, schema)

    def plan_crawl_round(
        self,
        index: DataFrame,
        rules: DataFrame,
        seen: tuple[list[int], int, int] | None = None,
        *,
        agent: str,
        delays: DataFrame | None = None,
        default_delay: float = 1.0,
        max_per_host: int | None = None,
        url_col: str = "url",
        dedup_canonical: bool = False,
    ) -> DataFrame:
        """ONE incremental crawl round, end-to-end — the composition a
        crawler actually runs each cycle (every leg is individually
        oracle-gated; this facade is the user-facing chaining):

        1. `cdx.dedupe_captures` — collapse within-snapshot revisits
           (same payload digest → earliest capture wins);
        2. `bloom.filter_unseen` — drop payloads any PREVIOUS crawl's
           filter has seen (``seen`` = (words, m_bits, k), merge
           snapshots with `bloom_merge`; None skips the leg);
        3. (``dedup_canonical=True``) collapse URLs that share a
           `canonical_url_key` — the same page under session ids /
           tracking params / www-vs-bare schedules ONCE (smallest raw
           URL wins; remaining columns break full-row ties, so the
           winner is deterministic even when one raw URL survives
           dedupe with several digests/timestamps).  Spelled as
           ``groupBy(key).agg(min_by(struct(*cols), ordering))`` — an
           aggregation partial-combines map-side, so a monster alias
           group (one page under millions of session ids) never sorts
           its full depth through a single window task (r12 verdict:
           the old ``row_number`` window re-introduced exactly the
           skew shape `precap_frontier` fixed for hosts);
        4. `frontier_allowed` — robots verdict for ``agent`` against
           the parsed rule table (`robots_policy` output), rows the
           policy forbids dropped;
        5. `schedule_frontier` — politeness pacing: per-host
           ``fetch_slot``/``fetch_offset_sec`` off the published crawl
           delays (`robots_crawl_delays` output via ``delays``;
           ``default_delay`` where a host published none), deep hosts
           bounded by ``max_per_host`` (pre-capped before the slot
           window, so a monster host never serializes one task).

        Returns the paced fetch list: the surviving index rows +
        ``fetch_slot`` + ``fetch_offset_sec``.  Feed it to
        `fetch_crawl_records` slot-batch by slot-batch."""
        from pyspark.sql import functions as F

        from .functions.url import canonical_url_key
        from .operators import bloom as BL
        from .operators.robots import schedule_frontier
        from .sources.cdx import dedupe_captures

        idx = dedupe_captures(index)
        if seen is not None:
            words, m_bits, k = seen
            idx = BL.filter_unseen(idx, "digest", words, m_bits, k)
        if dedup_canonical:
            # min_by over a groupBy, NOT a row_number window: partial
            # aggregation bounds every partition's state regardless of
            # how deep one canonical group runs.  The ordering struct
            # leads with the raw URL (contract: smallest wins) and
            # carries every remaining column as tie-breaker — CDX index
            # columns are orderable scalars — so the surviving row is
            # deterministic under any partitioning or retry.
            cols = idx.columns
            order = F.struct(
                F.col(url_col), *[F.col(c) for c in cols if c != url_col]
            )
            # NULL urls pass through un-collapsed (r13 review): a null
            # canonical key is absence of evidence, not one shared
            # identity — grouping them would silently discard all but
            # one of N distinct (offset-fetchable) captures.
            # canonical_url_key itself never nulls a NON-null url (it
            # falls back to lower(url) for unparsable ones).  Spelled
            # as ONE pass — a two-branch where/union would re-execute
            # the whole upstream (dedupe_captures window + bloom probe)
            # once per branch — over a TWO-column group key: non-null
            # urls carry (_ck=canonical key, _nu=null) and group by the
            # key; null-url rows carry (_ck=null, _nu=their full row
            # STRUCT), so only byte-identical null-url rows collapse
            # (the no-op case).  The struct IS the identity — no
            # delimiter-joined strings, so no separator/sentinel
            # ambiguity and no hash-collision window (r13 ADVICE: the
            # old concat_ws surrogate could alias two distinct rows
            # whose values contained the \\x00 separator).
            row_struct = F.struct(*[F.col(c) for c in cols])
            ck = F.when(
                F.col(url_col).isNotNull(),
                canonical_url_key(F.col(url_col)),
            )
            nu = F.when(F.col(url_col).isNull(), row_struct)
            idx = (
                idx.groupBy(ck.alias("_ck"), nu.alias("_nu"))
                .agg(F.min_by(row_struct, order).alias("_row"))
                .select("_row.*")
            )
        hosted = (
            self.frontier_allowed(
                idx, rules, agent=agent, url_col=url_col,
                host_out="_cr_host",
            )
            .where(F.col("allowed"))
            .drop("allowed")
        )
        if delays is None:
            delays = local_frame(self.spark, [], "host string, crawl_delay double")
        return schedule_frontier(
            hosted,
            delays,
            host_col="_cr_host",
            url_col=url_col,
            default_delay=default_delay,
            max_per_host=max_per_host,
        ).drop("_cr_host")
