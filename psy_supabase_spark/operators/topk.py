"""Vector top-k retrieval operators.

Covers the reference's two retrieval paths (SURVEY.md §2.3):
- J1 server-side: one query vector vs all rows, ORDER BY cosine distance
  ASC LIMIT k (reference `query.txt:186-205`).
- J2 client-side: NumPy cosine similarity DESC, top_k slice (reference
  `rag_processor.py:26-75`).

Spark-first design: the query vector is a *constant* — no join, just a
projected expression; ``orderBy(...).limit(k)`` plans as
TakeOrderedAndProject (per-partition heap + driver merge of k rows), which
is exactly the scalable top-k: at 100 TB each task keeps a k-row heap and
only k rows per partition cross the wire.  The N-query generalization
broadcasts the (tiny) query side into a crossJoin — a broadcast
nested-loop that scans the corpus once for all queries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


def topk_similarity(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "similarity",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Client-semantics top-k: cosine similarity DESC (ties → id ASC).

    Zero-norm rows rank NULL and are dropped, matching the reference's
    nan-never-selected accident (`rag_processor.py:57-65`).
    """
    sim = V.round6(_query_cosine(embedding_col, query_vec))
    out = (
        df.select(id_col, *extra_cols, sim.alias(score_col))
        .where(F.col(score_col).isNotNull())
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )
    return out


def _query_cosine(embedding_col: str, query_vec: Sequence[float]):
    """cosine(row, literal query) with the query norm folded to a driver
    float: two folds per row (dot + row norm) instead of three.  Python
    and the JVM both use IEEE-754 doubles with the same left-to-right
    accumulation order as F.aggregate, so the result is BIT-identical to
    the inline cosine_similarity spelling (exact-equality tested)."""
    import math

    qn = math.sqrt(sum((float(x) * float(x) for x in query_vec), 0.0))
    q = V.query_vector_lit(query_vec)
    cn = V.l2_norm(embedding_col)
    return F.when((cn == 0.0) | (F.lit(qn) == 0.0), F.lit(None).cast("double")).otherwise(
        V.dot(F.col(embedding_col), q) / (cn * F.lit(qn))
    )


def topk_distance(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "distance",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Server-semantics top-k: cosine distance ASC LIMIT k — pgvector `<=>`
    parity (reference `query.txt:198-201`, which misnames the distance
    column `similarity`; we do not repeat that)."""
    dist = V.round6(F.lit(1.0) - _query_cosine(embedding_col, query_vec))
    return (
        df.select(id_col, *extra_cols, dist.alias(score_col))
        .where(F.col(score_col).isNotNull())
        .orderBy(F.col(score_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    score_col: str = "similarity",
    n_salts: int = 32,
) -> DataFrame:
    """N-to-M brute-force KNN: for every query row, the k nearest corpus
    rows by cosine similarity.

    The query side is broadcast (queries ≪ corpus); the corpus streams
    through once.  Ranking is a TWO-PHASE salted top-k: a single window
    per query_id would shuffle the whole |corpus|×|queries| scored
    relation into |queries| reducers (each sorting ~|corpus| rows — the
    scale-killer).  Instead phase 1 ranks within (query_id, salt) — n_salts
    reducers per query, |corpus|/n_salts rows each — and phase 2 ranks the
    surviving ≤ k·n_salts rows per query.  Both phases order by
    (score DESC, id ASC), so the final ranking is identical to the
    single-window answer: every global top-k row is a top-k row of its own
    salt bucket.  For corpus-to-corpus similarity use the LSH operators
    instead (operators/lsh.py).
    """
    from pyspark.sql import Window

    # norms once per corpus row / per query row (not per pair): scoring
    # costs one fold per pair instead of three.  Identical dot/(na*nb)
    # expression → same doubles as cosine_similarity inline.
    corpus_n = corpus.select(
        corpus_id, corpus_vec, V.l2_norm(corpus_vec).alias("_cn")
    )
    queries_n = queries.select(query_id, query_vec, V.l2_norm(query_vec).alias("_qn"))
    sim = F.when(
        (F.col("_cn") == 0.0) | (F.col("_qn") == 0.0), F.lit(None).cast("double")
    ).otherwise(
        V.round6(
            V.dot(F.col(corpus_vec), F.col(query_vec)) / (F.col("_cn") * F.col("_qn"))
        )
    )
    joined = (
        corpus_n.crossJoin(F.broadcast(queries_n))
        .select(query_id, corpus_id, sim.alias(score_col))
        .where(F.col(score_col).isNotNull())
    )
    order = [F.col(score_col).desc(), F.col(corpus_id).asc()]
    w1 = Window.partitionBy(query_id, "_salt").orderBy(*order)
    partial = (
        joined.withColumn("_salt", F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(n_salts)))
        .withColumn("_pr", F.row_number().over(w1))
        .where(F.col("_pr") <= k)
        .drop("_salt", "_pr")
    )
    w2 = Window.partitionBy(query_id).orderBy(*order)
    return partial.withColumn("rank", F.row_number().over(w2).cast("bigint")).where(F.col("rank") <= k)


def neighbors_above(
    corpus: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "similarity",
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """All-pairs (a<b) with cosine similarity ≥ threshold — exact
    embedding-near-duplicate detection.  O(N²): correct baseline for the
    oracle; the scale path is operators/lsh.py (random-projection bucketing)
    or operators/ivf.py (centroid-blocked join).

    ``max_rows`` is a hard guard so the baseline can NEVER silently become
    a production path: above it (10¹² pair comparisons) the call raises
    and points at the LSH operator.  Pass ``max_rows=None`` only in
    oracle/verification harnesses.

    Norms are precomputed per row (N sqrt+dot instead of N² each) — same
    doubles as inline computation, one third the per-pair flops."""
    if max_rows is not None:
        n = corpus.count()
        if n > max_rows:
            raise ValueError(
                f"neighbors_above is the O(N^2) exact baseline; corpus has "
                f"{n} rows (> max_rows={max_rows}). Use lsh.srp_neardup_pairs "
                f"at scale, or pass max_rows=None in a verification harness."
            )
    withnorm = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), V.l2_norm(vec_col).alias("nrm")
    )
    a = withnorm.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("na"))
    b = withnorm.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nb"))
    sim = F.when((F.col("na") == 0.0) | (F.col("nb") == 0.0), F.lit(None).cast("double")).otherwise(
        V.round6(V.dot(F.col("vec_a"), F.col("vec_b")) / (F.col("na") * F.col("nb")))
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias(score_col))
        .where(F.col(score_col).isNotNull() & (F.col(score_col) >= threshold))
    )


def _single_list_index(corpus: DataFrame, corpus_id: str, corpus_vec: str, dim: int):
    """Every corpus row under ONE synthetic centroid: a full-probe IVF GEMM
    search over it degenerates to exact brute force."""
    from . import ivf as ivf_ops

    assigned = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), F.lit(0).cast("int").alias("centroid_id")
    )
    return ivf_ops.IVFIndex(centers=[[1.0] + [0.0] * (dim - 1)], assigned=assigned)


def topk_similarity_gemm(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    dim: int,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`topk_similarity` through the GEMM kernel — the WIDE-dim
    single-query spelling, same rounding and (similarity DESC, id ASC)
    ranking, ``(id, similarity)`` out.  ``dim`` is the corpus width the
    caller already probed.  The query vector goes straight to the scorer
    from the driver (no query frame), and the finish is one ordered limit
    over the per-batch survivors: TakeOrderedAndProject, one job."""
    from . import ivf as ivf_ops

    hits = ivf_ops.ivf_score_gemm(
        _single_list_index(df, id_col, embedding_col, dim),
        [(0, [float(x) for x in query_vec])],
        k,
        nprobe=1,
        id_col=id_col,
        vec_col=embedding_col,
    )
    return (
        hits.orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "similarity")
    )


def knn_join_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    max_queries: int = 10_000,
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force KNN join with Arrow/GEMM scoring — the WIDE-dim
    twin of :func:`knn_join` (whose per-pair HOF fold is the right trade
    only at narrow dims; at the reference's real width — vector(1536),
    query.txt:84 — the interpreted fold dominates).

    Implemented as a single-list IVF GEMM search with a full probe: all
    corpus rows belong to one synthetic centroid, so
    `ivf.ivf_search_batch_gemm` degenerates to exact brute force (one
    (batch × dim)·(dim × nq) GEMM per Arrow batch + map-side partial
    top-k).  Output matches :func:`knn_join` row-for-row (parity-pinned:
    same rounding, same (similarity DESC, id ASC) ranking).  ``dim`` is
    the corpus width when the caller has already probed it; otherwise
    one head job reads it here."""
    from . import ivf as ivf_ops

    if dim is None:
        head = corpus.select(F.size(corpus_vec).alias("d")).where(
            F.col(corpus_vec).isNotNull()
        ).head()
        if head is None:
            raise ValueError("knn_join_gemm: empty corpus")
        dim = head["d"]
    return ivf_ops.ivf_search_batch_gemm(
        _single_list_index(corpus, corpus_id, corpus_vec, dim),
        queries,
        k,
        nprobe=1,
        query_id=query_id,
        query_vec=query_vec,
        id_col=corpus_id,
        vec_col=corpus_vec,
        max_queries=max_queries,
    )
