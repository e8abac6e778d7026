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
nested-loop that scans the corpus once for all queries.  Each operator
picks its kernel (Catalyst fold or the Arrow/GEMM scorer of
operators/ivf.py) from the width it already has.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V


def topk_similarity(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Client-semantics top-k: cosine similarity DESC (ties → id ASC),
    ``(id, similarity)`` out.

    Zero-norm rows rank NULL and are dropped, matching the reference's
    nan-never-selected accident (`rag_processor.py:57-65`).  The kernel
    follows the query's width (functions/vector.is_wide): the Catalyst
    fold at narrow widths, :func:`_topk_similarity_gemm` at wide ones,
    same rounding and ranking.  A row whose width differs from the query's
    scores on neither kernel."""
    if V.is_wide(len(query_vec)):
        return _topk_similarity_gemm(df, query_vec, k, embedding_col=embedding_col, id_col=id_col)
    sim = V.round6(_query_cosine(embedding_col, query_vec))
    return (
        df.select(id_col, sim.alias("similarity"))
        .where(F.col("similarity").isNotNull())
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _query_cosine(embedding_col: str, query_vec: Sequence[float]):
    """cosine(row, literal query) with the query norm folded to a driver
    float: two folds per row (dot + row norm) instead of three.  Python
    and the JVM both use IEEE-754 doubles with the same left-to-right
    accumulation order as F.aggregate, so the result is BIT-identical to
    the inline cosine_similarity spelling (exact-equality tested)."""
    import math

    qn = math.sqrt(sum((float(x) * float(x) for x in query_vec), 0.0))
    q = V.query_vector_lit(query_vec)
    return V.cosine_from_norms(embedding_col, q, V.l2_norm(embedding_col), F.lit(qn))


def topk_distance(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Server-semantics top-k: cosine distance ASC LIMIT k — pgvector `<=>`
    parity (reference `query.txt:198-201`, which misnames the distance
    column `similarity`; we do not repeat that).  ``(id, distance)`` out;
    a wide query ranks by :func:`_topk_similarity_gemm` and reports
    ``1 - similarity``, rounded as the fold rounds."""
    if V.is_wide(len(query_vec)):
        hits = _topk_similarity_gemm(df, query_vec, k, embedding_col=embedding_col, id_col=id_col)
        return hits.select(id_col, V.round6(F.lit(1.0) - F.col("similarity")).alias("distance"))
    dist = V.round6(F.lit(1.0) - _query_cosine(embedding_col, query_vec))
    return (
        df.select(id_col, dist.alias("distance"))
        .where(F.col("distance").isNotNull())
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
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
) -> DataFrame:
    """N-to-M brute-force KNN: for every query row, the k nearest corpus
    rows by cosine similarity, ``(query_id, id, similarity, rank)`` out.

    The kernel follows the queries' width.  The bounded query batch is
    fetched to the driver (`ivf._collect_query_batch`); when every query
    vector has one width and it is a GEMM width (functions/vector.is_wide),
    the join is a single-list IVF search with a full probe: every corpus
    row belongs to one synthetic centroid, so `ivf.ivf_score_gemm`
    degenerates to exact brute force (one (batch × dim)·(dim × nq) GEMM
    per Arrow batch + map-side partial top-k).  At the reference's real
    width — vector(1536), query.txt:84 — the per-pair fold below is
    interpreted and dominates.  Narrow or mixed widths, no queries, or a
    batch over the fetch bound keep the fold.  Both kernels give the same
    rows (parity-pinned: same rounding, same (similarity DESC, id ASC)
    ranking), and a corpus row of another width scores on neither.

    The fold's query side is broadcast (queries ≪ corpus); the corpus
    streams through once, and ranking is :func:`_salted_topk` with 32
    salts.  For corpus-to-corpus similarity use the LSH operators instead
    (operators/lsh.py)."""
    from . import ivf as ivf_ops

    try:
        qrows = ivf_ops._collect_query_batch(queries, query_id, query_vec, 10_000)
    except ivf_ops.QueryBatchTooLarge:
        qrows = []
    widths = {len(r[1]) for r in qrows if r[1] is not None}
    if len(widths) == 1 and V.is_wide(dim := widths.pop()):
        partial = ivf_ops.ivf_score_gemm(
            _single_list_index(corpus, corpus_id, corpus_vec, dim),
            qrows,
            k,
            nprobe=1,
            query_id=query_id,
            query_id_type=queries.schema[query_id].dataType.simpleString(),
            id_col=corpus_id,
            vec_col=corpus_vec,
        )
        return _rank_per_query(partial, k, query_id, corpus_id)
    # norms once per corpus row / per query row (not per pair): scoring
    # costs one fold per pair instead of three.  Identical dot/(na*nb)
    # expression → same doubles as cosine_similarity inline.
    corpus_n = corpus.select(
        corpus_id, corpus_vec, V.l2_norm(corpus_vec).alias("_cn")
    )
    queries_n = queries.select(query_id, query_vec, V.l2_norm(query_vec).alias("_qn"))
    sim = V.round6(V.cosine_from_norms(corpus_vec, query_vec, F.col("_cn"), F.col("_qn")))
    joined = (
        corpus_n.crossJoin(F.broadcast(queries_n))
        .select(query_id, corpus_id, sim.alias("similarity"))
        .where(F.col("similarity").isNotNull())
    )
    return _salted_topk(joined, k, query_id, corpus_id, 32)


def _salted_topk(
    scored: DataFrame, k: int, query_id: str, id_col: str, n_salts: int
) -> DataFrame:
    """Per-query top-k of a (query_id, id, similarity) frame, ranked by
    :func:`_rank_per_query`.  A single window
    per query_id would shuffle the whole scored relation into |queries|
    reducers, each sorting ~|corpus| rows — the scale-killer.  Instead
    phase 1 ranks within (query_id, salt) — ``n_salts`` reducers per
    query, |corpus|/n_salts rows each — and phase 2 ranks the surviving
    ≤ k·n_salts rows per query.  Every global top-k row is a top-k row of
    its own salt bucket, so the ranking equals the single-window one."""
    order = [F.col("similarity").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(query_id, "_salt").orderBy(*order)
    partial = (
        scored.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        .withColumn("_pr", F.row_number().over(w1))
        .where(F.col("_pr") <= k)
        .drop("_salt", "_pr")
    )
    return _rank_per_query(partial, k, query_id, id_col)


def _rank_per_query(scored: DataFrame, k: int, query_id: str, id_col: str) -> DataFrame:
    """The k best rows of each query in a (query_id, id, similarity) frame
    by (similarity DESC, id ASC), numbered in a bigint ``rank`` column."""
    w = Window.partitionBy(query_id).orderBy(F.col("similarity").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= k
    )


def neighbors_above(
    corpus: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    sim = V.round6(V.cosine_from_norms("vec_a", "vec_b", F.col("na"), F.col("nb")))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("similarity"))
        .where(F.col("similarity").isNotNull() & (F.col("similarity") >= threshold))
    )


def _single_list_index(corpus: DataFrame, corpus_id: str, corpus_vec: str, dim: int):
    """Every corpus row under ONE synthetic centroid: a full-probe IVF GEMM
    search over it degenerates to exact brute force."""
    from . import ivf as ivf_ops

    assigned = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), F.lit(0).cast("int").alias("centroid_id")
    )
    return ivf_ops.IVFIndex(centers=[[1.0] + [0.0] * (dim - 1)], assigned=assigned)


def _topk_similarity_gemm(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    embedding_col: str,
    id_col: str,
) -> DataFrame:
    """:func:`topk_similarity`'s wide kernel, ``(id, similarity)`` out.
    The query vector goes straight to the scorer from the driver: a query
    frame built from a Python list would cost a job of
    ``defaultParallelism`` Python tasks, each with a worker set-up far
    above its work, only to be collected back.  The query's width is the
    index width, so the scorer drops rows of another width.  The finish
    is one ordered limit over the per-batch survivors:
    TakeOrderedAndProject, one job, whose scorer tasks are the only
    Python tasks."""
    from . import ivf as ivf_ops

    hits = ivf_ops.ivf_score_gemm(
        _single_list_index(df, id_col, embedding_col, len(query_vec)),
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
