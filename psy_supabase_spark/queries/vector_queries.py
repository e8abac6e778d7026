"""Vector retrieval queries (SURVEY.md §2.3 J1/J2, §2.4 A4, extended ANN).

Oracle cosine uses DuckDB ``list_dot_product`` after an explicit
``::DOUBLE[]`` cast so both engines accumulate in float64; scores are
rounded to 6 dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import topk
from ..registry import register
from ..sources.catalog import load_table

TOPK = 5
QUERY_ID = 0  # fixed seeded query vector = embedding of vec_id 0 (FIXTURES.md)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = QUERY_ID) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    return list(row[0])


_COS_SQL = (
    "list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))"
)


@register(
    "vector_topk_similarity",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_ID})
    SELECT e.vec_id, (ROUND({_COS_SQL}, 6) + 0.0) AS similarity
    FROM embeddings e, q
    WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
      AND sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
    ORDER BY similarity DESC, e.vec_id ASC
    LIMIT {TOPK}
    """,
)
def vector_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 client semantics: cosine similarity DESC top-k
    (reference rag_processor.py:26-75)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk.topk_similarity(emb, _query_vec(spark, sf_dir), k=TOPK)


@register(
    "vector_topk_distance",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_ID})
    SELECT e.vec_id, (ROUND(1.0 - {_COS_SQL}, 6) + 0.0) AS distance
    FROM embeddings e, q
    WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
      AND sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
    ORDER BY distance ASC, e.vec_id ASC
    LIMIT {TOPK}
    """,
)
def vector_topk_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 server semantics: pgvector `<=>` cosine distance ASC LIMIT k
    (reference query.txt:186-205)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk.topk_distance(emb, _query_vec(spark, sf_dir), k=TOPK)


@register(
    "knn_join_multi",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id, (ROUND({_COS_SQL}, 6) + 0.0) AS similarity
      FROM embeddings e, q
      WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
        AND sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, similarity, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3
    """,
)
def knn_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-to-M brute-force KNN join: 5 query vectors (vec_id < 5) × corpus,
    top-3 each.  Query side broadcast; corpus streamed once."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding"))
    )
    return topk.knn_join(emb, queries, k=3)


@register(
    "embedding_neardup_exact",
    oracle="""
    WITH sims AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS similarity
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) > 0
        AND sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) > 0
    )
    SELECT id_a, id_b, similarity FROM sims WHERE similarity >= 0.5
    """,
)
def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (sim ≥ 0.5).  O(N²)
    correctness baseline — the scale path is LSH bucketing (operators/lsh)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk.neighbors_above(emb, 0.5)


# GEMM-route fixture: 64 fixed centroids (dim 64) and a 10-query batch —
# far under max_queries, so the public batch entrypoint serves it with the
# Arrow/GEMM kernel.
_GEMM_N_CENTS = 64
_GEMM_N_QUERIES = 10
_GEMM_NPROBE = 8

# SRP-ANN fixture: fixed seeded hyperplanes (the operator's own seed-42
# planes), fixed banding, the same 10-query batch — lsh.srp_topk mirrored
# bit-for-bit in SQL: signature sign bits from literal plane dot-products,
# band-key equi-join, exact cosine over distinct candidates, salted-topk
# rank order.
_SRP_DIM = 64
_SRP_N_PLANES = 24
_SRP_BANDS = 4  # 6 bits/band: a real prune, not an all-pairs fallback


def _srp_sql_ctes() -> str:
    """The srp_topk DuckDB mirror CTEs — planes embedded as literals
    (lsh.hyperplanes is seeded + 6-dp rounded, so both engines see the
    identical floats; a sign flip would need |<v,h>| at float-residual
    scale, never observed on the testdata and asserted in pytest)."""
    from ..operators.lsh import DEFAULT_SEED, hyperplanes

    planes = hyperplanes(_SRP_DIM, _SRP_N_PLANES, DEFAULT_SEED)
    bits = [
        "CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ",".join(repr(x) for x in p)
        + "]::DOUBLE[]) > 0 THEN '1' ELSE '0' END"
        for p in planes
    ]
    rpb = _SRP_N_PLANES // _SRP_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(bits[b * rpb + r] for r in range(rpb))
        + " AS key FROM embeddings"
        for b in range(_SRP_BANDS)
    )
    return f"""
    srp_bands AS ({band_selects}),
    srp_cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
      FROM (SELECT * FROM srp_bands WHERE vec_id < {_GEMM_N_QUERIES}) qb
      JOIN srp_bands cb ON qb.band = cb.band AND qb.key = cb.key
    ),
    srp_scored AS (
      SELECT cd.query_id, e.vec_id, (ROUND({_COS_SQL}, 6) + 0.0) AS similarity
      FROM srp_cand cd
      JOIN embeddings e ON e.vec_id = cd.vec_id
      JOIN (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < {_GEMM_N_QUERIES}) q ON q.query_id = cd.query_id
      WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
        AND sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
    ),
    srp_ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY similarity DESC, vec_id ASC) AS rank
      FROM srp_scored
    )"""


@register(
    "ann_pruned_topk_fixed_centroids",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   WHERE vec_id < {_GEMM_N_CENTS}),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {_GEMM_N_QUERIES}
            AND sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0),
    -- assignment mirrors ivf.assign_to_centroids: argmax over RAW dot
    -- products of the row-normalized vector (per-row norm is constant
    -- inside the argmax, so raw dot DESC is the identical order)
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])
                          DESC NULLS LAST,
                          c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    -- per-query probe selection mirrors the GEMM kernel's lexsort over
    -- (cosine distance, centroid id)
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY 1 - list_dot_product(c.cv::DOUBLE[], q.qv::DOUBLE[]) /
                          (sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])) *
                           sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))
                          ASC NULLS LAST,
                          c.cid ASC
               ) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= {_GEMM_NPROBE}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id, (ROUND({_COS_SQL}, 6) + 0.0) AS similarity
      FROM embeddings e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN probes p ON p.cid = a.cid
      JOIN q ON q.query_id = p.query_id
      WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY similarity DESC, vec_id ASC) AS rank
      FROM scored
    ),
    {_srp_sql_ctes()}
    SELECT 'ivf_gemm' AS method, query_id, vec_id, similarity,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOPK}
    UNION ALL
    SELECT 'srp' AS method, query_id, vec_id, similarity,
           CAST(rank AS BIGINT) AS rank
    FROM srp_ranked WHERE rank <= {TOPK}
    """,
)
def ann_pruned_topk_fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 pruning logic, ORACLE-GATED, served by the GEMM batch kernel:
    IVF with a deterministic centroid set (the 64 vectors vec_id < 64)
    instead of KMeans, a fixed 10-query batch, and the
    PUBLIC entrypoint `ivf.ivf_search_batch`.  A batch within
    ``max_queries`` always lands on `ivf_search_batch_gemm` (only an
    oversized batch takes the expression fallback), so this slot is the
    GEMM serving kernel's hash-green oracle row: it proves
    assign/probe/mask/rank of the Arrow serving kernel value-for-value
    against a recursive SQL mirror.  The KMeans twin (ann_ivf_topk) adds
    learned centroids; the expression fallback and the single-query
    expression path stay pytest-parity-pinned
    (tests/test_gemm_search.py).

    The slot also carries the train-free SRP-bucketed ANN
    (`lsh.srp_topk`) under ``method = 'srp'`` — same
    10 fixed queries, the operator's own seed-42 hyperplanes, fixed
    24-plane/4-band banding, valve off — so BOTH batch-ANN routes
    (trained IVF/GEMM and train-free LSH) are hash-gated end-to-end:
    signatures, band-key candidate join, exact cosine verify, salted
    two-phase rank, each mirrored value-for-value in SQL."""
    from ..operators import ivf as ivf_ops
    from ..operators import lsh as lsh_ops

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        list(r[0])
        for r in emb.where(F.col("vec_id") < _GEMM_N_CENTS)
        .select("embedding")
        .orderBy("vec_id")
        .collect()
    ]
    dim = len(cents[0])
    # the SRP mirror's plane literals are generated for _SRP_DIM — a
    # testdata width change must fail loudly, not hash-mismatch
    assert dim == _SRP_DIM, f"embeddings dim {dim} != SRP fixture {_SRP_DIM}"
    index = ivf_ops.IVFIndex(
        centers=cents, assigned=ivf_ops.assign_to_centroids(emb, cents)
    )
    queries = emb.where(F.col("vec_id") < _GEMM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    ivf_part = (
        ivf_ops.ivf_search_batch(index, queries, k=TOPK, nprobe=_GEMM_NPROBE)
        .select("query_id", "vec_id", "similarity", "rank")
        .withColumn("method", F.lit("ivf_gemm"))
    )
    srp_part = (
        lsh_ops.srp_topk(
            emb,
            queries,
            k=TOPK,
            dim=_SRP_DIM,
            n_planes=_SRP_N_PLANES,
            bands=_SRP_BANDS,
            bucket_cap=None,
        )
        .select("query_id", "vec_id", "similarity", "rank")
        .withColumn("method", F.lit("srp"))
    )
    return ivf_part.unionByName(srp_part).select(
        "method", "query_id", "vec_id", "similarity", "rank"
    )
