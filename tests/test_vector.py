"""Vector math + top-k semantics, including the reference's traps:
distance-vs-similarity orderings agree on ranking (SURVEY.md §2.3) and
zero-norm vectors never enter a top-k."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from psy_supabase_spark.functions import vector as V
from psy_supabase_spark.operators import topk


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [1.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0]),  # zero-norm
        (5, [2.0, 0.0, 0.0]),  # colinear with 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_identities(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "e array<double>")
    out = df.select(
        V.dot("e", "e").alias("dd"),
        V.l2_norm("e").alias("n"),
        V.cosine_similarity("e", "e").alias("self_sim"),
        V.cosine_distance("e", "e").alias("self_dist"),
    ).head()
    assert out.dd == 25.0
    assert out.n == 5.0
    assert math.isclose(out.self_sim, 1.0)
    assert math.isclose(out.self_dist, 0.0, abs_tol=1e-12)


def test_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])], "a array<double>, b array<double>")
    row = df.select(V.cosine_similarity("a", "b").alias("s")).head()
    assert row.s is None


def test_topk_similarity_vs_distance_same_ranking(vecs):
    q = [1.0, 0.0, 0.0]
    sim = [r.vec_id for r in topk.topk_similarity(vecs, q, k=3).collect()]
    dist = [r.vec_id for r in topk.topk_distance(vecs, q, k=3).collect()]
    assert sim == dist  # same ranking, opposite score direction
    assert sim[0] in (0, 5) and set(sim[:2]) == {0, 5}  # colinear ties first
    assert sim == [0, 5, 2]  # tie broken by id


def test_zero_vector_never_selected(vecs):
    out = topk.topk_similarity(vecs, [1.0, 1.0, 1.0], k=6).collect()
    assert all(r.vec_id != 4 for r in out)


def test_knn_join(vecs):
    queries = vecs.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out = topk.knn_join(vecs, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert by_q[0] == [0, 5]
    assert by_q[1][0] == 1


def test_neighbors_above(vecs):
    pairs = {(r.id_a, r.id_b) for r in topk.neighbors_above(vecs, 0.99, id_col="vec_id").collect()}
    assert (0, 5) in pairs
    assert all(a < b for a, b in pairs)


def test_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],), ([0.0, 0.0],)], "e array<double>")
    rows = df.select(V.normalize("e").alias("u")).collect()
    assert rows[0].u == [0.6, 0.8]
    assert rows[1].u is None


def test_neighbors_above_guards_against_production_use(spark):
    from psy_supabase_spark.operators import topk

    big = spark.range(0, 100).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="O\\(N\\^2\\)"):
        topk.neighbors_above(big, 0.5, max_rows=50)
    # harness escape hatch still works
    out = topk.neighbors_above(big.limit(3), 0.99, max_rows=None)
    assert out.count() == 3  # all identical unit vectors pair up


def test_query_cosine_bit_identical_to_inline(spark):
    # the driver-float query-norm spelling must equal the inline
    # three-fold cosine EXACTLY (same IEEE-754 ops, same order) — exact
    # doubles, no tolerance, over the whole corpus including any
    # degenerate rows
    from psy_supabase_spark.operators.topk import _query_cosine
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 1).select("embedding").head()[0])
    q = V.query_vector_lit(qvec)
    both = emb.select(
        _query_cosine("embedding", qvec).alias("fast"),
        V.cosine_similarity(F.col("embedding"), q).alias("inline"),
    )
    mismatch = both.where(
        (F.col("fast").isNull() != F.col("inline").isNull())
        | (F.col("fast") != F.col("inline"))
    )
    assert mismatch.count() == 0
