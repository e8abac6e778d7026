"""GEMM batch ANN serving (ivf.ivf_search_batch_gemm) and the synthetic
wide-dim / scale-step corpora (sources/synth).

The GEMM path exists because the expression path's per-element HOF fold
and per-centroid literal expressions stop being the right trade at the
reference's real dimensionality (vector(1536), query.txt:84) — parity
with the expression path is pinned here at dim 64, and the wide path is
smoke-validated at dim 1536.  Kernels picked by width
(functions/vector.is_wide) are pinned against each other at dim 64 by
setting ``vector.GEMM_MIN_DIM`` to 0, which sends every site to its
wide kernel."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from psy_supabase_spark.functions import vector as V
from psy_supabase_spark.operators import ivf, lsh, topk
from psy_supabase_spark.sources.catalog import load_table
from psy_supabase_spark.sources.synth import scaled_documents, synthetic_embeddings

SF = "/root/testdata/sf0.001"


def _rows(df):
    return {
        (r[0], r[1], r[2], r[3])
        for r in df.select("query_id", "vec_id", "similarity", "rank").collect()
    }


def _gemm_scored(df) -> bool:
    """Does the plan score through the GEMM kernel (ivf_score_gemm's
    ``score`` mapInPandas)?"""
    return "MapInPandas score(" in df._jdf.queryExecution().executedPlan().toString()


def _expression_route(index, queries, **kw):
    """``ivf_search_batch`` through its expression fallback: a
    ``max_queries`` below the batch size is the only way in."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = ivf.ivf_search_batch(index, queries, max_queries=1, **kw)
    assert any(
        w.category is RuntimeWarning and "falling back" in str(w.message) for w in caught
    )
    assert not _gemm_scored(out)
    return out


def test_gemm_batch_parity_with_expression_path(spark):
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    expr = _rows(_expression_route(index, queries, k=5, nprobe=3))
    gemm = _rows(ivf.ivf_search_batch_gemm(index, queries, k=5, nprobe=3))
    assert gemm == expr and len(expr) == 25


def test_gemm_full_probe_equals_exact(spark):
    """nprobe = n_lists ⇒ the GEMM path IS brute force — must equal the
    expression-path exact top-k."""
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=4)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    exact = [(r.vec_id, r.similarity) for r in topk.topk_similarity(emb, qvec, k=5).collect()]
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    gemm = [
        (r.vec_id, r.similarity)
        for r in ivf.ivf_search_batch_gemm(index, queries, k=5, nprobe=4)
        .orderBy("rank")
        .collect()
    ]
    assert gemm == exact


def test_synth_embeddings_deterministic_and_wide(spark):
    a = synthetic_embeddings(spark, 200, 1536, n_modes=8, partitions=3)
    b = synthetic_embeddings(spark, 200, 1536, n_modes=8, partitions=11)
    ra = {r.vec_id: tuple(r.embedding[:5]) for r in a.collect()}
    rb = {r.vec_id: tuple(r.embedding[:5]) for r in b.collect()}
    assert ra == rb and len(ra) == 200
    dim = a.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r.d for r in dim] == [1536]


def test_dim1536_gemm_search_finds_self(spark):
    corpus = synthetic_embeddings(spark, 500, 1536, n_modes=8)
    index = ivf.build_ivf(corpus, n_lists=8)
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = ivf.ivf_search_batch_gemm(index, queries, k=3, nprobe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        best = min(rows, key=lambda r: r.rank)
        assert best.vec_id == qid and best.similarity > 0.999999
    assert set(by_q) == {0, 1, 2}


def test_scaled_documents_preserves_dup_structure(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),  # exact dup of 0
            (2, "something entirely different here"),
            (3, "numbers 12345 only words too"),
        ],
        "doc_id long, text string",
    )
    from psy_supabase_spark.operators import dedup

    base_groups = dedup.exact_dedup(docs).count()
    tripled = scaled_documents(docs, 3)
    assert tripled.count() == 12
    # Caesar rotation is a bijection: each copy contributes the SAME group
    # structure, and cross-copy texts never collide (all docs have letters)
    assert dedup.exact_dedup(tripled).count() == 3 * base_groups
    # copy 0 is verbatim
    orig = {r.text for r in docs.collect()}
    kept = {r.text for r in tripled.where(F.col("doc_id") < 100).collect()}
    assert kept == orig


def test_srp_arrow_verify_parity(spark, monkeypatch):
    """Arrow GEMM verify must emit the same pairs (ids AND rounded sims)
    as the expression-fold verify at dim 64, on both verify routes."""
    emb = load_table(spark, SF, "embeddings")

    def pairs(route):
        return {
            (r.id_a, r.id_b, r.similarity)
            for r in lsh.srp_neardup_pairs(emb, 0.3, verify_route=route).collect()
        }

    expr = {route: pairs(route) for route in ("join", "broadcast")}
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 0)
    arrow = {route: pairs(route) for route in ("join", "broadcast")}
    assert arrow == expr and expr["join"] == expr["broadcast"]
    assert len(expr["join"]) > 0


def test_cosine_pairs_np_degenerate_rows(spark):
    """Zero-norm / NULL / ragged rows must never survive the threshold
    filter (NaN folded to NULL before comparison)."""
    from psy_supabase_spark.operators import lsh

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], [1.0, 0.0]),
            (1, [0.0, 0.0], [1.0, 0.0]),   # zero norm
            (2, None, [1.0, 0.0]),          # NULL side
            (3, [1.0], [1.0, 0.0]),         # ragged
        ],
        "pid long, va array<double>, vb array<double>",
    )
    raw = lsh.cosine_pairs_np(F.col("va"), F.col("vb"))
    sim = F.when(F.isnan(raw), F.lit(None).cast("double")).otherwise(raw)
    out = df.select("pid", sim.alias("s")).where(F.col("s") >= 0.5).collect()
    assert [r.pid for r in out] == [0]


def test_suggest_banding_scales_linearly():
    from psy_supabase_spark.operators.lsh import suggest_banding

    n1, b1 = suggest_banding(5_000, 0.9)
    n10, b10 = suggest_banding(50_000, 0.9)
    bits1, bits10 = n1 // b1, n10 // b10
    assert bits10 > bits1  # deeper corpus → more bits per band
    # expected bucket depth stays bounded → candidates ~linear in N
    assert 50_000 / (1 << bits10) <= 64
    # recall at the threshold stays ≥ ~0.9 for both configs
    import math

    for bits, bands in ((bits1, b1), (bits10, b10)):
        p = 1 - math.acos(0.9) / math.pi
        assert 1 - (1 - p**bits) ** bands >= 0.9


def test_suggest_banding_low_threshold_clamps():
    from psy_supabase_spark.operators.lsh import suggest_banding

    n, b = suggest_banding(1_000_000, 0.5)
    assert b <= 32 and n // b <= 20  # clamped, not unbounded


def test_batch_search_auto_routes_to_gemm(spark):
    """A batch within max_queries routes ivf_search_batch to the GEMM
    kernel, with no warning — rows must equal the expression fallback."""
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=80)
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        auto = ivf.ivf_search_batch(index, queries, k=5, nprobe=3)
    assert _gemm_scored(auto)
    expr = _rows(_expression_route(index, queries, k=5, nprobe=3))
    assert _rows(auto) == expr


def test_dim2048_smoke_all_kernels(spark):
    """The reference's ACTUAL embedding width is 2048 (text_generator.py:
    314-316, vs the declared vector(1536) of query.txt:84) — one smoke
    over the full wide-dim kernel set at that width pins that nothing
    hard-codes a dimension: GEMM search, PQ encode/ADC (m=16 -> dsub
    128) with the Arrow rescore, Arrow verify."""
    from psy_supabase_spark.operators import pq

    corpus = synthetic_embeddings(spark, 300, 2048, n_modes=30, seed=7)
    index = ivf.build_ivf(corpus, n_lists=8)
    queries = corpus.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = ivf.ivf_search_batch(index, queries, k=3, nprobe=2).collect()  # auto-GEMM
    tops = {r.query_id: r.vec_id for r in got if r.rank == 1}
    assert tops == {0: 0, 1: 1}

    books = pq.pq_fit(corpus, m=16, fit_sample_cap=300)
    assert books.dsub == 128
    enc = pq.pq_encode(corpus, books)
    got = pq.pq_search_batch(enc, queries, books, corpus, k=3).collect()  # Arrow rescore at this width
    assert {r.query_id: r.vec_id for r in got if r.rank == 1} == {0: 0, 1: 1}

    n_planes, bands = lsh.suggest_banding(300, 0.9)
    pairs = lsh.srp_neardup_pairs(
        corpus, 0.9, dim=2048, n_planes=n_planes, bands=bands
    )  # Arrow verify at this width
    assert pairs.count() > 0  # 10 near-copies per mode -> plenty of pairs


def test_knn_join_gemm_parity(spark, monkeypatch):
    """knn_join's wide (GEMM) branch must equal its expression fold
    exactly: the dim-64 queries keep the fold under the default cut-off
    and take the GEMM branch once the width rule says wide."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    expr_df = topk.knn_join(emb, queries, k=4)
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 0)
    gemm_df = topk.knn_join(emb, queries, k=4)
    assert not _gemm_scored(expr_df) and _gemm_scored(gemm_df)
    expr = {(r.query_id, r.vec_id, r.similarity, r.rank) for r in expr_df.collect()}
    gemm = {(r.query_id, r.vec_id, r.similarity, r.rank) for r in gemm_df.collect()}
    assert gemm == expr and len(expr) == 20


def test_ivf_search_scores_wide_queries_with_gemm(spark, monkeypatch):
    """ivf.ivf_search's exact top-k within the probed lists is
    topk.topk_similarity, which scores a wide query with the GEMM kernel;
    its rows equal the expression fold's, reached by raising the width
    rule's cut-off above the corpus width."""
    corpus = synthetic_embeddings(spark, 400, 300, n_modes=4, seed=13)
    index = ivf.build_ivf(corpus, n_lists=4)
    q = [float(x) for x in corpus.where(F.col("vec_id") == 7).head().embedding]
    gemm_df = ivf.ivf_search(index, q, k=5, nprobe=2)
    assert _gemm_scored(gemm_df)
    gemm = [(r.vec_id, r.similarity) for r in gemm_df.collect()]
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 301)
    expr_df = ivf.ivf_search(index, q, k=5, nprobe=2)
    assert not _gemm_scored(expr_df)
    assert gemm == [(r.vec_id, r.similarity) for r in expr_df.collect()]
    assert len(gemm) == 5 and gemm[0][0] == 7


def test_topk_distance_kernels_agree(spark, monkeypatch):
    """topk_distance's wide branch reports ``1 - similarity`` rounded as
    the fold rounds: its rows equal the fold's exactly."""
    emb = load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 3).head().embedding]
    expr_df = topk.topk_distance(emb, q, k=10)
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 0)
    gemm_df = topk.topk_distance(emb, q, k=10)
    assert not _gemm_scored(expr_df) and _gemm_scored(gemm_df)
    expr = [(r.vec_id, r.distance) for r in expr_df.collect()]
    assert [(r.vec_id, r.distance) for r in gemm_df.collect()] == expr
    assert len(expr) == 10 and expr[0][0] == 3


def test_search_layout_scores_wide_queries_with_gemm(spark, tmp_path, monkeypatch):
    """A wide query on a persisted layout takes the GEMM kernel like the
    in-memory index does; its rows equal the ``_vnorm`` fold's, reached by
    raising the width rule's cut-off above the corpus width."""
    corpus = synthetic_embeddings(spark, 400, 300, n_modes=4, seed=13)
    index = ivf.build_ivf(corpus, n_lists=4)
    path = str(tmp_path / "layout")
    ivf.write_ivf_layout(index, path)
    q = [float(x) for x in corpus.where(F.col("vec_id") == 7).head().embedding]
    gemm_df = ivf.search_layout(spark, path, index.centers, q, k=5, nprobe=2)
    assert _gemm_scored(gemm_df)
    gemm = [(r.vec_id, r.similarity) for r in gemm_df.collect()]
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 301)
    expr_df = ivf.search_layout(spark, path, index.centers, q, k=5, nprobe=2)
    assert not _gemm_scored(expr_df)
    assert "_vnorm" in expr_df._jdf.queryExecution().executedPlan().toString()
    assert gemm == [(r.vec_id, r.similarity) for r in expr_df.collect()]
    assert len(gemm) == 5 and gemm[0][0] == 7


def test_gemm_search_prunes_persisted_wide_layout(spark, tmp_path):
    """The GEMM batch path over a persisted partitionBy(centroid_id)
    layout must keep FILE-LEVEL partition pruning at width — the probe
    union filter sits below the mapInPandas scorer, so only probed list
    directories are read."""
    import re as _re

    corpus = synthetic_embeddings(spark, 1000, 512, n_modes=8, seed=11)
    index = ivf.build_ivf(corpus, n_lists=8)
    path = str(tmp_path / "wide_layout")
    ivf.write_ivf_layout(index, path)
    stored = ivf.IVFIndex(centers=index.centers, assigned=spark.read.parquet(path))
    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out = ivf.ivf_search_batch_gemm(stored, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan)
    got = {r.query_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert got == {0: 0, 1: 1, 2: 2}


def test_scaled_documents_factor_guard(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    # affine-cipher construction (r9): 12 coprime multipliers x 26 shifts
    with _pytest.raises(ValueError, match="bijections"):
        scaled_documents(docs, 313)
    # 27 is now legal (the old Caesar-only cap was 26) - distinct text
    a27 = scaled_documents(docs, 28)
    texts = [r.text for r in a27.collect()]
    assert len(set(texts)) == len(texts)


def test_scaled_documents_dup_structure_beyond_caesar_cap(spark):
    """Above 26 copies the bijections switch to a != 1 affine maps; the
    within-copy duplicate structure must still replicate exactly and no
    cross-copy verbatim collapse may appear."""
    from psy_supabase_spark.operators import dedup

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "delta eps zeta")],
        "doc_id long, text string",
    )
    base_groups = dedup.exact_dedup(docs).count()  # 2
    k = 28
    scaled = scaled_documents(docs, k)
    assert scaled.count() == 3 * k
    assert dedup.exact_dedup(scaled).count() == k * base_groups


def test_suggest_banding_invariants():
    """Property sweep: bounds hold and the recall target is met whenever
    the band count is not clamped."""
    import math

    from psy_supabase_spark.operators.lsh import suggest_banding

    for n in (100, 5_000, 50_000, 10**7, 10**9):
        for t in (0.5, 0.7, 0.9, 0.95, 0.99):
            n_planes, bands = suggest_banding(n, t)
            bits = n_planes // bands
            assert 3 <= bits <= 20 and 1 <= bands <= 32
            assert n_planes == bits * bands
            p = 1 - math.acos(t) / math.pi
            recall = 1 - (1 - p**bits) ** bands
            if bands < 32:  # unclamped → the 0.95 target must be met
                assert recall >= 0.95 - 1e-9


def test_ivf_search_batch_max_queries_passthrough(spark):
    """The GEMM route's driver-side query fetch is bounded by
    max_queries, and ivf_search_batch forwards the caller's bound rather
    than the built-in default: a batch AT the bound stays on the GEMM
    route, one query over it is refused by the GEMM entry point."""
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    with pytest.raises(ivf.QueryBatchTooLarge, match="max_queries"):
        ivf.ivf_search_batch_gemm(index, queries, k=3, nprobe=2, max_queries=4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = ivf.ivf_search_batch(index, queries, k=3, nprobe=2, max_queries=5)
    assert _gemm_scored(got)
    assert got.select("query_id").distinct().count() == 5


def test_auto_route_falls_back_on_oversized_batch(spark):
    """A query batch over max_queries falls back to the expression path
    (same rows as the GEMM route) instead of raising, and says so with a
    RuntimeWarning: GEMM is the route at every size, so its bound must
    not break large-batch callers."""
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=8)
    queries = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fallback = ivf.ivf_search_batch(index, queries, k=3, nprobe=2, max_queries=4)
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("falling back" in m for m in msgs), msgs
    assert not _gemm_scored(fallback)
    gemm = _rows(ivf.ivf_search_batch_gemm(index, queries, k=3, nprobe=2))
    assert _rows(fallback) == gemm and len(gemm) == 18


def test_coarse_verify_row_identical_and_sound(spark, monkeypatch):
    """The int8 coarse pre-verify (the join route at the GEMM widths) must
    be a PURE optimization: output row-identical to the direct verify of
    the broadcast route (the drop rule threshold - (eps_a + eps_b) is a
    sound quantization bound, so only provably-failing pairs are
    dropped), including degenerate rows (NULL / zero / wrong-length
    vectors)."""
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    def rows(df):
        return {(r.id_a, r.id_b, r.similarity) for r in df.collect()}

    # wide width: planted near-dup modes, degenerate rows mixed in
    wemb = synthetic_embeddings(spark, 1_000, 512, n_modes=100)
    degen = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * 512), (100003, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    wide = wemb.select("vec_id", "embedding").unionByName(degen)
    np_, b_ = lsh.suggest_banding(1_000, 0.9, dim=512)
    kw = dict(dim=512, n_planes=np_, bands=b_)
    coarse = rows(lsh.srp_neardup_pairs(wide, 0.9, verify_route="join", **kw))
    direct = rows(lsh.srp_neardup_pairs(wide, 0.9, verify_route="broadcast", **kw))
    assert coarse == direct
    assert len(coarse) > 0  # planted modes must actually produce pairs

    # dim 64 sent to the wide kernels: the coarse pass runs on the testdata
    emb = load_table(spark, SF, "embeddings")
    degen = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * 64), (100003, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(degen)
    monkeypatch.setattr(V, "GEMM_MIN_DIM", 0)
    coarse = rows(lsh.srp_neardup_pairs(corpus, 0.3, verify_route="join"))
    direct = rows(lsh.srp_neardup_pairs(corpus, 0.3, verify_route="broadcast"))
    assert coarse == direct and len(coarse) > 0


def test_srp_topk_recall_and_shape(spark):
    """SRP-bucketed ANN top-k (lsh.srp_topk): schema matches the other
    batch serving paths, the query's own vector tops its list, and
    recall@10 vs exact brute force is high on a clustered corpus (the
    banding targets candidate recall at high cosine)."""
    from psy_supabase_spark.operators import ivf, lsh
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    emb = synthetic_embeddings(spark, 2_000, 64, n_modes=200).cache()
    emb.count()
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = lsh.srp_topk(emb, queries, k=10, dim=64)
    assert got.columns == ["query_id", "vec_id", "similarity", "rank"]
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    # exact ground truth via the GEMM brute twin (single full probe)
    index = ivf.IVFIndex(
        centers=[[1.0] + [0.0] * 63],
        assigned=emb.withColumn("centroid_id", F.lit(0)),
    )
    gt = {}
    for r in ivf.ivf_search_batch_gemm(index, queries, k=10, nprobe=1).collect():
        gt.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    recalls = []
    for q, pairs in gt.items():
        want = {v for _, v in pairs}
        have = {v for _, v in by_q.get(q, [])}
        recalls.append(len(want & have) / 10.0)
        # self-hit must rank first (exact verify of candidates)
        assert sorted(by_q[q])[0][1] == q
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    emb.unpersist()


def test_srp_topk_brute_fallback_completes_exact_k(spark):
    """brute_fallback=True turns srp_topk's pre-filter semantics into an
    exact-k contract: queries whose buckets find < k candidates are
    re-served whole by the brute KNN join, while full queries keep the
    LSH rows.  With aggressive banding and k close to the corpus size,
    every query falls short — the result must then be row-identical to
    the exact brute join; and every query must always return exactly k
    rows."""
    from psy_supabase_spark.operators import lsh, topk
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    emb = synthetic_embeddings(spark, 300, 64, n_modes=30).cache()
    emb.count()
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    # 20-bit bands: buckets are near-singletons, so every query finds
    # far fewer than k=50 candidates and the fallback must kick in
    kw = dict(dim=64, n_planes=20, bands=1)
    partial = lsh.srp_topk(emb, queries, k=50, **kw)
    short = {
        r.query_id: r.n
        for r in partial.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert all(n < 50 for n in short.values()) or len(short) < 8  # genuinely short
    full = lsh.srp_topk(emb, queries, k=50, brute_fallback=True, **kw)
    rows = sorted(
        (r.query_id, r.rank, r.vec_id, r.similarity) for r in full.collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.vec_id, r.similarity)
        for r in topk.knn_join(emb, queries, 50).collect()
    )
    assert rows == want
    # mixed regime: k=1 — the self-hit fills every bucket, so NO query
    # falls short and the fallback path must keep the pure-LSH rows
    lsh_k1 = sorted(
        (r.query_id, r.vec_id) for r in lsh.srp_topk(emb, queries, k=1, **kw).collect()
    )
    fb_k1 = sorted(
        (r.query_id, r.vec_id)
        for r in lsh.srp_topk(emb, queries, k=1, brute_fallback=True, **kw).collect()
    )
    assert fb_k1 == lsh_k1
    emb.unpersist()


def test_broadcast_verify_route_row_identical(spark):
    """The broadcast verify route must be a PURE optimization of the join
    route: row-identical output (ids and 6-dp similarities) on a wide
    corpus with degenerate rows mixed in (NULL / wrong-dim vectors are
    excluded from the broadcast matrix and score NULL, zero vectors score
    NULL via the 0-denominator — exactly the join kernel's treatment)."""
    from psy_supabase_spark.operators import lsh
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    def rows(df):
        return sorted((r.id_a, r.id_b, r.similarity) for r in df.collect())

    emb = synthetic_embeddings(spark, 1_000, 512, n_modes=100)
    degen = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * 512), (100003, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(degen)
    np_, b_ = lsh.suggest_banding(1_000, 0.9, dim=512)
    kw = dict(dim=512, n_planes=np_, bands=b_)
    join_rows = rows(lsh.srp_neardup_pairs(corpus, 0.9, verify_route="join", **kw))
    bc_rows = rows(lsh.srp_neardup_pairs(corpus, 0.9, verify_route="broadcast", **kw))
    auto_rows = rows(lsh.srp_neardup_pairs(corpus, 0.9, **kw))  # auto → broadcast
    assert bc_rows == join_rows
    assert auto_rows == join_rows
    assert len(join_rows) > 0


def test_broadcast_verify_valves(spark):
    """The broadcast route's driver fetch is hard-valved: a corpus larger
    than max_broadcast_bytes raises (explicit route) or falls back to the
    join route (auto); narrow dims without the Arrow kernel refuse the
    broadcast route outright (the expression fold is the oracle-pinned
    spelling)."""
    import pytest

    from psy_supabase_spark.operators import lsh
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    emb = synthetic_embeddings(spark, 200, 512, n_modes=20)
    np_, b_ = lsh.suggest_banding(200, 0.9, dim=512)
    kw = dict(dim=512, n_planes=np_, bands=b_)

    with pytest.raises(ValueError, match="max_broadcast_bytes"):
        lsh.srp_neardup_pairs(
            emb, 0.9, verify_route="broadcast", max_broadcast_bytes=1024, **kw
        ).count()

    # auto with a tiny valve must quietly take the join route and still
    # produce the identical answer
    auto_small = sorted(
        (r.id_a, r.id_b, r.similarity)
        for r in lsh.srp_neardup_pairs(
            emb, 0.9, n_rows=200, max_broadcast_bytes=1024, **kw
        ).collect()
    )
    join_rows = sorted(
        (r.id_a, r.id_b, r.similarity)
        for r in lsh.srp_neardup_pairs(emb, 0.9, verify_route="join", **kw).collect()
    )
    assert auto_small == join_rows

    with pytest.raises(ValueError, match="verify_route"):
        lsh.srp_neardup_pairs(emb.limit(10), 0.5, verify_route="bogus")


def test_broadcast_verify_narrow_dim_exact_fold_parity(spark):
    """r14 opt: narrow dims are broadcast-eligible via the exact-fold
    kernel, which must be BIT-identical to the narrow join route's
    Catalyst zip_with+aggregate spelling — exact equality on the 6-dp
    similarities (not approx), including a zero vector scoring NULL on
    both routes and the auto route resolving to the same rows."""
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import lsh
    from psy_supabase_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    zero = spark.createDataFrame(
        [(900001, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    corpus = emb.unionByName(zero)
    join_rows = sorted(
        (r.id_a, r.id_b, r.similarity)
        for r in lsh.srp_neardup_pairs(corpus, 0.3, verify_route="join").collect()
    )
    bc_rows = sorted(
        (r.id_a, r.id_b, r.similarity)
        for r in lsh.srp_neardup_pairs(
            corpus, 0.3, verify_route="broadcast"
        ).collect()
    )
    auto_rows = sorted(
        (r.id_a, r.id_b, r.similarity)
        for r in lsh.srp_neardup_pairs(corpus, 0.3).collect()
    )
    assert bc_rows == join_rows  # exact equality, similarity included
    assert auto_rows == join_rows
    assert len(join_rows) > 0
    # the zero vector reached candidates but scored NULL → dropped
    assert not any(a == 900001 or b == 900001 for a, b, _ in join_rows)


def test_broadcast_verify_rejects_duplicate_ids(spark):
    """Unique-id contract: the broadcast route maps each id to ONE matrix
    row (searchsorted), while the join route scores one row per duplicate
    — so duplicated ids must raise loudly instead of silently collapsing."""
    import pytest

    from psy_supabase_spark.operators import lsh
    from psy_supabase_spark.sources.synth import synthetic_embeddings

    emb = synthetic_embeddings(spark, 100, 512, n_modes=10)
    dup = emb.unionByName(emb.limit(1))  # vec_id of row 0 appears twice
    np_, b_ = lsh.suggest_banding(101, 0.9, dim=512)
    kw = dict(dim=512, n_planes=np_, bands=b_)
    with pytest.raises(ValueError, match="duplicate"):
        lsh.srp_neardup_pairs(dup, 0.9, verify_route="broadcast", **kw).count()
    # the join route still accepts duplicated ids
    assert (
        lsh.srp_neardup_pairs(dup, 0.9, verify_route="join", **kw).count() >= 0
    )
