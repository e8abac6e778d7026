"""Dedup strategy properties: planted duplicates found, LSH recall vs the
exact answer, pigeonhole banding == all-pairs, IVF recall@k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psy_supabase_spark.operators import dedup, ivf, lsh, topk
from psy_supabase_spark.plans.explain import physical_plan
from psy_supabase_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and AGAIN!"),  # near dup
        (4, "completely different content about spark query engines here"),
        (5, "another unrelated document that shares nothing with others"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r.keeper_id: r.n_dupes for r in dedup.exact_dedup(docs).collect()}
    # 1 and 2 collapse; 3 keeps its trailing '!' (clean_text preserves
    # sentence punctuation) so it stays a near-dup, not an exact dup
    assert out[1] == 2
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_finds_planted(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_equals_exact_on_testdata(spark):
    table = load_table(spark, SF, "documents")
    exact = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(table, 0.5).collect()}
    approx = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(table, 0.5).collect()}
    assert approx == exact  # precision 1.0 by construction; recall 1.0 measured
    assert len(exact) > 0  # non-vacuous: planted dups exist at sf0.001


def test_df_cap_keeps_high_jaccard_pairs(spark):
    table = load_table(spark, SF, "documents")
    exact = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(table, 0.9).collect()}
    capped = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(table, 0.9, df_cap=50).collect()}
    # capping drops undistinguishing grams; near-identical pairs must survive
    assert exact <= capped or exact == capped


def test_ngram_jaccard_keeps_merge_hint(spark):
    # the ngram candidate self-join is hinted to sort-merge so its b side
    # reuses the df_cap window's (gram) exchange; at sf0.001 the planner
    # would otherwise broadcast it, so the one SortMergeJoin in the plan
    # is the hint's (the later size joins stay broadcast)
    table = load_table(spark, SF, "documents")
    plan = physical_plan(dedup.ngram_jaccard_pairs(table, 0.5))
    assert plan.count("SortMergeJoin") == 1


def test_ngram_df_cap_audit_accounts_for_dropped_grams(spark):
    # the audit twin of the df_cap valve: its rows are EXACTLY the grams
    # the capped operator drops, so (a) a tight cap reports drops, and
    # (b) an empty audit certifies capped == exact on this corpus.
    table = load_table(spark, SF, "documents")
    dropped = dedup.ngram_df_cap_audit(table, df_cap=5).collect()
    assert len(dropped) > 0 and all(r.df > 5 for r in dropped)
    loose = dedup.ngram_df_cap_audit(table, df_cap=10**9)
    assert loose.count() == 0
    # empty audit at the default cap ⇒ default capped answer is exact here
    if dedup.ngram_df_cap_audit(table).count() == 0:
        exact = {tuple(r) for r in dedup.ngram_jaccard_pairs(table, 0.5, df_cap=None).collect()}
        capped = {tuple(r) for r in dedup.ngram_jaccard_pairs(table, 0.5).collect()}
        assert capped == exact


def test_simhash_band_join_equals_all_pairs(docs, spark):
    sh = dedup.simhash(docs)
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"))
        .where(F.col("hamming") <= 3)
    )
    banded = dedup.simhash_neardup_pairs(docs, 3)
    assert {tuple(r) for r in banded.collect()} == {tuple(r) for r in brute.collect()}


def test_srp_neardup_equals_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = {(r.id_a, r.id_b) for r in topk.neighbors_above(emb, 0.5).collect()}
    approx = {(r.id_a, r.id_b) for r in lsh.srp_neardup_pairs(emb, 0.5).collect()}
    assert approx == exact


def test_srp_signature_np_matches_expression_twin(spark):
    # The numpy-GEMM signature and the Catalyst-fold signature must agree
    # bit-for-bit on real data (summation-order rounding could only flip a
    # bit where |<v,h>| ~ 1e-13 — if this ever fires, a plane grazed a
    # vector and the banding recall story needs a second look).
    emb = load_table(spark, SF, "embeddings")
    planes = lsh.hyperplanes(64, 24)
    both = emb.select(
        "vec_id",
        lsh.srp_signature("embedding", planes).alias("expr_sig"),
        lsh.srp_signature_np("embedding", planes).alias("np_sig"),
    )
    assert both.where(F.col("expr_sig") != F.col("np_sig")).count() == 0
    # null / wrong-length rows degrade to the all-zero signature in both
    odd = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    rows = odd.select(lsh.srp_signature_np("embedding", planes).alias("s")).collect()
    assert all(list(r.s) == [0] * 24 for r in rows)


def test_ivf_recall_at_5(spark):
    emb = load_table(spark, SF, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    exact_ids = [r.vec_id for r in topk.topk_similarity(emb, qvec, k=5).collect()]
    index = ivf.build_ivf(emb, n_lists=8)
    approx_ids = [r.vec_id for r in ivf.ivf_search(index, qvec, k=5, nprobe=4).collect()]
    # uniform-random vectors are IVF's worst case; measured 0.8@nprobe=4
    assert ivf.recall_at_k(exact_ids, approx_ids, 5) >= 0.6
    # full probe == exact scan
    all_ids = [r.vec_id for r in ivf.ivf_search(index, qvec, k=5, nprobe=8).collect()]
    assert all_ids == exact_ids


def test_ivf_layout_partition_pruning(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    qvec = list(emb.where(F.col("vec_id") == 0).select("embedding").head()[0])
    index = ivf.build_ivf(emb, n_lists=8)
    path = str(tmp_path / "ivf_layout")
    ivf.write_ivf_layout(index, path)
    out = ivf.search_layout(spark, path, index.centers, qvec, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # centroid_id INSIDE the PartitionFilters bracket — the bare substring
    # appears even when nothing is pushed (empty filter list)
    import re as _re

    assert _re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan)
    assert len(out.collect()) == 5


def test_ivf_append_to_layout(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400)
    index = ivf.build_ivf(old, n_lists=8)
    path = str(tmp_path / "ivf_inc")
    ivf.write_ivf_layout(index, path)
    ivf.append_to_layout(new, path, index.centers)
    # layout now covers the full corpus, still partitioned by centroid_id
    allrows = spark.read.parquet(path)
    assert allrows.count() == emb.count()
    assert "centroid_id" in allrows.columns
    # an appended vector is immediately searchable; full probe == exact
    qvec = list(emb.where(F.col("vec_id") == 450).select("embedding").head()[0])
    got = ivf.search_layout(spark, path, index.centers, qvec, k=3, nprobe=8)
    assert [r.vec_id for r in got.collect()][0] == 450  # self-match tops
    # appended rows landed inside existing centroid partitions (no refit):
    # assignment recomputed via the same centroids matches what was written
    reassigned = ivf.assign_to_centroids(new, index.centers).select("vec_id", "centroid_id")
    stored = allrows.where(F.col("vec_id") >= 400).select("vec_id", "centroid_id")
    assert reassigned.exceptAll(stored).count() == 0


def test_ivf_search_batch_matches_per_query(spark):
    from pyspark.sql import functions as F

    from psy_supabase_spark.operators import ivf
    from psy_supabase_spark.plans.explain import assert_plan_lacks
    from psy_supabase_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    index = ivf.build_ivf_cached(emb, f"{sf}/embeddings", n_lists=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    batch = ivf.ivf_search_batch(index, queries, k=5, nprobe=4)
    assert_plan_lacks(batch, "CartesianProduct")
    got = {
        (r.query_id, r.rank): (r.vec_id, r.similarity) for r in batch.collect()
    }
    for q in queries.collect():
        single = ivf.ivf_search(index, list(q.query_embedding), k=5, nprobe=4)
        for rank, r in enumerate(single.collect(), start=1):
            assert got[(q.query_id, rank)] == (r.vec_id, r.similarity)


# ---- mega-bucket valves (round-4: the 100 TB quadratic-reducer guard) ----


def test_minhash_bucket_cap_drops_degenerate_bucket_fast(spark):
    # 2 000 identical docs → every band bucket holds all ids → ~2M pairs
    # unvalved.  With the cap the buckets drop and the op returns 0 pairs
    # quickly (identical docs are exact_dedup's job, not LSH's).
    rows = [(i, "same boilerplate text repeated every single time") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(docs, 0.5, bucket_cap=100)
    assert out.count() == 0


def test_minhash_bucket_cap_default_no_effect_on_testdata(spark):
    table = load_table(spark, SF, "documents")
    valved = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(table, 0.5).collect()}
    unvalved = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(table, 0.5, bucket_cap=None).collect()}
    assert valved == unvalved


def test_simhash_subdivision_is_complete(spark):
    # Adversarial bucket: 600 sketches share band 0's low 8 bits (one
    # mega-bucket) but spread widely in the remaining 24 bits.  With a tiny
    # bucket_cap the bucket subdivides — output must STILL equal the exact
    # all-pairs answer (the pigeonhole-recursion completeness claim).
    import random

    rng = random.Random(7)
    sketches = [(i, (rng.getrandbits(24) << 8) | 0x5A) for i in range(600)]
    # mix in unconstrained sketches so other bands also collide arbitrarily
    sketches += [(1000 + i, rng.getrandbits(32)) for i in range(200)]
    sh = spark.createDataFrame(sketches, "id long, simhash long")
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        tuple(r)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint").alias("hamming"))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    banded = dedup.simhash_banded(sh, 3)
    over = dedup.oversized_buckets(banded, 50)
    assert over.count() >= 1  # the planted mega-bucket is actually over cap
    sub = dedup.simhash_subdivided(banded, 3, over)
    jk = ["band", "key", "sband", "skey"]
    sa = sub.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"), *jk)
    sb = sub.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"), *jk)
    got = {
        tuple(r)
        for r in sa.join(sb, jk)
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint").alias("hamming"))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    # and the subdivision actually spread the mega-bucket
    sizes = sub.groupBy(*jk).count().agg(F.max("count")).collect()[0][0]
    assert sizes < 600


def test_simhash_neardup_valved_equals_unvalved_on_testdata(spark):
    table = load_table(spark, SF, "documents")
    valved = {tuple(r) for r in dedup.simhash_neardup_pairs(table, 3, bucket_cap=5).collect()}
    unvalved = {tuple(r) for r in dedup.simhash_neardup_pairs(table, 3, bucket_cap=None).collect()}
    assert valved == unvalved  # subdivision never changes the answer


def test_srp_bucket_cap_drops_degenerate_bucket(spark):
    # zero vectors: every signature is all-zeros → one mega bucket per band
    rows = [(i, [0.0] * 64) for i in range(1000)] + [(2000, [1.0] + [0.0] * 63)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh.srp_neardup_pairs(emb, 0.5, bucket_cap=100)
    assert out.count() == 0  # zero-norm pairs are NULL-sim anyway; valve keeps it linear


def test_srp_hot_id_salting_row_identical(spark):
    # planted skew: 120 near-identical vectors → every pair is a candidate,
    # so each id participates in ~119 pairs.  With hot_id_threshold=10 the
    # payload re-attach joins go through salted_join_hot_keys; the output
    # must be row-identical to the unsalted spelling.
    import random

    rng = random.Random(11)
    rows = [
        (i, [1.0 + rng.uniform(-0.01, 0.01) for _ in range(8)]) for i in range(120)
    ] + [(500, [(-1.0) ** j * 1.0 for j in range(8)])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=8, n_planes=24, bands=8)
    salted = {tuple(r) for r in lsh.srp_neardup_pairs(emb, 0.5, hot_id_threshold=10, **kw).collect()}
    plain = {tuple(r) for r in lsh.srp_neardup_pairs(emb, 0.5, hot_id_threshold=None, **kw).collect()}
    assert salted == plain
    assert len(salted) == 120 * 119 // 2  # the planted clique is all-pairs


def test_ivf_batch_serving_from_persisted_layout(spark, tmp_path):
    # production serving: the batch path must work against a layout READ
    # BACK from disk (partition-pruned parquet), not only the in-memory
    # assigned frame, and produce identical results
    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    index = ivf.build_ivf_cached(emb, f"{sf}/embeddings", n_lists=8)
    layout = str(tmp_path / "layout")
    ivf.write_ivf_layout(index, layout)
    disk_index = ivf.IVFIndex(centers=index.centers, assigned=spark.read.parquet(layout))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    mem = {(r.query_id, r.rank): r.vec_id for r in ivf.ivf_search_batch(index, queries, k=5, nprobe=4).collect()}
    disk = {(r.query_id, r.rank): r.vec_id for r in ivf.ivf_search_batch(disk_index, queries, k=5, nprobe=4).collect()}
    assert disk == mem


def test_minhash_hot_id_salting_row_identical(spark):
    # a clique of near-identical docs makes every id hot; salted gram
    # re-attach must be row-identical to the plain join
    rows = [(i, f"the quick brown fox jumps over the lazy dog number {i % 3}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    salted = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=5).collect()}
    plain = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=None).collect()}
    assert salted == plain and len(plain) > 0


def test_exact_dedup_hash_first_row_identical(spark, docs):
    # the 100 TB spelling (narrow hash shuffle + collision resolve) must be
    # row-identical to the text-key oracle path — on planted dups, on the
    # testdata corpus, and with null/empty texts in play
    table = load_table(spark, SF, "documents")
    for d in (docs, table):
        plain = sorted(tuple(r) for r in dedup.exact_dedup(d).collect())
        hashed = sorted(tuple(r) for r in dedup.exact_dedup(d, hash_first=True).collect())
        assert hashed == plain
    nulls = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "x")], "doc_id long, text string"
    )
    plain = sorted(tuple(r) for r in dedup.exact_dedup(nulls).collect())
    hashed = sorted(tuple(r) for r in dedup.exact_dedup(nulls, hash_first=True).collect())
    assert hashed == plain


def test_exact_dedup_hash_first_resolves_forced_collisions(spark, docs):
    # drive the collision-resolve branch deterministically: a primary
    # "hash" that collides almost everything (norm length mod 2) forces
    # every group through the _nd > 1 path; output must STILL equal the
    # text-key answer exactly
    weak = (lambda c: (F.length(c) % 2).cast("long"), lambda c: F.md5(c))
    plain = sorted(tuple(r) for r in dedup.exact_dedup(docs).collect())
    forced = sorted(
        tuple(r)
        for r in dedup.exact_dedup(docs, hash_first=True, _hash_exprs=weak).collect()
    )
    assert forced == plain


def test_exact_dedup_hash_first_shuffles_narrow_rows(spark, docs):
    # the point of hash_first: no corpus-sized text exchange.  The main
    # aggregation exchanges partition on the hashes only; the single
    # exchange that DOES carry the text key is the collision-resolve
    # branch, which sits above the broadcast semi-join on suspect hashes
    # (so its row count is bounded by actual 64-bit collisions, ~0)
    plan = (
        dedup.exact_dedup(docs, hash_first=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    agg_exchanges = [
        ln
        for ln in lines
        if "Exchange hashpartitioning(_h" in ln and "_norm" not in ln
    ]
    norm_exchanges = [
        ln for ln in lines if "Exchange hashpartitioning" in ln and "_norm" in ln
    ]
    assert len(agg_exchanges) >= 2  # (_h,_h2) partial + (_h) final
    assert len(norm_exchanges) == 1  # only the bounded resolve branch
    assert any("BroadcastExchange" in ln for ln in lines)


def test_hot_id_estimate_upper_bounds_pair_membership(spark):
    # Σ(bucket_size − 1) per id must upper-bound the id's TRUE candidate-
    # pair membership — the property that makes threshold salting safe (a
    # genuinely hot id can never slip under the estimate), checked on the
    # real corpus banding.
    table = load_table(spark, SF, "documents")
    banded = dedup.minhash_banded(dedup.minhash_signatures(table))
    counted = dedup.counted_buckets(banded, None)
    est = {
        r.id: r.est
        for r in counted.groupBy("id").agg(F.sum(F.col("_bn") - 1).alias("est")).collect()
    }
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    true_counts = {
        r.id: r.n
        for r in cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert true_counts  # non-vacuous: candidates exist at this sf
    for i, n in true_counts.items():
        assert est[i] >= n
    # and hot_id_estimate returns exactly the ids over the threshold
    thr = sorted(est.values())[-2] if len(est) > 1 else 0
    hot = {r.id for r in dedup.hot_id_estimate(counted, thr).collect()}
    assert hot == {i for i, e in est.items() if e > thr}


def test_search_layout_vnorm_path_bit_identical(spark, tmp_path):
    # the one-fold (_vnorm precomputed at write, query norm as a driver
    # float) scoring path must produce BIT-identical similarities to the
    # inline three-fold cosine — IEEE-754 with the same accumulation
    # order, asserted against exact doubles, not a tolerance
    emb = load_table(spark, SF, "embeddings")
    index = ivf.build_ivf(emb, n_lists=8)
    path = str(tmp_path / "layout")
    ivf.write_ivf_layout(index, path)
    assert "_vnorm" in spark.read.parquet(path).columns
    qvec = list(emb.where(F.col("vec_id") == 3).select("embedding").head()[0])
    got = [(r.vec_id, r.similarity) for r in
           ivf.search_layout(spark, path, index.centers, qvec, k=7, nprobe=3).collect()]
    probe_ids = ivf.rank_centroids(index.centers, qvec)[:3]
    pruned = spark.read.parquet(path).where(F.col("centroid_id").isin(probe_ids))
    want = [(r.vec_id, r.similarity) for r in
            topk.topk_similarity(pruned, qvec, k=7).collect()]
    assert got == want
    # pre-r5 layouts (no _vnorm) still search via the fallback
    legacy = str(tmp_path / "legacy")
    index.assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(legacy)
    old = [(r.vec_id, r.similarity) for r in
           ivf.search_layout(spark, legacy, index.centers, qvec, k=7, nprobe=3).collect()]
    assert old == want


def test_minhash_hot_id_salting_planted_hot_corpus(spark):
    # planted hot corpus: 60 near-identical docs → every pair is a
    # candidate, so each id's bucket-size estimate (Σ(bucket−1) ≈
    # bands·59) clears threshold=100 and the gram re-attach goes through
    # salted_join_hot_keys.  Output must be row-identical to the
    # unsalted spelling.
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i % 2}") for i in range(60)] + [
        (500, "entirely different content about columnar query engines")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    est = dedup.hot_id_estimate(
        dedup.counted_buckets(dedup.minhash_banded(dedup.minhash_signatures(docs)), None),
        100,
    )
    assert est.count() > 0  # the salted branch is actually exercised
    salted = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=100).collect()}
    plain = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, 0.5, hot_id_threshold=None).collect()}
    assert salted == plain and len(salted) > 0
