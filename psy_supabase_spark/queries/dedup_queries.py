"""Dedup / similarity-search queries (LLM-pipeline extensions +
SURVEY.md §2.10 X1).

Exact strategies carry full DuckDB oracles (the gram/hash math is
engine-portable integer arithmetic).  Approximate strategies whose output
is *verified exactly* (MinHash-LSH, SRP-LSH) also carry the exact-answer
oracle: their banding configs are chosen so recall at the registered
threshold is 1.0 on near-identical duplicates (measured in
tests/test_dedup.py); a recall regression would fail the oracle gate
loudly rather than silently.  KMeans-IVF is genuinely non-SQL — rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---- shared SQL fragments (mirror functions.text.tokenize / hashing) ----
# Defined BEFORE the registry import: training_pipeline imports these
# constants mid-cycle (dedup_queries → registry → training_pipeline →
# back here, partially initialized), so they must exist by the time the
# circular edge fires — this also keeps `import
# psy_supabase_spark.queries.dedup_queries` working standalone.
_TOKS = "list_filter(string_split_regex(lower({col}), '[^a-z0-9'']+'), x -> x != '')"
_CLEAN = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "{col}, '[‘’]', '''', 'g'), '[“”]', '\"', 'g'), '—', '-', 'g'), '…', '...', 'g'),"
    " '[^a-zA-Z0-9\\s.,!?''\"-]', ' ', 'g'), '\\s+', ' ', 'g'))"
)
_GRAMS = (
    "CASE WHEN len({t}) < 3 THEN [array_to_string({t}, ' ')] "
    "ELSE list_distinct([{t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2] "
    "for i in range(1, greatest(len({t}) - 2, 0) + 1)]) END"
)
_MD5_32 = "CAST(('0x' || substr(md5({s}), 1, 8)) AS BIGINT)"

_GRAM_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    grams AS (SELECT doc_id, {_GRAMS.format(t='t')} AS g FROM toks)
"""

# Inverted-index spelling (same answer as the naive all-pairs
# list_intersect join, since grams are DISTINCT per doc — shared-row count
# == intersection size), but O(sum df²) instead of O(N²·|g|): the oracle
# mirrors the Spark plan's candidate join and runs ~20× faster.
_EXACT_JACCARD_SQL = f"""
    WITH {_GRAM_CTE},
    gr AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    sizes AS (SELECT doc_id, len(g) AS n FROM grams),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b,
             ROUND(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""

from ..operators import dedup, ivf, lsh  # noqa: E402
from ..registry import register  # noqa: E402
from ..sources.catalog import load_table  # noqa: E402


@register(
    "dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_dupes, TRUE AS hash_first_match
    FROM (SELECT doc_id, lower({_CLEAN.format(col='text')}) AS norm FROM documents)
    GROUP BY norm
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keeper id + group size per group.

    ``hash_first_match`` absorbs driver evidence for the 100 TB spelling
    (``exact_dedup(hash_first=True)``: ≤48 B/row shuffle + exact collision
    resolve): TRUE iff the hash-first path produced the identical
    (keeper, size) row — the oracle emits literal TRUE, so the value hash
    matches only when the two spellings agree on every group."""
    docs = load_table(spark, sf_dir, "documents")
    text_key = dedup.exact_dedup(docs)
    hashed = dedup.exact_dedup(docs, hash_first=True).withColumnRenamed(
        "n_dupes", "_n2"
    )
    return text_key.join(hashed, "keeper_id", "left").select(
        "keeper_id",
        "n_dupes",
        (F.col("_n2").isNotNull() & (F.col("_n2") == F.col("n_dupes"))).alias(
            "hash_first_match"
        ),
    )


# pairs + cluster representative: DuckDB's recursive CTE computes the
# transitive closure of the (undirected) pair graph and takes the MIN
# reachable id per vertex — the exact contract of
# operators/dedup.connected_components (min-label propagation), so the
# driver gate now checks the CLUSTERING stage, not just pair generation.
_JACCARD_COMPONENT_SQL = f"""
    WITH RECURSIVE base AS ({_EXACT_JACCARD_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM base
      UNION
      SELECT id_b, id_a FROM base
    ),
    reach AS (
      SELECT src AS id, src AS comp FROM edges
      UNION
      SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    comps AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id)
    SELECT b.id_a, b.id_b, b.jaccard, c.component
    FROM base b JOIN comps c ON c.id = b.id_a
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_COMPONENT_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (j ≥ 0.5) via the
    inverted-index candidate join (no crossJoin; scale valve df_cap),
    plus ``component`` — the pair's cluster representative (min reachable
    id) from operators/dedup.connected_components, the keep-one-per-
    cluster stage of a training-data dedup pass, oracle-checked against a
    recursive-CTE transitive closure."""
    from pyspark.sql import functions as F

    pairs = dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.5)
    comp = dedup.connected_components(pairs).withColumnRenamed("id", "id_a")
    return pairs.join(F.broadcast(comp), "id_a").select("id_a", "id_b", "jaccard", "component")


@register("dedup_minhash_lsh", oracle=_EXACT_JACCARD_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 8×2 banded LSH candidates, exact-verified at j ≥ 0.5.
    Oracle is the exact answer: with near-identical planted dups
    (j ≥ 0.9) per-pair detection probability is 1-(1-0.81)^8 ≈ 0.9999998."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), 0.5)


@register(
    "simhash_neardup",
    oracle=f"""
    WITH {_GRAM_CTE},
    hashed AS (SELECT doc_id AS id, list_transform(g, s -> {_MD5_32.format(s='s')}) AS hl FROM grams),
    sh AS (
      SELECT id,
             list_sum([CASE WHEN list_sum(list_transform(hl, h -> ((h >> b) & 1) * 2 - 1)) > 0
                            THEN (1::BIGINT << b) ELSE 0::BIGINT END
                       for b in range(0, {dedup.SIMHASH_BITS})])::BIGINT AS simhash
      FROM hashed
    )
    SELECT a.id AS id_a, b.id AS id_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via the pigeonhole band join —
    provably identical output to the all-pairs scan the oracle runs."""
    return dedup.simhash_neardup_pairs(load_table(spark, sf_dir, "documents"), 3)


@register(
    "embedding_neardup_lsh",
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
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.5) via signed-random-projection
    banding + exact verify — the scale path for embedding_neardup_exact.
    Oracle is the exact answer (recall measured in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh.srp_neardup_pairs(emb, 0.5)


_ANN_K = 10


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           (ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                   sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) + 0.0) AS similarity,
           TRUE AS ann_recall_ge_05
    FROM embeddings e, q
    WHERE sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
      AND sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])) > 0
    ORDER BY similarity DESC, e.vec_id ASC
    LIMIT {_ANN_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: IVF (KMeans, 8 lists) ANN top-10 at nprobe=5, ORACLE-GATED via a
    recall tolerance boolean.  Emits the EXACT cosine top-10 (rows the
    DuckDB oracle reproduces bit-for-bit) plus ``ann_recall_ge_05`` =
    |IVF-ANN top-10 ∩ exact top-10| / 10 ≥ 0.5; the oracle emits a literal
    TRUE, so the driver's value hash matches iff the learned-centroid ANN
    path actually achieves the recall floor.  Deterministic on fixed data:
    the KMeans fit is seeded and its sf0.01 fit sample is the whole table
    (< FIT_SAMPLE_CAP rows).  Measured recall@10: 0.9 (sf0.001), 0.8
    (sf0.01) — uniform-random synthetic vectors are IVF's worst case (no
    cluster structure), hence the 0.5 floor; real corpora cluster far
    better.  The prune/assign/rank machinery itself is value-level
    oracle-gated by the fixed-centroid twin `ann_pruned_topk_fixed_centroids`."""
    from ..operators import topk as topk_ops
    from .vector_queries import _query_vec

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    exact = topk_ops.topk_similarity(emb, qv, k=_ANN_K)
    index = ivf.build_ivf_cached(emb, f"{sf_dir}/embeddings", n_lists=8)
    ann_ids = ivf.ivf_search(index, qv, k=_ANN_K, nprobe=5).select(
        F.col("vec_id").alias("_ann_id")
    )
    n_hits = exact.join(F.broadcast(ann_ids), exact.vec_id == F.col("_ann_id"), "left_semi").agg(
        F.count("*").alias("_n_hits")
    )
    return (
        exact.crossJoin(F.broadcast(n_hits))
        .withColumn("ann_recall_ge_05", F.col("_n_hits") >= F.lit(int(0.5 * _ANN_K)))
        .drop("_n_hits")
    )
