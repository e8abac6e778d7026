"""Deterministic synthetic corpora for scale / dimensionality validation.

The driver testdata fixes embeddings at dim 64 (TESTDATA.md), but the
reference's declared workload is ``vector(1536)`` (reference
`query.txt:84`) and its generator actually emits dim-2048 embeddings
(reference `text_generator.py:314-316`).  GEMM batch shapes, PQ
compression ratios, and LSH banding constants all shift with dimension,
so the vector family is validated at the real width against corpora
produced here (BENCH extras ``dim1536_*``; tools/scale_step.py).

Every row is a pure function of ``(seed, vec_id)`` — generation is
deterministic under any partitioning, any cluster size, and any retry
(the same property the hash samplers in operators/sampling guarantee).
Vectors are drawn as mode + Gaussian noise around ``n_modes`` planted
unit modes: real embedding corpora cluster (that is WHY IVF works), and
uniform-random vectors are the measured worst case already covered by
the driver testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def synthetic_embeddings(
    spark: SparkSession,
    n: int,
    dim: int,
    *,
    n_modes: int = 32,
    noise: float = 0.3,
    seed: int = 1536,
    id_start: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """(vec_id long, embedding array<float>): ``n`` clustered vectors.

    Row ``i`` = unit(mode[i % n_modes] + ε), ε ~ N(0, noise²/dim · I) —
    ``noise`` is the EXPECTED L2 NORM of the perturbation, not the
    per-coordinate σ (a per-coordinate σ would scale the perturbation by
    √dim and drown the modes at high dimension: σ=0.3 at dim 1536 is an
    ‖ε‖≈11.8 — measured to flatten IVF recall to ~0.25).  At the default
    0.3 the within-mode cosine is ≈ 1/√1.09 ≈ 0.96 at any dim.  Each
    row's RNG is seeded ``(seed, vec_id)`` — distributed generation with
    no driver materialization and no partitioning dependence.  float32
    storage mirrors the testdata embeddings table."""
    import numpy as np
    import pandas as pd

    mode_rng = np.random.default_rng(seed)
    modes = mode_rng.standard_normal((n_modes, dim))
    modes /= np.linalg.norm(modes, axis=1)[:, None]
    sigma = noise / float(np.sqrt(dim))

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim), dtype=np.float64)
            for j, i in enumerate(ids):
                rng = np.random.default_rng([seed, int(i)])
                v = modes[int(i) % n_modes] + sigma * rng.standard_normal(dim)
                out[j] = v / np.linalg.norm(v)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(out.astype(np.float32))}
            )

    rng_df = spark.range(id_start, id_start + n)
    if partitions is not None:
        rng_df = rng_df.repartition(partitions)
    return rng_df.mapInPandas(gen, schema="vec_id long, embedding array<float>")


def scaled_documents(docs: DataFrame, factor: int, *, id_stride: int = 10_000_000) -> DataFrame:
    """A ``factor``× document corpus for scale-step measurement.

    Copy k keeps copy 0's text verbatim; copies k>0 pass the text through
    a per-copy Caesar rotation of the letters (a BIJECTION on the
    alphabet, applied identically to every doc in a copy): WITHIN-copy
    duplicate structure — exact-equality groups, shingle overlaps,
    Jaccard values — is preserved isomorphically, while CROSS-copy tokens
    and shingles differ, so dedup pair counts scale ~linearly in
    ``factor`` instead of quadratically.  Duplicating text verbatim would
    measure a planted pair explosion, not the operator's scaling."""
    from functools import reduce

    from pyspark.sql import functions as F

    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    # Per-copy bijection = affine cipher x -> (a·x + b) mod 26 with a
    # coprime to 26: 12 multipliers × 26 shifts = 312 distinct letter
    # bijections (Caesar rotations are the a=1 subset, which capped the
    # old construction at 26 copies — r9 needed 30× for the shuffle-heavy
    # dedup families).  Copy k gets (a, b) = (COPRIMES[k // 26], k % 26),
    # injective in k, identity only at k=0 — so no two copies share a
    # bijection and cross-copy text never collapses to verbatim dups.
    # Caveat (r9 advice): unlike distinct Caesar shifts (which agree on
    # NO letter), two distinct affine maps can agree on up to one fixed
    # point pair — a text drawn ONLY from a map pair's agreement set
    # could still collide verbatim across copies.  Real/synthetic corpora
    # use enough of the alphabet that this never occurs (any second
    # distinct letter breaks the agreement), so the linear-pair-count
    # property holds in practice; a corpus of single-letter texts would
    # need per-pair inequality asserted on the letters actually present.
    coprimes = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
    if factor > len(coprimes) * 26:
        raise ValueError(
            f"scaled_documents: factor > {len(coprimes) * 26} would repeat bijections"
        )
    copies = []
    for k in range(factor):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * id_stride))
        if k > 0:
            a, b = coprimes[k // 26], k % 26
            mapped = "".join(lower[(a * i + b) % 26] for i in range(26))
            c = c.withColumn(
                "text",
                F.translate(F.col("text"), lower + upper, mapped + mapped.upper()),
            )
        copies.append(c)
    return reduce(lambda a, b: a.unionByName(b), copies)
