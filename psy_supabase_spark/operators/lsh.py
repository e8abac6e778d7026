"""Random-projection LSH for embedding similarity at scale.

Signed-random-projection (SRP): sign bits of dot products against a fixed
seeded hyperplane set approximate angular similarity.  Used two ways:
- near-duplicate candidate generation (banded bucket equi-join — replaces
  the O(N²) crossJoin of operators/topk.neighbors_above at 100 TB), with
  exact cosine verification of candidates (precision 1.0, recall measured);
- a cheap ANN pre-filter for top-k when IVF (operators/ivf) isn't built.

Hyperplanes are generated driver-side from a fixed seed and embedded as
literals — deterministic across runs and engines, broadcast as constants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import dedup

DEFAULT_SEED = 42


def hyperplanes(dim: int, n_planes: int, seed: int = DEFAULT_SEED) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def srp_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """Array of sign bits (0/1) of <v, h_i> for each hyperplane.

    Spec twin of :func:`srp_signature_np` — pure Catalyst expressions, but
    each plane is a separate interpreted HOF fold (LambdaFunction blocks
    codegen), so n_planes folds per row dominate the LSH cost.  Kept for
    the parity test; production paths use the numpy batch version."""
    bits = []
    for plane in planes:
        p = V.query_vector_lit(plane)
        bits.append(F.when(V.dot(F.col(vec_col), p) > 0, F.lit(1)).otherwise(F.lit(0)))
    return F.array(*bits)


def srp_signature_np(vec_col: str, planes: list[list[float]]) -> Column:
    """All sign bits in ONE float64 matmul per Arrow batch (pandas UDF).

    24 planes x dim 64 over an Arrow batch is a single BLAS GEMM — measured
    ~40x faster than the per-plane HOF folds at sf0.1 (4.3s -> 0.1s for the
    signature stage).  Sign parity with the expression twin: summation order
    differs (pairwise/blocked vs left-to-right), so a bit could flip only
    where |<v,h>| is at float-residual scale (~1e-13) — never observed on
    the testdata (asserted in test_dedup), and candidates are exact-verified
    downstream, so output correctness never depends on it.

    Rows that are NULL or have a length != dim get an all-zero signature,
    matching the expression twin (NULL dot -> predicate false -> bit 0).
    """
    planes_t = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    dim, n_planes = planes_t.shape

    @F.pandas_udf("array<int>")
    def _sig(s: pd.Series) -> pd.Series:
        vals = s.tolist()
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vals), dtype=bool, count=len(vals)
        )
        bits = np.zeros((len(vals), n_planes), dtype=np.int32)
        if ok.any():
            mat = np.stack([np.asarray(vals[i], dtype=np.float64) for i in np.flatnonzero(ok)])
            bits[ok] = (mat @ planes_t) > 0
        return pd.Series(list(bits))

    return _sig(F.col(vec_col))


def suggest_banding(
    n_rows: int,
    threshold: float,
    *,
    dim: int | None = None,
    target_bucket: int | None = None,
    target_recall: float = 0.95,
    max_bands: int = 32,
    min_bits: int = 3,
    max_bits: int = 20,
) -> tuple[int, int]:
    """(n_planes, bands) for :func:`srp_neardup_pairs`, scaled to corpus
    size and threshold — the knob the scale-step measurement showed MUST
    move with N: the dim-64 default (3-bit bands) keeps
    ~N/8-deep buckets, so candidate pairs grow ~N²/8 — 12.5M at 5k rows
    (fine), 1.25G at 50k (a wall).

    bits/band = log2(n/target_bucket) keeps expected bucket depth — and
    therefore candidates ≈ bands · N · depth/2 — LINEAR in N.  bands is
    then the smallest count reaching ``target_recall`` for pairs AT the
    threshold (per-bit agreement p = 1 − acos(t)/π, band match p^bits,
    recall 1−(1−p^bits)^bands), clamped to ``max_bands``.  Low thresholds
    at large N are intrinsically expensive (LSH math, not implementation):
    the clamp trades recall for cost and the returned config's actual
    recall should be read off the formula.

    ``dim`` shrinks the bucket target for wide vectors: verify cost is
    candidates × dim × 8 B of vector movement (the pair re-attach join),
    so the right depth falls as ~1/dim — target_bucket = 64·64/dim at
    the GEMM widths (functions/vector.is_wide).  Measured at dim 1536 /
    10k rows / t=0.9: the dim-64 default (8-bit buckets, depth ~39) costs 28.8 s at 0.971
    recall — ~1.7M candidates of 12 KB vectors; the dim-aware rule
    (13-bit buckets, depth ~1, 21 bands) costs 11.0 s at 0.976 — MORE
    bands and planes, ~8× fewer candidates, and both planes and explode
    rows are trivia next to the verify movement they avoid."""
    import math as m

    if target_bucket is None:
        target_bucket = max(1, (64 * 64) // dim) if V.is_wide(dim) else 64
    bits = min(max(min_bits, m.ceil(m.log2(max(n_rows, 2) / target_bucket))), max_bits)
    p = 1.0 - m.acos(max(min(threshold, 1.0), -1.0)) / m.pi
    band_p = p**bits
    if band_p >= 1.0:
        bands = 1
    else:
        bands = m.ceil(m.log(1.0 - target_recall) / m.log(1.0 - band_p))
        bands = min(max(bands, 1), max_bands)
    return bits * bands, bands


def cosine_pairs_np(a: Column, b: Column) -> Column:
    """Row-wise cosine of two array columns as ONE Arrow-batched numpy
    pass (stacked matrices, einsum row-dots) — the wide-dim verify kernel.

    At dim 64 the Catalyst fold (functions/vector.cosine_similarity with
    precomputed norms) wins: no Python boundary.  At the reference's real
    width the per-element interpreted lambda dominates — 25M candidate
    folds × 1536 elements priced the dim-1536 SRP verify beyond 8 minutes,
    vs ~1 s of GEMM (SCALE.md §width validation).  NULL / length-mismatched
    / zero-norm rows yield NaN — callers MUST fold NaN to NULL before any
    threshold predicate (Spark orders NaN above all doubles); see the
    ``F.isnan`` guard in :func:`_score_pairs`."""
    return _cosine_udf()(a, b)


def _cosine_udf():
    """A fresh instance of :func:`cosine_pairs_np`'s pandas UDF — fresh,
    because marking a UDF nondeterministic mutates it."""

    @F.pandas_udf("double")
    def _cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        la, lb = sa.tolist(), sb.tolist()
        out = np.full(len(la), np.nan)
        ok = [
            i
            for i, (x, y) in enumerate(zip(la, lb))
            if x is not None and y is not None and len(x) == len(y) and len(x) > 0
        ]
        if not ok:
            return pd.Series(out)
        # CHUNKED stack→einsum: one giant np.stack of a 175k-pair batch
        # allocates multi-GB float64 temporaries whose first-touch page
        # faults dominate the kernel (measured ~15 s for the monolithic
        # stack at 175k × 1536 vs ~1.5 s chunked).  Per-row values are
        # IDENTICAL — chunking changes allocation, not arithmetic: dots
        # stay einsum row-products, norms stay np.linalg.norm(axis=1),
        # both row-wise reductions independent of chunk grouping.
        # Rows of different widths land in different chunks (each pair is
        # already internally length-matched by the `ok` test).
        by_len: dict[int, list[int]] = {}
        for i in ok:
            by_len.setdefault(len(la[i]), []).append(i)
        for d, idxs in by_len.items():
            step = max(1, (8 << 20) // (8 * max(d, 1)))  # ~8 MB f64 chunks
            for s in range(0, len(idxs), step):
                ii = idxs[s : s + step]
                ma = np.stack([np.asarray(la[i], dtype=np.float64) for i in ii])
                mb = np.stack([np.asarray(lb[i], dtype=np.float64) for i in ii])
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                dots = np.einsum("ij,ij->i", ma, mb)
                denom = na * nb
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[ii] = np.where(denom > 0, dots / denom, np.nan)
        return pd.Series(out)

    return _cos


def _score_pairs(
    pairs: DataFrame, a: str, b: str, dim: int, keep: list[str]
) -> DataFrame:
    """``keep`` plus ``similarity``: the row-wise cosine of array columns
    ``a`` and ``b`` rounded to 6 dp, with the rows where it is undefined
    (NULL, zero-norm or length-mismatched vectors) dropped.  The kernel
    follows the width: :func:`cosine_pairs_np` at the GEMM widths, the
    Catalyst fold (functions/vector.cosine_similarity) below them."""
    if V.is_wide(dim):
        # the UDF gets a projection of its own, marked nondeterministic so
        # the optimizer cannot copy it into the NULL filter it pushes
        # below the CASE: a copy runs the whole Python stage a second time
        pairs = pairs.select(
            *keep, _cosine_udf().asNondeterministic()(F.col(a), F.col(b)).alias("_raw")
        )
        # NaN → NULL before any threshold test: Spark orders NaN ABOVE
        # every double, so a bare `NaN >= threshold` would admit the
        # degenerate rows the expression twin's NULL rejects
        sim = F.when(F.isnan("_raw"), F.lit(None).cast("double")).otherwise(
            F.round("_raw", 6)
        )
    else:
        sim = V.round6(V.cosine_similarity(a, b))
    return pairs.select(*keep, sim.alias("similarity")).where(
        F.col("similarity").isNotNull()
    )


def _int8_view(corpus: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """(id, q array<tinyint>, eps) per corpus row — the coarse-verify
    payload, one Arrow-batched numpy pass.  ``q`` is the per-vector
    symmetric int8 quantization (scale = max|v| / 127, HALF_UP rounding)
    and ``eps`` the SOUND per-vector cosine error bound ``scale·√d / ‖v‖``:
    with e = s·q − v (so ‖e‖ ≤ s·√d/2 elementwise)
    and x̂ = x/‖x‖, the unit-vector perturbation obeys ‖q̂ − v̂‖ ≤
    2‖e‖/‖v‖ ≤ s·√d/‖v‖, and for unit vectors |q̂_a·q̂_b − v̂_a·v̂_b| ≤
    ‖q̂_a − v̂_a‖ + ‖q̂_b − v̂_b‖ — so a pair whose int8 cosine falls below
    ``threshold − (eps_a + eps_b)`` PROVABLY fails the exact test and can
    be dropped before any float vector moves.  NULL and empty vectors get
    no row (they can never pass the exact verify); a zero vector gets
    ``eps = +inf``."""
    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"id {id_t}, q array<tinyint>, eps double"

    def quant(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf[vec_col].tolist()
            ok = np.fromiter(
                (v is not None and len(v) > 0 for v in vals),
                dtype=bool,
                count=len(vals),
            )
            if not ok.any():
                continue
            rows = np.flatnonzero(ok)
            # ragged-safe: group by length so np.stack never mixes dims
            out_id, out_q, out_eps = [], [], []
            by_len: dict[int, list[int]] = {}
            for i in rows:
                by_len.setdefault(len(vals[i]), []).append(i)
            for dim_l, idxs in by_len.items():
                m = np.stack([np.asarray(vals[i], dtype=np.float64) for i in idxs])
                amax = np.abs(m).max(axis=1)
                scale = np.where(amax == 0.0, 1.0, amax / 127.0)
                r = m / scale[:, None]
                # HALF_UP like F.round (np.round is half-even)
                q = (np.floor(np.abs(r) + 0.5) * np.sign(r)).astype(np.int8)
                nrm = np.linalg.norm(m, axis=1)
                with np.errstate(divide="ignore"):
                    eps = np.where(nrm > 0, scale * np.sqrt(dim_l) / nrm, np.inf)
                out_id.extend(pdf[id_col].to_numpy()[idxs].tolist())
                out_q.extend(list(q))
                out_eps.extend(eps.tolist())
            yield pd.DataFrame({"id": out_id, "q": out_q, "eps": out_eps})

    return corpus.select(id_col, vec_col).mapInPandas(quant, schema=schema)


def banded_rows(sig_df: DataFrame, n_planes: int, bands: int) -> DataFrame:
    """(id, band, key) rows from an ``(id, sig array<int>)`` frame — the
    SRP band-key explode shared by the batch pair search and the
    streaming admission filter (the stream indexes signatures once and
    re-derives band keys per micro-batch with THIS same spelling, so the
    two sides of its join can never disagree on banding)."""
    rows_per_band = n_planes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "",
                    *[
                        F.element_at(F.col("sig"), band * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for band in range(bands)
        ]
    )
    return sig_df.select("id", F.explode(band_structs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    dim: int = 64,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = DEFAULT_SEED,
    bucket_cap: int | None = dedup.DEFAULT_BUCKET_CAP,
    brute_fallback: bool = False,
) -> DataFrame:
    """SRP-bucketed batch ANN top-k — the LSH alternative to IVF when no
    index layout has been built (the module docstring's "cheap ANN
    pre-filter"): no training pass, no persisted state, just the seeded
    hyperplane set both sides re-derive.

    1. corpus and queries get the SAME seeded SRP signatures (one GEMM
       per Arrow batch) and band keys (`banded_rows` — the near-dup
       machinery verbatim, so `suggest_banding` applies: when
       ``n_planes``/``bands`` are omitted they self-tune for the corpus
       size via one count job, targeting candidate-RECALL at high
       cosine, which is where top-k neighbors live);
    2. candidates = (query, corpus row) sharing ≥1 band — an ids-only
       equi-join with the query side BROADCAST (queries ≪ corpus by
       contract, the `knn_join` shape) and the `counted_buckets` valve on
       the corpus side;
    3. exact cosine over candidates only (kernel auto-picked by width,
       like the near-dup verify), then the salted two-phase per-query
       top-k (`topk._salted_topk`, 16 salts — no reducer sorts more
       than its salt share).

    Output schema matches `topk.knn_join` / `ivf.ivf_search_batch`:
    (query_id, id, similarity, rank).  Recall is the banding's candidate
    recall at the neighbors' cosine — measured in tests on a clustered
    corpus; a query whose bucket finds < k candidates returns fewer rows
    (pre-filter semantics).  ``brute_fallback=True`` completes those
    queries declaratively: the ranked LSH result is checkpointed ONCE
    (≤ |queries|·k rows), queries that came back with < k rows are
    re-served whole by the exact brute KNN join (`topk.knn_join`, whose
    kernel follows the same width rule as the verify), and the union
    replaces their
    partial answers — full queries keep the cheap LSH rows, so the
    brute pass touches the corpus only when at least one query fell
    short, and only for those queries (broadcast side).  Scale: the
    corpus never shuffles for candidate generation (broadcast band
    join), candidates ride ids-only, and vectors re-attach once per
    surviving candidate."""
    from . import topk as topk_ops

    if n_planes is None or bands is None:
        auto_p, auto_b = suggest_banding(corpus.count(), 0.9, dim=dim)
        n_planes = n_planes if n_planes is not None else auto_p
        bands = bands if bands is not None else auto_b
    planes = hyperplanes(dim, n_planes, seed)
    c_sig = corpus.select(
        F.col(id_col).alias("id"), srp_signature_np(vec_col, planes).alias("sig")
    )
    c_banded = dedup.counted_buckets(banded_rows(c_sig, n_planes, bands), bucket_cap).drop(
        "_bn"
    )
    q_sig = queries.select(
        F.col(query_id).alias("id"), srp_signature_np(query_vec, planes).alias("sig")
    )
    q_banded = banded_rows(q_sig, n_planes, bands).select(
        F.col("id").alias("qid"), "band", "key"
    )
    cand = (
        F.broadcast(q_banded)
        .join(c_banded, ["band", "key"])
        .select("qid", "id")
        .distinct()
    )
    qv = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("_qv"))
    cv = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_cv"))
    attached = (
        cand.join(F.broadcast(qv), "qid")
        .join(cv, "id")
        .select(F.col("qid").alias(query_id), F.col("id").alias(id_col), "_cv", "_qv")
    )
    scored = _score_pairs(attached, "_cv", "_qv", dim, [query_id, id_col])
    ranked = topk_ops._salted_topk(scored, k, query_id, id_col, 16)
    if not brute_fallback:
        return ranked
    # materialize the bounded LSH answer once so the per-query counts
    # and the kept rows don't recompute the whole band-join subtree
    ranked = ranked.localCheckpoint(eager=True)
    full = (
        ranked.groupBy(query_id)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= k)
        .select(query_id)
    )
    # under-k = queries absent from `full` (covers zero-candidate
    # queries, which never reach `ranked` at all)
    under_q = queries.join(F.broadcast(full), query_id, "left_anti")
    brute = topk_ops.knn_join(
        corpus,
        under_q,
        k,
        corpus_id=id_col,
        corpus_vec=vec_col,
        query_id=query_id,
        query_vec=query_vec,
    ).select(query_id, id_col, "similarity", "rank")
    kept = ranked.join(F.broadcast(full), query_id, "left_semi").select(
        query_id, id_col, "similarity", "rank"
    )
    return kept.unionByName(brute)


def _broadcast_verify_pairs(
    corpus: DataFrame,
    cands: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    max_broadcast_bytes: int,
    exact_fold: bool = False,
) -> DataFrame:
    """(id_a, id_b, _raw double) for candidate pairs, scored against a
    BROADCAST corpus matrix — the small-corpus verify route.

    The join route ships vector payloads through two shuffle joins; when
    the whole corpus matrix fits an executor broadcast (n·dim·8 B ≤
    ``max_broadcast_bytes``), it is strictly cheaper to move the matrix
    ONCE and score bare id-pairs in place: no payload shuffle, and the
    kernel parallelism is the candidate partitioning (explicitly
    repartitioned to the default parallelism — the ids-only shuffle is so
    small that AQE's size-targeted coalescing would otherwise fold it to
    1-2 partitions and serialize the Python stage; measured 13 s → ~1 s
    on 175k candidates at dim 1536).

    Bounded driver fetch: at most ``max_broadcast_bytes // (dim·8)`` rows
    are pulled (Arrow, zero-copy to numpy); one row more raises —
    callers route through the join path instead.  NULL / wrong-dim rows
    are excluded from the matrix, so pairs touching them score NaN →
    NULL, exactly as :func:`cosine_pairs_np` treats them; zero-norm rows
    stay in the matrix and score NaN via the 0-denominator, same as the
    kernel.  Per-row arithmetic is bit-identical to the join kernel:
    float64 einsum row-dots over row copies, np.linalg.norm(axis=1)
    norms — row-wise reductions, independent of which rows are stacked
    together.

    Unique-id contract: the route raises on duplicate ids — searchsorted
    maps each id to one matrix row, so the join route's
    one-scored-row-per-duplicate behavior is not reproducible here;
    callers with duplicated ids must use verify_route='join'.

    ``exact_fold``: compute dots and norms with a SEQUENTIAL
    left-to-right fold over the dimensions (vectorized across pairs,
    ordered across dims) instead of einsum/np.linalg.norm.  Every
    multiply and add then IEEE-rounds in exactly the order of the
    narrow-dim Catalyst spelling (``zip_with`` + ``aggregate`` with a
    0.0 seed, ``sqrt`` of the self-fold for the norm, one
    ``dot/(na*nb)`` division), so the raw score is BIT-IDENTICAL to
    functions/vector.dot — what makes narrow dims eligible for this
    route at all (pinned in tests/test_gemm_search.py).  ~64 array ops
    per batch instead of one einsum: still vectorized across the pair
    axis, unmeasurable next to the einsum at narrow dims."""
    spark = corpus.sparkSession
    max_rows = max(1, max_broadcast_bytes // (dim * 8))
    tbl = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .limit(max_rows + 1)
        .toArrow()
    )
    if tbl.num_rows > max_rows:
        raise ValueError(
            f"corpus exceeds max_broadcast_bytes={max_broadcast_bytes} "
            f"({max_rows} rows at dim {dim}); use verify_route='join'"
        )
    ids_all = tbl.column("id").to_numpy(zero_copy_only=False)
    vcol = tbl.column("v").combine_chunks()
    lens = np.diff(vcol.offsets.to_numpy(zero_copy_only=False))
    if vcol.null_count == 0 and len(lens) == len(ids_all) and (lens == dim).all():
        # uniform clean column: ONE flat zero-copy-ish view, no per-row work
        mat = (
            vcol.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64, copy=False)
            .reshape(-1, dim)
        )
    else:
        vecs = vcol.to_pylist()
        keep = [i for i, v in enumerate(vecs) if v is not None and len(v) == dim]
        ids_all = ids_all[keep]
        mat = np.asarray([vecs[i] for i in keep], dtype=np.float64).reshape(
            len(keep), dim
        )
    order = np.argsort(ids_all, kind="stable")
    ids_sorted = ids_all[order]
    if len(ids_sorted) > 1 and (ids_sorted[1:] == ids_sorted[:-1]).any():
        # searchsorted resolves each id to ONE matrix row, while the join
        # route scores one row per duplicate — the routes are only
        # row-identical under unique ids, so refuse rather than silently
        # collapse duplicates.
        raise ValueError(
            f"duplicate values in id column '{id_col}': the broadcast "
            "verify route requires unique ids; use verify_route='join'"
        )
    mat = np.ascontiguousarray(mat[order])
    if exact_fold:
        # sqrt of the sequential self-fold — bit-identical to
        # functions/vector.l2_norm's aggregate(0.0, acc + x*x)
        acc = np.zeros(len(mat))
        for d in range(mat.shape[1]):
            acc += mat[:, d] * mat[:, d]
        norms = np.sqrt(acc)
    else:
        norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids_sorted, mat, norms))

    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_t}, id_b {id_t}, _raw double"
    step = max(1, (8 << 20) // (8 * dim))  # ~8 MB f64 chunks, as the kernel

    def score(batches):
        ids_s, M, nrm = bc.value
        n_idx = len(ids_s)
        for pdf in batches:
            if pdf.empty:
                continue
            a = pdf["id_a"].to_numpy()
            b = pdf["id_b"].to_numpy()
            raw = np.full(len(a), np.nan)
            if n_idx:
                ia = np.clip(np.searchsorted(ids_s, a), 0, n_idx - 1)
                ib = np.clip(np.searchsorted(ids_s, b), 0, n_idx - 1)
                ok = (ids_s[ia] == a) & (ids_s[ib] == b)
                ii = np.flatnonzero(ok)
                for s in range(0, len(ii), step):
                    jj = ii[s : s + step]
                    A, B = M[ia[jj]], M[ib[jj]]
                    if exact_fold:
                        # sequential dim fold, vectorized across pairs —
                        # bit-identical to the zip_with+aggregate spelling
                        dots = np.zeros(len(jj))
                        for d in range(A.shape[1]):
                            dots += A[:, d] * B[:, d]
                    else:
                        dots = np.einsum("ij,ij->i", A, B)
                    denom = nrm[ia[jj]] * nrm[ib[jj]]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        raw[jj] = np.where(denom > 0, dots / denom, np.nan)
            yield pd.DataFrame({"id_a": a, "id_b": b, "_raw": raw})

    spread = cands.repartition(spark.sparkContext.defaultParallelism)
    return spread.mapInPandas(score, schema=schema)


def srp_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 24,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
    bucket_cap: int | None = dedup.DEFAULT_BUCKET_CAP,
    hot_id_threshold: int | None = 100_000,
    verify_route: str = "auto",
    n_rows: int | None = None,
    max_broadcast_bytes: int = 256 << 20,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold) via SRP banding + exact verify.

    Candidates = pairs agreeing on all bits of ≥1 band.  8 bands × 3 bits:
    a borderline pair at cosine 0.51 (angle ~59°, per-bit agreement 0.67)
    survives with p = 1-(1-0.67³)^8 ≈ 0.95; measured output equals the
    exact crossJoin answer at sf0.001/0.01/0.1 at 23× less cost (sf0.1:
    5.3s vs 124.5s).  Verification computes exact cosine (with norms
    precomputed per vector), so output ⊆ exact output always.

    ``bucket_cap`` (None disables): drop (band, key) buckets with more
    members — see :func:`.dedup.counted_buckets` for the quadratic-reducer
    rationale.  Zero/degenerate embeddings all signature to the same
    slice, so at corpus scale the valve is load-bearing, not theoretical.

    ``hot_id_threshold`` (None disables): even with capped buckets, one
    document appearing in more than this many candidate PAIRS skews the
    payload re-attach joins (all its rows hash to one reducer), and
    default AQE does not split that shape (see
    :func:`.dedup.minhash_lsh_pairs` — pinned in tests/test_scale.py).
    Hot ids are ESTIMATED from the valve window's bucket sizes
    (:func:`.dedup.hot_id_estimate`: Σ(bucket−1) upper-bounds pair
    membership; top-10k hottest, deterministic, no localCheckpoint) and,
    only when hot ids exist, their payload rows are replicated across
    salts via :func:`.scale.salted_join_hot_keys` — row-identical
    output, bounded per-reducer fan-in.

    Verify kernel: Catalyst folds with precomputed norms at narrow dims
    (one dot per candidate, no Python boundary); Arrow GEMM
    (:func:`cosine_pairs_np`) at the GEMM widths
    (functions/vector.is_wide), where the interpreted per-element fold
    dominates.  At those widths the join route also pre-verifies
    coarsely: candidates are first scored on int8 quantized vectors (8×
    narrower payload than float64 arrays) and a pair is dropped only when its
    coarse cosine falls below ``threshold − (eps_a + eps_b)`` — the
    per-pair SOUND quantization error bound carried by
    :func:`_int8_view` — so the drop PROVABLY cannot lose a qualifying
    pair and the float vectors are re-attached only for the surviving
    sliver.  Output is row-identical to the direct verify (pinned in
    tests).  Measured dim 1536 / 10k rows / t=0.9: 17.8 s → ~10 s.  At
    narrow dims it is a wash (the per-candidate cost there is join-row
    overhead and the same interpreted fold on int8 as on float64, not
    payload bytes), so the narrow path keeps the single-stage verify.

    ``verify_route`` ("auto"): how exact verification reaches the
    vectors.  "join" attaches payloads to candidate pairs via shuffle
    joins (+ the int8 coarse pre-drop) — the 100 TB shape.  "broadcast"
    ships the corpus matrix once and scores bare id-pairs in place
    (:func:`_broadcast_verify_pairs`) — strictly cheaper whenever the
    matrix fits ``max_broadcast_bytes``, and row-identical to the join
    route (pinned in tests).  "auto" broadcasts iff n·dim·8 B fits the
    valve, using ``n_rows`` when the caller knows it (else one
    parquet-metadata-cheap count job).  Kernel follows the width:
    einsum GEMM at the GEMM widths, exact sequential fold at narrow
    widths (bit-identical to the narrow join route's
    zip_with+aggregate spelling, so auto no longer excludes narrow
    dims).  Measured dim 1536 / 10k rows / t=0.9: join 11.3 s →
    broadcast ~5 s.  Duplicate-id corpora must pass "join" (the
    broadcast route raises — unique-id contract).
    ``signatures``: precomputed (id, sig) rows for exactly the rows in
    ``corpus``, built under the SAME (dim, n_planes, seed) — skips the
    signature GEMM here (the streaming filter computes it once per
    micro-batch and feeds every consumer).  Caller owns
    both the id-set and the config equivalence; verification still
    reads vectors from ``corpus``.
    """
    if signatures is not None:
        sig = signatures
    else:
        planes = hyperplanes(dim, n_planes, seed)
        sig = corpus.select(
            F.col(id_col).alias("id"),
            srp_signature_np(vec_col, planes).alias("sig"),
        )
    banded = banded_rows(sig, n_planes, bands)
    counted = dedup.counted_buckets(banded, bucket_cap)
    banded = counted.drop("_bn")
    # ids-only candidate join (vector payloads never ride the band shuffle)
    # merge hint (the dedup.minhash_lsh_pairs rationale): both
    # sides are one signature→window subtree; broadcast computes it
    # twice, sort-merge reuses the valve window's (band, key) exchange.
    cands = (
        banded.alias("a")
        .join(banded.alias("b").hint("merge"), ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    wide = V.is_wide(dim)

    # verify routing: "broadcast" scores bare id-pairs against a
    # broadcast corpus matrix (no payload shuffles — see
    # _broadcast_verify_pairs); "join" is the scale path (payload attach
    # joins, plus the sound int8 coarse pre-drop at the GEMM widths).
    if verify_route not in ("auto", "join", "broadcast"):
        raise ValueError(f"unknown verify_route {verify_route!r}")
    if verify_route == "auto":
        # every width is broadcast-eligible: the narrow exact-fold kernel
        # reproduces the Catalyst zip_with+aggregate fold bit for bit.
        # The n·dim·8 B valve decides; the count is parquet-metadata
        # cheap when ``n_rows`` wasn't passed.
        n_est = n_rows if n_rows is not None else corpus.count()
        verify_route = (
            "broadcast" if n_est * dim * 8 <= max_broadcast_bytes else "join"
        )
    if verify_route == "broadcast":
        # kernel choice: einsum GEMM at the GEMM widths (the wide join
        # route's own kernel — routes stay row-identical), exact
        # sequential fold at narrow widths (bit-identical to the narrow
        # join route's expression spelling).  One posture note: a vector
        # containing NaN scores NULL here (as the wide kernel always
        # did), while the narrow join route lets the NaN ride into the
        # >= comparison — identical on any corpus without NaN payloads.
        scored = _broadcast_verify_pairs(
            corpus,
            cands,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            max_broadcast_bytes=max_broadcast_bytes,
            exact_fold=not wide,
        )
        braw = F.col("_raw")
        bsim = F.when(F.isnan(braw), F.lit(None).cast("double")).otherwise(
            F.round(braw, 6)
        )
        return (
            scored.select("id_a", "id_b", bsim.alias("similarity"))
            .where(F.col("similarity").isNotNull() & (F.col("similarity") >= threshold))
        )

    hot: list = []
    if hot_id_threshold is not None:
        # ONE hot set covers both sides (the estimate is side-agnostic);
        # salting a merely-warm id is harmless (row-identical), so the
        # shared superset costs nothing but payload replication.  Bounded
        # (≤10k) driver fetch — a narrow job over the banded rows (GEMM
        # recomputed once: map-side, deterministic, fault-tolerant,
        # ~0.1s/sf0.1 — unlike a localCheckpoint); the salt machinery
        # engages only when hot ids exist, so the clean-corpus case pays
        # one light job and keeps the plain joins.
        hot = [r[0] for r in dedup.hot_id_estimate(counted, hot_id_threshold).collect()]

    def _attach(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        if hot:
            from . import scale

            out = scale.salted_join_hot_keys(pairs, left, "id_a", hot, n_salts=16)
            return scale.salted_join_hot_keys(out, right, "id_b", hot, n_salts=16)
        return pairs.join(left, "id_a").join(right, "id_b")

    if wide:
        q8 = _int8_view(corpus, id_col=id_col, vec_col=vec_col)
        qa = q8.select(
            F.col("id").alias("id_a"), F.col("q").alias("_qa"), F.col("eps").alias("_ea")
        )
        qb = q8.select(
            F.col("id").alias("id_b"), F.col("q").alias("_qb"), F.col("eps").alias("_eb")
        )
        rawc = cosine_pairs_np(F.col("_qa"), F.col("_qb"))
        coarse = F.when(F.isnan(rawc), F.lit(None).cast("double")).otherwise(rawc)
        # 1e-6 slack: the exact test compares the 6-dp HALF_UP-ROUNDED
        # cosine (round can lift a value by 5e-7), plus float ordering
        # slop — everything else is the sound quantization bound itself
        cands = _attach(cands, qa, qb).where(
            coarse.isNotNull()
            & (coarse >= F.lit(threshold) - (F.col("_ea") + F.col("_eb")) - F.lit(1e-6))
        ).select("id_a", "id_b")

        vec = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        va = vec.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
        vb = vec.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
        scored = _score_pairs(_attach(cands, va, vb), "va", "vb", dim, ["id_a", "id_b"])
        return scored.where(F.col("similarity") >= threshold)

    # precompute norms once per vector: verification then costs ONE dot
    # product per candidate instead of three (same doubles as computing
    # sqrt(dot(x,x)) inline, so oracle-rounded values are unchanged)
    withnorm = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), V.l2_norm(vec_col).alias("nrm")
    )
    va = withnorm.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    vb = withnorm.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    sim = V.round6(V.cosine_from_norms("va", "vb", F.col("na"), F.col("nb")))
    return (
        _attach(cands, va, vb)
        .select("id_a", "id_b", sim.alias("similarity"))
        .where(F.col("similarity").isNotNull() & (F.col("similarity") >= threshold))
    )
