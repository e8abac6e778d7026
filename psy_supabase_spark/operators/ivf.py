"""IVF (inverted-file) vector index — the Spark re-design of the
reference's pgvector ivfflat index (reference `query.txt:88-98, 208-226`:
``CREATE INDEX ... USING ivfflat (embedding vector_cosine_ops) WITH
(lists = 100)``).

There is no index object in Spark; IVF becomes a *physical layout*:
1. build: MLlib KMeans over (a sample of) the corpus → centroid table;
   every row gets a ``centroid_id``; persisted layouts are written
   ``partitionBy("centroid_id")``.
2. search: rank centroids against the query vector (driver-side — the
   centroid table is tiny; this is the planner's job, like pgvector's
   ``probes``), scan only the ``nprobe`` best partitions — Catalyst
   partition pruning turns that into file-level skipping — and run exact
   top-k within.

recall@k vs the exact scan is a measured property (tests + bench), the
same trade pgvector's lists/probes make.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import topk as topk_ops


@dataclass
class IVFIndex:
    centers: list[list[float]]  # centroid vectors, index = centroid_id
    assigned: DataFrame  # corpus + centroid_id column


FIT_SAMPLE_CAP = 100_000  # rows collected to the driver for the fit

# auto n_lists rule (SCALE.md): per-list partitions should stay under
# ~1 GB so a probed list is one comfortable task read
TARGET_LIST_BYTES = 1 << 30


def default_n_lists(
    n_rows: int,
    dim: int,
    *,
    target_list_bytes: int = TARGET_LIST_BYTES,
    min_lists: int = 4,
    max_lists: int = 65_536,
) -> int:
    """Self-tuning lists count: ``max(√N, size-floor)`` clamped.

    √N is the classical IVF balance point (per-list scan cost ≈ probe
    cost; FAISS's guideline) — at 10× corpus it grows ~3.2×, keeping
    per-list row counts ~3.2× instead of 10×.  The size floor guarantees
    a probed list never exceeds ``target_list_bytes`` on disk (float32
    payload + per-row overhead estimate), the ≤1 GB-per-partition target
    SCALE.md sets — whichever demands MORE lists wins."""
    n = max(int(n_rows), 1)
    bytes_per_row = 4 * dim + 16
    by_sqrt = math.isqrt(n)
    by_size = -(-n * bytes_per_row // target_list_bytes)  # ceil div
    return max(min(max(by_sqrt, by_size), max_lists, n), min(min_lists, n), 1)


def fit_sample_vectors(
    vecs: DataFrame, cap: int, *, id_col: str, vec_col: str
) -> "list":
    """Collect ≤``cap`` vectors for a driver-side model fit,
    deterministically and WITHOUT input-layout bias.

    Rows are taken in ``xxhash64(id)`` order — a fixed pseudo-random
    global order that is a pure function of the ids, so the sample is
    (a) identical under any repartitioning / file ordering (a bare
    ``.limit(cap)`` takes whatever partitions the scheduler lists first)
    and (b) distribution-covering on sorted/clustered corpora: crawl data
    arrives sorted by domain/topic, and a first-partitions sample would
    fit every centroid inside one mode (the round-5 verdict's #2 risk).
    TWO-PHASE so no executor ever heaps WIDE rows: phase 1 takes the
    top-``cap`` ids by hash over the id column alone (parquet column
    pruning makes this a narrow scan; TakeOrderedAndProject heaps are
    ~16 B/row — a single-phase TakeOrdered over the vectors would hold
    cap × dim bytes per task, ~600 MB at dim 1536/cap 100k).  Phase 2
    broadcast-semi-joins the ≤cap ids back to fetch their vectors and
    re-sorts the bounded result so the collected ORDER (which seeds
    k-means++) is a pure function of the ids too.
    xxhash64 (not the engine's portable md5 bucketing,
    operators/sampling.md5_hash32) because a fit sample needs no
    cross-engine mirror — only layout independence — and the JVM-native
    hash is far cheaper at corpus scale."""
    order = [F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()]
    ids = vecs.select(id_col).orderBy(*order).limit(cap)
    return (
        vecs.join(F.broadcast(ids), id_col, "left_semi")
        .orderBy(*order)
        .select(vec_col)
        .collect()
    )


def _spherical_kmeans(x, k: int, seed: int, max_iter: int):
    """k-means++ seeded Lloyd iterations on UNIT vectors (cosine geometry;
    centroids re-normalized each step).  Pure numpy on the driver — the
    model is k×dim floats, the fit set a bounded sample; there is nothing
    to distribute (MLlib KMeans on the same input spends seconds of
    per-iteration job scheduling to do this exact arithmetic)."""
    import numpy as np

    n = x.shape[0]
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[int(rng.integers(n))]
    d = np.maximum(1.0 - x @ centers[0], 0.0)
    for j in range(1, k):
        tot = d.sum()
        probs = d / tot if tot > 0 else np.full(n, 1.0 / n)
        centers[j] = x[int(rng.choice(n, p=probs))]
        d = np.minimum(d, np.maximum(1.0 - x @ centers[j], 0.0))
    for _ in range(max_iter):
        assign = (x @ centers.T).argmax(axis=1)
        prev = centers.copy()
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                nrm = float(np.linalg.norm(c))
                if nrm > 0:
                    centers[j] = c / nrm
        if np.allclose(centers, prev):
            break
    return centers


def build_ivf(
    corpus: DataFrame,
    n_lists: int | None = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    fit_sample_fraction: float | None = None,
    fit_sample_cap: int = FIT_SAMPLE_CAP,
) -> IVFIndex:
    """Spherical KMeans(k=n_lists) fit on a bounded sample; every corpus
    row tagged with its nearest centroid by an Arrow-batched matmul.

    ``n_lists=None`` self-tunes via :func:`default_n_lists` (≈√N with a
    ≤1 GB-per-list floor) at the cost of one count job — build-time work,
    amortized like the fit itself.  The fit sample is hash-ordered
    (:func:`fit_sample_vectors`), so centroids are identical under any
    input partitioning and cover the full corpus distribution even when
    the corpus arrives sorted by domain/topic.

    At 100 TB the fit NEVER needs the cluster: the model is k×dim floats
    and the fit input a ≤``fit_sample_cap``-row sample, so it runs as
    driver-side numpy (pgvector's ivfflat build samples the same way).
    Assignment is the distributed half — one ``mapInPandas`` pass over the
    corpus, each Arrow batch scored against the broadcast centroid matrix
    with a single (batch×dim)·(dim×k) matmul.
    """
    import numpy as np

    vecs = corpus.select(id_col, vec_col)
    fit_df = vecs.sample(fit_sample_fraction, seed=seed) if fit_sample_fraction else vecs
    if n_lists is None:
        head = fit_df.select(vec_col).where(F.col(vec_col).isNotNull()).head()
        if head is None:
            raise ValueError("build_ivf: empty corpus")
        n_lists = default_n_lists(vecs.count(), len(head[0]))
    # k-means needs ~tens of points per centroid, not the whole corpus
    # (FAISS guidance: 30-256 training points per list) — capping the
    # collected sample at 64·k (floor 10k, never above the caller's cap)
    # keeps the driver fetch O(k·dim) instead of O(cap·dim): the 100k-row
    # dim-1536 scale-step build spent most of its 59 s collecting a 1.2 GB
    # sample to fit 316 centroids that ~20k points determine just as well
    eff_cap = min(fit_sample_cap, max(10_000, 64 * n_lists))
    sample = fit_sample_vectors(fit_df, eff_cap, id_col=id_col, vec_col=vec_col)
    x = np.array([r[0] for r in sample], dtype=np.float64)
    if x.size == 0:
        raise ValueError("build_ivf: empty corpus")
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    centers_np = _spherical_kmeans(x, n_lists, seed, max_iter)
    centers = [list(map(float, c)) for c in centers_np]

    assigned = assign_to_centroids(corpus, centers, id_col=id_col, vec_col=vec_col)
    return IVFIndex(centers=centers, assigned=assigned)


def assign_to_centroids(
    corpus: DataFrame,
    centers: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag every row with its nearest centroid (max cosine): one
    ``mapInPandas`` pass, each Arrow batch scored against the broadcast
    centroid matrix with a single (batch×dim)·(dim×k) matmul.  The
    distributed half of both the initial build AND incremental appends."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    ct = np.array(centers, dtype=np.float64).T.copy()  # dim×k, in the closure once
    out_schema = StructType(
        [corpus.schema[id_col], StructField("centroid_id", IntegerType(), False)]
    )

    def assign(batches):
        for pdf in batches:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0] = 1.0  # zero vectors → all-zero sims → centroid 0
            sims = (m / nrm[:, None]) @ ct
            yield pd.DataFrame(
                {id_col: pdf[id_col], "centroid_id": sims.argmax(axis=1).astype("int32")}
            )

    return corpus.select(id_col, vec_col).mapInPandas(assign, schema=out_schema).join(
        corpus, id_col
    )


_BUILD_MEMO: dict[tuple[int, str, int], IVFIndex] = {}


def build_ivf_cached(corpus: DataFrame, source_key: str, n_lists: int = 16, **kw) -> IVFIndex:
    """Process-lifetime memo of ``build_ivf`` keyed by (session, source, k).

    An index is build-once/search-many (the reference instead re-created its
    ivfflat index per request, `main.py:57` — its own documented mistake);
    callers over immutable sources (the testdata tables) share one build per
    session.  Mutable callers (api.TenantStore) must invalidate on write.
    """
    key = (id(corpus.sparkSession), source_key, n_lists)
    if key not in _BUILD_MEMO:
        idx = build_ivf(corpus, n_lists=n_lists, **kw)
        idx.assigned = idx.assigned.cache()
        _BUILD_MEMO[key] = idx
    return _BUILD_MEMO[key]


def rank_centroids(centers: list[list[float]], query_vec: list[float]) -> list[int]:
    """Centroid ids ordered by ascending cosine distance to the query —
    pure driver-side math over the (tiny) centroid table."""

    def cos_dist(c: list[float]) -> float:
        dot = sum(a * b for a, b in zip(c, query_vec))
        nc = math.sqrt(sum(a * a for a in c))
        nq = math.sqrt(sum(b * b for b in query_vec))
        return 1.0 - (dot / (nc * nq)) if nc > 0 and nq > 0 else float("inf")

    return sorted(range(len(centers)), key=lambda i: (cos_dist(centers[i]), i))


def ivf_search(
    index: IVFIndex,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: scan only the nprobe closest centroid partitions.

    The ``centroid_id.isin(...)`` filter is exactly what prunes parquet
    partitions when the layout is written partitionBy("centroid_id") —
    pgvector's probes, re-expressed as partition pruning.  The exact
    top-k within is :func:`.topk.topk_similarity`, which scores wide
    queries with the GEMM kernel.
    """
    probe_ids = rank_centroids(index.centers, query_vec)[:nprobe]
    pruned = index.assigned.where(F.col("centroid_id").isin(probe_ids))
    return topk_ops.topk_similarity(pruned, query_vec, k=k, id_col=id_col, embedding_col=vec_col)


def write_ivf_layout(index: IVFIndex, path: str, *, vec_col: str = "embedding") -> None:
    """Persist the IVF physical layout: parquet partitioned by centroid_id
    (one directory per list — the moral equivalent of pgvector's inverted
    lists, readable with partition pruning).  The row norm is precomputed
    into ``_vnorm`` at write time — norms are index-BUILD work, so serving
    scores with ONE fold per row instead of three."""
    index.assigned.withColumn("_vnorm", V.l2_norm(vec_col)).write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(path)


def append_to_layout(
    new_rows: DataFrame,
    path: str,
    centers: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign new vectors to the EXISTING
    centroids and append into their partitions — no KMeans refit, no
    layout rewrite; searches see the new vectors immediately (exact scan
    within probed lists).

    This is how pgvector's ivfflat behaves on INSERT too: rows join the
    nearest existing list and the centroids drift from the true data
    distribution.  Recall degrades gradually as appended mass grows;
    rebuild (``build_ivf`` + ``write_ivf_layout``) once appends exceed
    ~30-50% of the indexed volume — at which point the old layout swap is
    atomic if the path is a ``sources/txlog.TxTable`` overwrite."""
    assigned = assign_to_centroids(new_rows, centers, id_col=id_col, vec_col=vec_col)
    assigned.withColumn("_vnorm", V.l2_norm(vec_col)).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(path)


def search_layout(
    spark,
    path: str,
    centers: list[list[float]],
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted layout; the isin filter prunes at file level
    (verify with .explain → PartitionFilters).

    Layouts written by :func:`write_ivf_layout` carry a precomputed
    ``_vnorm`` column: scoring then costs one fold per row — the query
    norm is a driver-side Python float (IEEE-754 like the JVM's, same
    left-to-right accumulation order, so similarities are bit-identical
    to the inline spelling — parity-asserted in tests).  Layouts without
    the column fall back to the three-fold inline cosine, and a MIXED
    layout (files without the column plus later appends) is handled per
    row: legacy rows read ``_vnorm`` as NULL, which coalesces to the inline
    norm instead of silently NULLing the row out of the top-k.  A wide
    query (functions/vector.is_wide) goes to :func:`.topk.topk_similarity`
    on either layout: its GEMM kernel computes the row norms itself."""
    import math

    probe_ids = rank_centroids(centers, query_vec)[:nprobe]
    df = spark.read.parquet(path).where(F.col("centroid_id").isin(probe_ids))
    if "_vnorm" in df.columns and not V.is_wide(len(query_vec)):
        # left-to-right accumulation, matching F.aggregate's fold order
        qn = math.sqrt(sum((float(x) * float(x) for x in query_vec), 0.0))
        q = V.query_vector_lit(query_vec)
        nrm = F.coalesce(F.col("_vnorm"), V.l2_norm(vec_col))
        sim = V.round6(V.cosine_from_norms(vec_col, q, nrm, F.lit(qn)))
        return (
            df.select(id_col, sim.alias("similarity"))
            .where(F.col("similarity").isNotNull())
            .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
            .limit(k)
        )
    return topk_ops.topk_similarity(df, query_vec, k=k, id_col=id_col, embedding_col=vec_col)


def recall_at_k(exact_ids: list[int], approx_ids: list[int], k: int) -> float:
    return len(set(exact_ids[:k]) & set(approx_ids[:k])) / float(k)


def ivf_search_batch(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """N-query ANN through the IVF index in ONE distributed pass — the
    production serving shape (per-query ``ivf_search`` calls cost a
    driver round-trip each; here the whole query batch rides the plan).

    Routing: this delegates to :func:`ivf_search_batch_gemm` — same rows
    (parity-pinned), Arrow scoring.  The per-(row, query) HOF fold makes
    the expression spelling below lose at EVERY measured size, not just
    wide dims (sf0.1 batch-100: 8 lists × dim 64 = 4.4 s expression vs
    0.5 s GEMM; 44 lists 5.7 s vs 0.3 s; 70 lists × dim 64 14.4 s vs
    ~1 s).  A query batch exceeding ``max_queries`` (the GEMM route's
    bounded driver fetch) FALLS BACK, with a RuntimeWarning, to the
    expression path, which never collects the queries:

    1. Probe selection is MAP-SIDE: per-centroid cosine distances are
       codegen'd expressions over the (tiny, constant) centroid table;
       each query keeps its ``nprobe`` best via array_sort + slice —
       ties break on centroid id, identical to ``rank_centroids``.
    2. The exploded (query, centroid) probe list — |queries|·nprobe tiny
       rows — BROADCASTS onto the corpus equi-join on ``centroid_id``,
       so only probed lists are scored (with a partitionBy(centroid_id)
       layout that is file-level partition pruning).
    3. Ranking is the salted two-phase top-k (`topk._salted_topk`, 16
       salts): no reducer ever sorts more than its salt share.

    Per-query results equal ``ivf_search`` exactly on either route
    (tested)."""
    try:
        return ivf_search_batch_gemm(
            index,
            queries,
            k,
            nprobe,
            query_id=query_id,
            query_vec=query_vec,
            id_col=id_col,
            vec_col=vec_col,
            max_queries=max_queries,
        )
    except QueryBatchTooLarge:
        # oversized batches take the unbounded (slower) declarative path
        # rather than surprising the caller — loudly, because the cost
        # envelope changes
        import warnings

        warnings.warn(
            f"ivf_search_batch: query batch exceeds max_queries="
            f"{max_queries}; falling back from the GEMM route to the "
            "declarative expression path (slower, never collects queries).",
            RuntimeWarning,
            stacklevel=2,
        )

    structs = []
    for cid, center in enumerate(index.centers):
        cl = V.query_vector_lit(center)
        d = V.cosine_distance(F.col(query_vec), cl)
        structs.append(
            F.struct(
                # NULL (zero-norm) sorts first in array_sort; map to +inf
                F.coalesce(d, F.lit(float("inf"))).alias("dist"),
                F.lit(cid).cast("int").alias("cid"),
            )
        )
    probe_arr = F.slice(F.array_sort(F.array(*structs)), 1, nprobe)
    probes = queries.select(
        query_id, query_vec, F.explode(probe_arr.cid).alias("centroid_id")
    )

    # norms precomputed ONCE per corpus row / per probe row: scoring then
    # costs one fold per (row, query) pair instead of three.  Same doubles
    # as cosine_similarity inline (identical dot/(na*nb) expression), so
    # oracle-rounded values are unchanged (parity pinned in test_dedup).
    corpus_n = index.assigned.withColumn("_cn", V.l2_norm(vec_col))
    probes_full = probes.withColumn("_qn", V.l2_norm(query_vec))
    sim = V.round6(V.cosine_from_norms(vec_col, query_vec, F.col("_cn"), F.col("_qn")))
    scored = (
        corpus_n.join(F.broadcast(probes_full), "centroid_id")
        .select(query_id, F.col(id_col), sim.alias("similarity"))
        .where(F.col("similarity").isNotNull())
    )
    return topk_ops._salted_topk(scored, k, query_id, id_col, 16)


class QueryBatchTooLarge(ValueError):
    """The query batch exceeds the GEMM route's bounded driver fetch —
    distinct from other ValueErrors so auto-routing can fall back to the
    expression path on exactly this condition and nothing else."""


def _collect_query_batch(
    queries: DataFrame, query_id: str, query_vec: str, max_queries: int
):
    """Bounded driver fetch of the query batch, shared by the GEMM and PQ
    searches (queries are the small side by definition — same contract
    as the broadcast in ivf_search_batch)."""
    qrows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise QueryBatchTooLarge(
            f"query batch exceeds max_queries={max_queries}; split the batch"
        )
    return qrows


def _nearest_lists(qmat, centers: list[list[float]], nprobe: int):
    """Each query's ``nprobe`` nearest lists, in numpy, from one
    (nq × dim)·(dim × n_lists) GEMM: same distances and tie-breaks as
    :func:`rank_centroids` (zero-norm → +inf, ties on centroid id).
    Returns ``(qunit, live, probes)``: the unit query rows (zero rows for
    zero-norm queries), which queries have a norm, and per query its
    probed centroid ids (none for a zero-norm query)."""
    import numpy as np

    qn = np.linalg.norm(qmat, axis=1)
    live = qn > 0  # zero-norm queries produce NULL sims → no results
    qunit = np.where(live[:, None], qmat / np.where(qn == 0, 1.0, qn)[:, None], 0.0)
    cmat = np.array(centers, dtype=np.float64)
    cn = np.linalg.norm(cmat, axis=1)
    with np.errstate(invalid="ignore"):
        cd = 1.0 - (qunit @ (cmat / np.where(cn == 0, 1.0, cn)[:, None]).T)
    cd[:, cn == 0] = np.inf
    cd[~live, :] = np.inf
    n_lists = len(centers)
    probes = [
        np.lexsort((np.arange(n_lists), cd[qi]))[:nprobe] if live[qi] else np.arange(0)
        for qi in range(len(qmat))
    ]
    return qunit, live, probes


def _gemm_scorer(index: IVFIndex, qrows, nprobe: int, query_id: str, qid_type: str, id_col: str):
    """Driver half of GEMM scoring over driver-held ``qrows`` ((query id,
    vector) pairs): drops NULL / wrong-dim vectors exactly as the
    expression paths do, picks each query's probes
    (:func:`_nearest_lists`) and returns ``(probe_ids, out_schema,
    make_scorer)``.  ``make_scorer(vcol, keep)`` is the mapInPandas body:
    one (batch × dim)·(dim × nq) GEMM per Arrow batch, each query masked
    to ITS probe set, and only the per-batch top-``keep`` per query by
    (similarity DESC, id ASC) emitted.  With no query left there is
    nothing to probe, and the scorer emits no rows."""
    import numpy as np
    import pandas as pd

    dim = len(index.centers[0]) if index.centers else None
    if dim is not None:
        qrows = [r for r in qrows if r[1] is not None and len(r[1]) == dim]
    id_field = index.assigned.schema[id_col]
    out_schema = (
        f"{query_id} {qid_type}, {id_field.name} {id_field.dataType.simpleString()}, "
        "similarity double"
    )
    if not qrows:
        return [], out_schema, lambda vcol, keep: lambda batches: iter(())
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qunit, live, probes = _nearest_lists(qmat, index.centers, nprobe)
    n_lists = len(index.centers)
    # the probe mask ships DENSE in the task closure — a loud valve, not
    # an OOM, when lists × queries explodes (auto-√N lists on a 10⁹-row
    # corpus is ~32k lists; a 10k-query batch would be a 320 MB closure)
    if n_lists * len(qids) > 64_000_000:
        raise ValueError(
            f"GEMM search: probe mask {n_lists} lists × "
            f"{len(qids)} queries exceeds 64M cells; split the query batch"
        )
    mask = np.zeros((n_lists, len(qids)), dtype=bool)  # (centroid, query)
    for qi, order in enumerate(probes):
        mask[order, qi] = True
    probe_ids = np.flatnonzero(mask.any(axis=1)).tolist()
    qids_arr = np.array(qids)

    def make_scorer(vcol: str, keep: int):
        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                vals = pdf[vcol].tolist()
                ok = np.fromiter(
                    (v is not None and len(v) == dim for v in vals),
                    dtype=bool,
                    count=len(vals),
                )
                if not ok.any():
                    continue
                rows = np.flatnonzero(ok)
                m = np.stack([np.asarray(vals[i], dtype=np.float64) for i in rows])
                nrm = np.linalg.norm(m, axis=1)
                nz = nrm > 0
                rows = rows[nz]
                if not len(rows):
                    continue
                u = m[nz] / nrm[nz][:, None]
                sims = np.round(u @ qunit.T, 6)  # (B, nq)
                cids = pdf["centroid_id"].to_numpy()[rows].astype(np.int64)
                allowed = mask[cids, :] & live[None, :]  # (B, nq)
                sims = np.where(allowed, sims, -np.inf)
                ids = pdf[id_field.name].to_numpy()[rows]
                id_order = np.argsort(ids, kind="stable")
                out_q, out_i, out_s = [], [], []
                for qi in range(len(qids_arr)):
                    sq = sims[id_order, qi]
                    top = id_order[np.argsort(-sq, kind="stable")[: min(keep, len(rows))]]
                    good = sims[top, qi] > -np.inf
                    top = top[good]
                    out_q.extend([qids_arr[qi]] * len(top))
                    out_i.extend(ids[top].tolist())
                    out_s.extend(sims[top, qi].tolist())
                if out_q:
                    yield pd.DataFrame(
                        {query_id: out_q, id_field.name: out_i, "similarity": out_s}
                    )

        return score

    return probe_ids, out_schema, make_scorer


def ivf_score_gemm(
    index: IVFIndex,
    qrows,
    k: int,
    nprobe: int = 4,
    *,
    query_id: str = "query_id",
    query_id_type: str = "bigint",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """GEMM scoring of DRIVER-HELD query rows (``(query id, vector)``
    pairs): the probe-union scan of ``index.assigned`` through one
    mapInPandas, giving ``(query_id, id, similarity)`` rows, at most ``k``
    per query per Arrow batch.  Every global top-k row survives its own
    batch, so one more ordering by (similarity DESC, id ASC) finishes the
    exact top-k: :func:`ivf_search_batch_gemm` ranks per query with a
    window, while a single query needs only ``orderBy(...).limit(k)``
    (TakeOrderedAndProject, one job, no shuffle).  A caller that already
    holds its query vector passes it straight here instead of building a
    query frame only for it to be collected back."""
    probe_ids, out_schema, make_scorer = _gemm_scorer(
        index, qrows, nprobe, query_id, query_id_type, id_col
    )
    pruned = index.assigned.where(F.col("centroid_id").isin(probe_ids)).select(
        id_col, "centroid_id", vec_col
    )
    return pruned.mapInPandas(make_scorer(vec_col, k), schema=out_schema)


def ivf_search_batch_gemm(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """N-query IVF ANN with Arrow/GEMM scoring — the batch serving path
    :func:`ivf_search_batch` routes to at every width.

    The expression fallback of :func:`ivf_search_batch` scores each
    (row, query) pair with a codegen HOF fold over the vector, and its
    probe-selection plan carries n_lists × dim literal expressions; at
    the reference's real width (``vector(1536)``, query.txt:84 — actual
    embeddings dim 2048, text_generator.py:314-316) the per-element
    interpreted lambda cost dominates.  This variant:

    1. collects the bounded query batch driver-side (the pq_search_batch
       contract) and picks per-query probes in numpy — same distances and
       tie-breaks as :func:`rank_centroids` (zero-norm → +inf, ties on
       centroid id);
    2. filters the corpus to the probe UNION (file-level partition
       pruning on a persisted layout);
    3. scores each Arrow batch against ALL queries with ONE
       (batch × dim)·(dim × nq) GEMM, masks each query to ITS probe set
       (union-coarseness never leaks another query's lists into results),
       and emits only the per-batch top-k per query — the map-side
       partial-top-k combiner, so the shuffle carries
       O(batches · nq · k) rows;
    4. final exact top-k per query by (similarity DESC, id ASC).

    Output matches the expression fallback row-for-row on the testdata
    (parity-tested; the GEMM accumulates pairwise vs the fold's
    left-to-right — a last-ulp difference only, erased by round6 except
    on knife-edge rounding boundaries never observed)."""
    qrows = _collect_query_batch(queries, query_id, query_vec, max_queries)
    partial = ivf_score_gemm(
        index,
        qrows,
        k,
        nprobe,
        query_id=query_id,
        query_id_type=queries.schema[query_id].dataType.simpleString(),
        id_col=id_col,
        vec_col=vec_col,
    )
    return topk_ops._rank_per_query(partial, k, query_id, id_col)

