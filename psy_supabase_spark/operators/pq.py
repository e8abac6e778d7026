"""Product quantization (PQ) for embedding compression + ANN serving.

Public-knowledge design: Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search" (IEEE TPAMI 2011) — the recipe behind FAISS's
IVF-PQ serving tier.  The vector is split into ``m`` subvectors; each
subspace gets its own k-means codebook (k=256 → one byte per subspace), so
a dim-64 float32 embedding (256 B) compresses to ``m`` codes (8 B at m=8,
32×) plus one shared codebook of m·256·dsub floats.  Query-time scoring is
ADC (asymmetric distance computation): per query, precompute an m×256
lookup table of partial dot products against the codebook; a stored
vector's approximate cosine is then m table lookups — no decode, no
per-dimension arithmetic.

Spark mapping (the part that matters at 100 TB):

- FIT is driver-side numpy on a bounded sample — the model is
  m·256·dsub floats, exactly like the IVF centroid fit (`ivf.build_ivf`).
- ENCODE is one ``mapInPandas`` pass: each Arrow batch of vectors is
  scored against each subspace codebook with a single GEMM; codes ride
  the frame as ``array<smallint>``.
- SEARCH is map-side ADC + a MAP-SIDE PARTIAL TOP-K (the combiner
  pattern): each Arrow batch emits only its own best ``k·rescore_factor``
  rows per query, so the shuffle carries O(batches · queries · k·f) rows
  — never the |corpus|×|queries| scored relation.  The exact top-k is
  then re-scored at full precision over the per-query survivors (a
  broadcast join).

Scoring is cosine: vectors are unit-normalized before fit/encode, so the
subspace dot products sum to the approximate cosine directly.  The coarse
pass is approximate (quantization distortion); the rescore pass is exact,
so output precision is governed by rescore recall, measured in tests.

RESIDUAL tier (r9): `pq_fit_residual` / `pq_encode_residual` /
`ivf_pq_search_batch(residual=True)` implement the paper's §V IVF-ADC —
quantize unit(x) − centroid and add the q·centroid term at ADC time.
When to serve which (each point measured, tests/test_pq.py): residual
coding wins when the code budget is SCARCE relative to the data's
structure and the within-cell variation is itself structured (m=8/k=16
over low-rank-noise clusters: coarse recall@10 0.485 vs 0.420); it TIES
when the budget saturates (k=256: 0.78 vs 0.795) and buys nothing on
isotropic within-cluster noise (residual = white noise, incompressible —
the uniform-random testdata measures 0.63 vs 0.665).  Storage, encode
cost, and the exact-rescore contract are identical either way.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DEFAULT_SEED = 42
FIT_SAMPLE_CAP = 100_000


@dataclass(frozen=True)
class PQCodebooks:
    """m subspace codebooks; ``centers[s]`` is a (k × dsub) list-of-lists."""

    m: int
    dsub: int
    centers: list[list[list[float]]]

    def as_array(self) -> np.ndarray:
        return np.asarray(self.centers, dtype=np.float64)  # (m, k, dsub)


def _kmeans(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Plain L2 k-means (numpy, driver-side) — deterministic for a fixed
    seed/sample.  Returns (k', dsub) with k' ≤ k (duplicate-free init on
    small samples keeps k' = #distinct points)."""
    rng = np.random.default_rng(seed)
    uniq = np.unique(x, axis=0)
    k = min(k, len(uniq))
    centers = uniq[rng.choice(len(uniq), size=k, replace=False)]
    x2 = (x**2).sum(axis=1)[:, None]  # (n, 1), constant across iterations
    for _ in range(max_iter):
        # ||x-c||² = ||x||² - 2 x·c + ||c||² as one (n × k) GEMM — the
        # naive (n, k, dsub) broadcast is GBs at the sample cap
        d = x2 - 2.0 * (x @ centers.T) + (centers**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
    return centers


def pq_fit(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 8,
    fit_sample_cap: int = FIT_SAMPLE_CAP,
) -> PQCodebooks:
    """Fit m per-subspace codebooks on a bounded, unit-normalized sample.

    Driver-side numpy like `ivf.build_ivf` — at 100 TB the fit input is a
    ≤``fit_sample_cap``-row sample and the model m·k·dsub floats; the
    distributed work is encode/search, never the fit.  The sample is
    hash-ordered (`ivf.fit_sample_vectors`): deterministic under any
    partitioning and unbiased on domain-sorted corpora.  A vectors-only
    frame (no ``id_col``) falls back to the legacy ``.limit(cap)`` sample
    — still bounded, but layout-DEPENDENT; pass ids for the hash-ordered
    guarantee."""
    from .ivf import fit_sample_vectors

    live = corpus.where(F.col(vec_col).isNotNull())
    if id_col in corpus.columns:
        sample = fit_sample_vectors(
            live, fit_sample_cap, id_col=id_col, vec_col=vec_col
        )
    else:
        sample = live.select(vec_col).limit(fit_sample_cap).collect()
    x = np.array([r[0] for r in sample], dtype=np.float64)
    if x.size == 0:
        raise ValueError("pq_fit: empty corpus")
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0, None]
    dsub = dim // m
    centers = [
        _kmeans(x[:, s * dsub : (s + 1) * dsub], k, seed + s, max_iter).tolist()
        for s in range(m)
    ]
    return PQCodebooks(m=m, dsub=dsub, centers=centers)


def pq_fit_residual(
    index,
    *,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    max_iter: int = 8,
    fit_sample_cap: int = FIT_SAMPLE_CAP,
) -> PQCodebooks:
    """Residual codebooks — the IVF-ADC variant (Jégou, Douze, Schmid
    2011 §V: quantize the RESIDUAL from the assigned coarse centroid,
    not the raw vector).  Residual magnitudes are a fraction of unit
    vectors on clustered data, so the same m·k code budget spends its
    resolution on the within-cell detail the coarse quantizer cannot
    express — markedly better ADC ranking at identical storage.

    Fit input is a hash-ordered bounded sample of ``index.assigned``
    (same two-phase layout-independent pattern as
    `ivf.fit_sample_vectors`, extended to carry ``centroid_id``);
    residual r = unit(x) − centers[centroid_id] (spherical-k-means
    centers are unit vectors), then per-subspace k-means on residuals.
    Driver-side numpy like `pq_fit`; the model stays m·k·dsub floats."""
    assigned = index.assigned
    live = assigned.where(F.col(vec_col).isNotNull())
    order = [F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()]
    ids = live.select(id_col).orderBy(*order).limit(fit_sample_cap)
    rows = (
        live.join(F.broadcast(ids), id_col, "left_semi")
        .orderBy(*order)
        .select(vec_col, "centroid_id")
        .collect()
    )
    if not rows:
        raise ValueError("pq_fit_residual: empty corpus")
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cid = np.array([r[1] for r in rows], dtype=np.int64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_fit_residual: dim {dim} not divisible by m={m}")
    norms = np.linalg.norm(x, axis=1)
    ok = norms > 0
    x = x[ok] / norms[ok, None]
    cid = cid[ok]
    res = x - np.asarray(index.centers, dtype=np.float64)[cid]
    dsub = dim // m
    centers = [
        _kmeans(res[:, s * dsub : (s + 1) * dsub], k, seed + s, max_iter).tolist()
        for s in range(m)
    ]
    return PQCodebooks(m=m, dsub=dsub, centers=centers)


def pq_encode_residual(
    assigned: DataFrame,
    index,
    codebooks: PQCodebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(id, centroid_id, codes[, passthrough...]): nearest residual
    codebook entry per subspace — `pq_encode`'s IVF-ADC twin.  The input
    must carry ``centroid_id`` (encode ``index.assigned``), and
    ``centroid_id`` is ALWAYS kept in the output: the searcher needs it
    to reconstruct the q·centroid term of the approximate score.  Same
    one-pass mapInPandas shape (per-batch GEMM per subspace)."""
    if "centroid_id" not in assigned.columns:
        raise ValueError("pq_encode_residual: input must carry centroid_id")
    cb = codebooks.as_array()
    m, dsub = codebooks.m, codebooks.dsub
    dim = m * dsub
    centers = np.asarray(index.centers, dtype=np.float64)
    cnorm2 = (cb**2).sum(axis=2)
    extra = [c for c in (passthrough or []) if c != "centroid_id"]
    fields = (
        [assigned.schema[id_col], assigned.schema["centroid_id"]]
        + [assigned.schema[c] for c in extra]
    )
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + ["codes array<smallint>"]
    )

    def enc(batches):
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in vals),
                dtype=bool,
                count=len(vals),
            )
            if not ok.any():
                continue
            xs = np.stack(
                [np.asarray(vals[i], dtype=np.float64) for i in np.flatnonzero(ok)]
            )
            norms = np.linalg.norm(xs, axis=1)
            norms[norms == 0] = 1.0  # zero vectors encode; rescore drops them
            xs = xs / norms[:, None]
            cids = pdf["centroid_id"].to_numpy()[ok].astype(np.int64)
            res = xs - centers[cids]
            codes = np.empty((len(xs), m), dtype=np.int16)
            for s in range(m):
                rsub = res[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = (cnorm2[s][None, :] - 2.0 * (rsub @ cb[s].T)).argmin(axis=1)
            out = {id_col: pdf[id_col][ok].to_numpy(), "centroid_id": cids}
            for c in extra:
                out[c] = pdf[c][ok].to_numpy()
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return assigned.select(id_col, "centroid_id", *extra, vec_col).mapInPandas(
        enc, schema=out_schema
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: PQCodebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(id, codes array<smallint>[, passthrough...]): nearest codebook
    entry per subspace.

    One ``mapInPandas`` pass; per Arrow batch each subspace is assigned
    with a single (batch × dsub)·(dsub × k) GEMM using the expanded
    ||x−c||² = ||x||² − 2x·c + ||c||² identity (argmin over c drops the
    ||x||² term).  NULL / wrong-length vectors are dropped — an encoded
    store only ever holds servable rows.  ``passthrough`` columns ride
    the same pass unchanged (e.g. ``centroid_id`` for the IVF-PQ layout
    — carrying it here avoids re-executing the assignment subtree plus a
    shuffle join just to re-attach it)."""
    cb = codebooks.as_array()  # (m, k, dsub)
    m, dsub = codebooks.m, codebooks.dsub
    dim = m * dsub
    cnorm2 = (cb**2).sum(axis=2)  # (m, k)
    extra = list(passthrough or [])
    fields = [corpus.schema[id_col]] + [corpus.schema[c] for c in extra]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields] + ["codes array<smallint>"]
    )

    def enc(batches):
        for pdf in batches:
            vals = pdf[vec_col].tolist()
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in vals), dtype=bool, count=len(vals)
            )
            if not ok.any():
                continue
            xs = np.stack([np.asarray(vals[i], dtype=np.float64) for i in np.flatnonzero(ok)])
            norms = np.linalg.norm(xs, axis=1)
            norms[norms == 0] = 1.0  # zero vectors encode to SOME code; rescore drops them
            xs = xs / norms[:, None]
            codes = np.empty((len(xs), m), dtype=np.int16)
            for s in range(m):
                xsub = xs[:, s * dsub : (s + 1) * dsub]
                # argmin ||x-c||² == argmin (||c||² - 2 x·c)
                codes[:, s] = (cnorm2[s][None, :] - 2.0 * (xsub @ cb[s].T)).argmin(axis=1)
            out = {id_col: pdf[id_col][ok].to_numpy()}
            for c in extra:
                out[c] = pdf[c][ok].to_numpy()
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return corpus.select(id_col, *extra, vec_col).mapInPandas(enc, schema=out_schema)


def pq_search_batch(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: PQCodebooks,
    corpus: DataFrame,
    k: int = 10,
    *,
    rescore_factor: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    residual_index=None,
    _qrows: list | None = None,
) -> DataFrame:
    """N-query ANN over a PQ-encoded store: map-side ADC + map-side
    partial top-(k·rescore_factor), exact rescore, final top-k.

    ``residual_index`` (None = raw-vector codes): the store was encoded
    with :func:`pq_encode_residual` against this IVF index, so the
    approximate score becomes q·c[centroid_id] + Σ_s LUT[q,s,code] —
    the q·centroid table ((nq × n_lists), driver-side GEMM) rides the
    task closure next to the subspace LUTs, and ``encoded`` must carry
    ``centroid_id``.  Everything downstream (partial top-k·f cap, exact
    rescore) is identical; residual coding only sharpens the COARSE
    ranking, which shows up as recall at a given rescore_factor.

    The query batch is collected driver-side (bounded by ``max_queries``
    — queries are the small side by definition, the same contract as
    `ivf.ivf_search_batch`'s broadcast) and turned into per-query ADC
    lookup tables carried in the task closure.  Each Arrow batch of codes
    scores ALL queries with ``m`` table-gathers and emits only its own
    best k·f ids per query, so the shuffle is O(batches·|queries|·k·f)
    rows — the |corpus|×|queries| relation never materializes.  Ties in
    the approximate score break on id (deterministic).  Output: exact
    cosine top-k per query, ranked like `ivf.ivf_search_batch`."""
    from pyspark.sql import Window

    from .ivf import _collect_query_batch
    from .topk import _rank_per_query

    dim = codebooks.m * codebooks.dsub
    # _qrows: a caller (ivf_pq_search_batch) that already collected the
    # bounded query batch passes it down — one driver round trip, not two
    qrows = (
        _qrows
        if _qrows is not None
        else _collect_query_batch(queries, query_id, query_vec, max_queries)
    )
    # NULL / wrong-dim query vectors can't be served (and would make the
    # query matrix ragged) — drop them like pq_encode drops malformed rows
    qrows = [r for r in qrows if r[1] is not None and len(r[1]) == dim]
    if not qrows:
        raise ValueError("pq_search_batch: empty query batch")
    qids = [r[0] for r in qrows]
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # (nq, dim)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qunit = qmat / qn[:, None]
    cb = codebooks.as_array()
    m, dsub = codebooks.m, codebooks.dsub
    # LUT[q, s, code] = q_sub · c — ADC: approx cosine = Σ_s LUT[q, s, codes[s]]
    lut = np.einsum("qsd,skd->qsk", qunit.reshape(len(qids), m, dsub), cb)
    # residual coding: + q·centroid term, gathered per row by centroid_id
    qc = None
    if residual_index is not None:
        if "centroid_id" not in encoded.columns:
            raise ValueError(
                "pq_search_batch(residual_index=...): encoded store must "
                "carry centroid_id (use pq_encode_residual)"
            )
        qc = qunit @ np.asarray(residual_index.centers, dtype=np.float64).T
    first_k = k * rescore_factor
    qid_field = queries.schema[query_id].dataType.simpleString()
    id_field = encoded.schema[id_col]
    part_schema = (
        f"{query_id} {qid_field}, {id_field.name} {id_field.dataType.simpleString()}, "
        "_adc double"
    )

    def adc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            ids = pdf[id_field.name].to_numpy()
            # scores[q, row] = [q·c[cid_row] +] Σ_s LUT[q, s, codes[row, s]]
            if qc is not None:
                cids = pdf["centroid_id"].to_numpy().astype(np.int64)
                scores = qc[:, cids].copy()
            else:
                scores = np.zeros((len(qids), len(codes)))
            for s in range(m):
                scores += lut[:, s, codes[:, s]]
            keep = min(first_k, len(codes))
            out_q, out_i, out_s = [], [], []
            order = np.argsort(ids, kind="stable")  # id-ordered base for ties
            for qi in range(len(qids)):
                sq = scores[qi][order]
                top = order[np.argsort(-sq, kind="stable")[:keep]]
                out_q.extend([qids[qi]] * len(top))
                out_i.extend(ids[top].tolist())
                out_s.extend(scores[qi][top].tolist())
            yield pd.DataFrame(
                {query_id: out_q, id_field.name: out_i, "_adc": out_s}
            )

    # GLOBAL per-query cap at k·f on the approx score BEFORE the rescore:
    # the map-side partials emit O(#batches · nq · k·f) rows (that is the
    # combiner design — bounded shuffle), but rescoring all of them would
    # move a wide vector per candidate; the cap fixes the rescore at
    # nq · k·f rows regardless of batch/partition count (measured 5-10×
    # on the dim-1536 batch-100: the uncapped rescore was the whole cost).
    # Ties on (_adc, id) — deterministic under any batching.
    w_adc = Window.partitionBy(query_id).orderBy(F.col("_adc").desc(), F.col(id_field.name).asc())
    # dropDuplicates guards against encoded stores with repeated ids
    # (append/union builds): each id lives in ONE Arrow batch only when
    # ids are unique, so without it a duplicated id could occupy several
    # top-k slots.  Cheap — the frame is already ≤ nq·k·f rows.
    partial = (
        encoded.mapInPandas(adc, schema=part_schema)
        .withColumn("_pr", F.row_number().over(w_adc))
        .where(F.col("_pr") <= first_k)
        .select(query_id, id_field.name)
        .dropDuplicates([query_id, id_field.name])
    )
    # exact rescore of the ≤ nq·k·f survivors: candidates join IDS-ONLY
    # (the wide query vector attaches from the tiny queries frame, never
    # rides a per-candidate broadcast).  (query,id) pairs are unique by
    # construction — each encoded id lives in exactly one Arrow batch —
    # so no dedup pass is needed.  The cosine kernel follows the width
    # rule, like lsh.srp_topk's verify.
    from .lsh import _score_pairs

    pairs = (
        corpus.select(id_col, vec_col)
        .join(F.broadcast(partial), id_col)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
    )
    rescored = _score_pairs(pairs, vec_col, query_vec, dim, [query_id, id_col])
    return _rank_per_query(rescored, k, query_id, id_col)


def write_ivf_pq_layout(
    index,
    codebooks: PQCodebooks,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Persist the IVF-PQ store: (id, codes, centroid_id) partitioned by
    centroid_id — encode is index-BUILD work (like
    `ivf.write_ivf_layout`), and the partitioning turns
    :func:`ivf_pq_search_batch`'s probe-union filter into file-level
    partition pruning.  ~10 B/vector on disk vs 256 B float32.  The
    centroid assignment rides the encode pass (``passthrough``) — one
    corpus scan, no re-assignment, no re-attach join.  ``residual=True``
    writes :func:`pq_encode_residual` codes (serve with
    ``ivf_pq_search_batch(..., residual=True)``)."""
    if residual:
        enc = pq_encode_residual(
            index.assigned, index, codebooks, id_col=id_col, vec_col=vec_col
        )
    else:
        enc = pq_encode(
            index.assigned,
            codebooks,
            id_col=id_col,
            vec_col=vec_col,
            passthrough=["centroid_id"],
        )
    enc.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    _write_pq_meta(path, codebooks, residual)


_PQ_META_NAME = "_pq_meta.json"


def _hadoop_fs(path: str):
    """(FileSystem, Path) resolved through Spark's Hadoop configuration
    — the same path resolution the parquet write itself uses, so the
    sidecar lands next to the data on hdfs://, s3a://, file:/ and plain
    local paths alike.  None when no Spark session is active (pure
    driver-side tests): callers fall back to local file IO."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _write_pq_meta(path: str, codebooks: PQCodebooks, residual: bool) -> None:
    import json
    import os

    payload = json.dumps(
        {"residual": residual, "m": codebooks.m, "dsub": codebooks.dsub}
    )
    resolved = _hadoop_fs(f"{path.rstrip('/')}/{_PQ_META_NAME}")
    if resolved is None:
        with open(os.path.join(path, _PQ_META_NAME), "w") as f:
            f.write(payload)
        return
    fs, hpath = resolved
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def read_pq_meta(path: str) -> dict | None:
    """The layout's encoding contract ({residual, m, dsub}), written by
    :func:`write_ivf_pq_layout` as a ``_pq_meta.json`` sidecar in the
    layout directory (underscore-prefixed: parquet readers ignore it).
    None for layouts written before the sidecar existed.

    Why it exists: residual and raw codes are byte-indistinguishable —
    serving a residual store with ``residual=False`` (or vice versa)
    does not error, it silently degrades the COARSE ranking and recall
    drops without a trace.  :func:`ivf_pq_search_batch` checks the
    sidecar when given a layout path via ``layout_path`` and
    :func:`append_to_pq_layout` checks it on every append; both raise on
    a mode mismatch instead.

    IO goes through the Hadoop FileSystem API (same resolution as the
    parquet data), so non-local layouts (hdfs://, s3a://, file:/) read
    their sidecar instead of silently returning None and disabling the
    guard; local open() is only the no-active-session fallback."""
    import json
    import os

    resolved = _hadoop_fs(f"{path.rstrip('/')}/{_PQ_META_NAME}")
    if resolved is None:
        p = os.path.join(path, _PQ_META_NAME)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
    fs, hpath = resolved
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # byte[] returns cross the py4j bridge by value, so read via a
        # JVM-side helper that hands back the whole array (commons-io is
        # on Spark's classpath); a py4j-side readFully(buf) would mutate
        # a copy and come back empty
        from pyspark.sql import SparkSession

        jvm = SparkSession.getActiveSession()._jvm
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        return json.loads(data.decode("utf-8"))
    finally:
        stream.close()


def append_to_pq_layout(
    new_rows: DataFrame,
    path: str,
    index,
    codebooks: PQCodebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Incremental IVF-PQ maintenance, the `ivf.append_to_layout` twin:
    encode new vectors with the EXISTING codebooks, assign them to the
    EXISTING centroids, append into their partitions.  No codebook refit,
    no layout rewrite; like IVF appends, quantization error drifts as
    appended mass diverges from the fit distribution — re-fit + rewrite
    once appends exceed ~30-50% of the encoded volume.  ``residual``
    must match how the layout was written: the ``_pq_meta.json`` sidecar
    is consulted and a mismatch RAISES (appending raw codes into a
    residual store — or vice versa — would poison the layout with
    byte-indistinguishable wrong-mode rows)."""
    from . import ivf as ivf_ops

    meta = read_pq_meta(path)
    if meta is not None and bool(meta.get("residual")) != residual:
        raise ValueError(
            f"append_to_pq_layout: layout at {path} was written with "
            f"residual={meta.get('residual')} but the append asks "
            f"residual={residual} — mixed encodings are byte-"
            "indistinguishable and would silently corrupt recall"
        )

    assigned = ivf_ops.assign_to_centroids(
        new_rows, index.centers, id_col=id_col, vec_col=vec_col
    )
    if residual:
        enc = pq_encode_residual(
            assigned, index, codebooks, id_col=id_col, vec_col=vec_col
        )
    else:
        enc = pq_encode(
            assigned, codebooks, id_col=id_col, vec_col=vec_col, passthrough=["centroid_id"]
        )
    enc.write.mode("append").partitionBy("centroid_id").parquet(path)


def ivf_pq_search_batch(
    index,
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: PQCodebooks,
    k: int = 10,
    nprobe: int = 4,
    *,
    corpus: DataFrame | None = None,
    residual: bool = False,
    layout_path: str | None = None,
    **kw,
) -> DataFrame:
    """FAISS-style IVF-PQ: prune the encoded store to the UNION of every
    query's ``nprobe`` nearest centroids, then ADC-search the survivors.

    ``residual=True``: the store holds :func:`pq_encode_residual` codes
    (fit via :func:`pq_fit_residual`) and the ADC adds the q·centroid
    term — the full IVF-ADC serving tier of Jégou et al. 2011.  Same
    probe pruning, same exact rescore; only the coarse ranking sharpens.

    ``layout_path``: the directory the store was persisted to — when
    given, the ``_pq_meta.json`` sidecar (see :func:`read_pq_meta`) is
    checked and a residual-mode mismatch RAISES: the two encodings are
    byte-indistinguishable, and the wrong mode degrades coarse recall
    silently, never loudly.

    ``encoded`` must carry ``centroid_id`` (encode ``index.assigned``, or
    persist with ``partitionBy("centroid_id")`` so this filter is
    file-level partition pruning — the same layout trick as
    `ivf.write_ivf_layout`).  The union probe set is coarser than
    per-query probing (a query also scores rows from OTHER queries'
    lists), which can only ADD candidates — per-query recall is ≥ the
    strict per-query-probe recall, and the scan fraction is still
    |union probes| / n_lists instead of 1."""
    from . import ivf as ivf_ops

    if layout_path is not None:
        meta = read_pq_meta(layout_path)
        if meta is not None and bool(meta.get("residual")) != residual:
            raise ValueError(
                f"ivf_pq_search_batch: layout at {layout_path} was written "
                f"with residual={meta.get('residual')} but the call asks "
                f"residual={residual} — the encodings are byte-"
                "indistinguishable, so this would silently degrade recall"
            )
    max_queries = kw.get("max_queries", 10_000)
    qid = kw.get("query_id", "query_id")
    qvec = kw.get("query_vec", "query_embedding")
    # ONE bounded driver fetch, enforced BEFORE anything materializes;
    # the same rows are handed to pq_search_batch so it does not collect
    # a second time
    qrows = ivf_ops._collect_query_batch(queries, qid, qvec, max_queries)
    dim = codebooks.m * codebooks.dsub
    # the GEMM search's vectorized probe selection (the per-query
    # pure-Python spelling costs nq·n_lists·dim interpreter mults, ~5M at
    # a 100-query dim-1536 batch).  Malformed vectors are skipped exactly
    # as the search drops them.
    ok_rows = [r for r in qrows if r[1] is not None and len(r[1]) == dim]
    probe_union: list[int] = []
    if ok_rows:
        qm = np.array([r[1] for r in ok_rows], dtype=np.float64)
        _, _, probes = ivf_ops._nearest_lists(qm, index.centers, nprobe)
        probe_union = sorted({int(c) for p in probes for c in p})
    pruned = encoded.where(F.col("centroid_id").isin(probe_union))
    if corpus is None:
        corpus = index.assigned
    return pq_search_batch(
        pruned,
        queries,
        codebooks,
        corpus,
        k,
        residual_index=index if residual else None,
        _qrows=qrows,
        **kw,
    )
