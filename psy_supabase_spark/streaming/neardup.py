"""Streaming near-duplicate filtering: incremental LSH against a sketch index.

A training-data ingest stream must drop documents that near-duplicate
anything ALREADY ingested — not just within the current micro-batch.  No
built-in streaming operator expresses "stateful similarity join", and
row-level state (applyInPandasWithState) cannot coordinate a doc whose
band keys land in different state groups.  The production-shaped design is
instead: per micro-batch, a BATCH band-join of the incoming docs against an
accumulating sketch index, composed inside ``foreachBatch``:

1. sketch the batch (SimHash — one grouped aggregate, 8 bytes/doc);
2. reject docs whose sketch is within Hamming ``max_hamming`` of an
   indexed sketch (pigeonhole band equi-join, exact Hamming verify — the
   same provably-complete candidate generator as the batch operator);
3. among survivors, keep one representative per within-batch near-dup
   component (``connected_components`` on the batch pairs, min-id wins —
   first-occurrence semantics, deterministic);
4. transactionally append the admitted sketches to the index
   (`sources/txlog.TxTable`) — a crashed batch leaves the index unchanged,
   and the replayed batch recomputes the identical decision (idempotent).

Micro-batch sizing: per-batch wall ≈ FLOOR + rows/MARGINAL (both measured
by the `stream` family of tools/scale_step.py, `stream_*_floor*` /
`stream_*_marginal*` — ~2.2 s / ~540 vecs/s embedding, ~3.1 s /
~420 docs/s text at fold_every=8 on the bench box, after the r14
sketch-once refactor).  The floor is Spark fixed cost (scheduling + the
amortized txlog commits + the sketch and survivors checkpoints), so a
trigger should deliver at least floor·marginal rows per batch (≳1200
vectors / ≳1300 docs here) or the floor dominates; see SCALE.md
"Micro-batch sizing rule".

Scale: the index join shuffles only (band, key, simhash) rows — 4 narrow
rows per indexed doc, independent of document size.  On a real cluster the
index table would be bucketed by (band, key) so the per-batch join
co-locates with zero index-side shuffle; growth is bounded by admitted
(post-dedup) volume only.  The mega-bucket valve's oversized-bucket scan
reads an incrementally-maintained (band, key, cnt, idx_version) side table
(one row per occupied bucket, folded forward per batch — O(batch) upkeep),
so no per-batch pass over the accumulating index remains anywhere in the
hot path; a version-stamp mismatch after a crash degrades to one full
recompute and self-repairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, lsh
from ..sources.txlog import TxTable

# hard ceiling on the SRP verify's candidates-with-vectors broadcast
# (~256 MB of vector payload): F.broadcast bypasses Spark's own size
# refusal, so without a valve one degenerate index bucket could push
# gigabytes into the driver (r14 review); over the cap the verify falls
# back to a shuffle join — slower, never fatal
SRP_VERIFY_BROADCAST_CAP = 256 << 20

# every Nth counts commit vacuums superseded snapshot files past the
# retention window — bounds the per-batch-overwritten counts table's
# on-disk history on forever-running streams (r14 review)
COUNTS_VACUUM_EVERY = 64
COUNTS_VACUUM_RETENTION_SECONDS = 3600.0


# ---- incremental (band, key, cnt, idx_version) counts machinery --------
# shared by the SimHash (text) and SRP (embedding) admission filters: one
# row per occupied bucket, folded forward per batch (O(batch) upkeep), a
# version stamp tying the counts to the index head, and a full-recompute
# fallback on stamp mismatch (crash between index.append and the counts
# overwrite) — a performance device whose failure mode costs time, never
# correctness.


def _stamped_version(counts_tx: TxTable, stamp_memo: dict | None):
    """idx_version recorded in the counts table, via the driver-side memo
    when it is provably current (memo'd counts version == the table's
    committed version — a filesystem check, no Spark job) else one tiny
    agg job.  The memo is a pure job-saver: a crash or a rival writer
    invalidates it by construction and the read path repopulates it."""
    cv = counts_tx.latest_version()
    if stamp_memo is not None and stamp_memo.get("counts_v") == cv:
        return stamp_memo["idx_v"]
    stamped = counts_tx.read().agg(F.max("idx_version")).head()[0]
    if stamp_memo is not None:
        stamp_memo["counts_v"] = cv
        stamp_memo["idx_v"] = stamped
    return stamped


def counts_oversized(
    counts_tx: TxTable,
    index_version: int,
    cap: int | None,
    rebuild,
    *,
    stamp_memo: dict | None = None,
    max_lag: int = 0,
):
    """Oversized (band, key) frame — from the counts table when its stamp
    is within ``max_lag`` appends of ``index_version``, else ``rebuild()``
    (one O(index) pass; self-repairs on the next fold).  None when the
    valve is disabled.

    ``max_lag > 0`` is the deferred-fold trade (``fold_every`` on the
    filters): a K-batch-stale oversized set is still a CORRECT valve —
    for SRP the set only gates candidate generation (drops are a recall
    trade by design), and for SimHash the subdivision stays lossless for
    ANY shared set (a missed newly-oversized bucket just means a bigger
    join for ≤K batches; buckets never shrink, so a listed bucket never
    becomes wrong)."""
    if cap is None:
        return None
    if counts_tx.latest_version() >= 0:
        stamped = _stamped_version(counts_tx, stamp_memo)
        # stamped is None when the committed counts table is empty (e.g.
        # the first processed micro-batch had no rows and the process then
        # restarted, losing the memo) — treat as out-of-sync, never do
        # arithmetic on it.
        if stamped is not None:
            lag = index_version - stamped
            if 0 <= lag <= max_lag:
                return (
                    counts_tx.read().where(F.col("cnt") > cap).select("band", "key")
                )
    return rebuild()


def fold_counts(
    counts_tx: TxTable,
    batch_banded: DataFrame,
    v_before: int,
    v_after: int,
    rebuild_banded,
    *,
    stamp_memo: dict | None = None,
) -> None:
    """Fold a batch's (id, band, key) occupancy into the counts table,
    stamped with ``v_after``.  Incremental merge only when the stored
    stamp equals ``v_before`` (the index exactly as it stood before this
    batch's append) — anything else rebuilds from ``rebuild_banded()``."""
    batch_counts = batch_banded.groupBy("band", "key").agg(F.count("*").alias("cnt"))
    merged = None
    if counts_tx.latest_version() >= 0:
        if _stamped_version(counts_tx, stamp_memo) == v_before:
            merged = (
                counts_tx.read()
                .select("band", "key", "cnt")
                .unionByName(batch_counts)
                .groupBy("band", "key")
                .agg(F.sum("cnt").alias("cnt"))
            )
    if merged is None:
        merged = (
            rebuild_banded().groupBy("band", "key").agg(F.count("*").alias("cnt"))
        )
    new_cv = counts_tx.overwrite(merged.withColumn("idx_version", F.lit(v_after)))
    if stamp_memo is not None:
        stamp_memo["counts_v"] = new_cv
        stamp_memo["idx_v"] = v_after
    # periodic retention on the one table this machinery overwrites
    # EVERY fold (r14 review: nothing ever reclaimed superseded counts
    # snapshots, so a long-running stream grew the table's data dir
    # without bound); the retention window keeps it safe against the
    # admission filter's own in-flight commits
    if new_cv > 0 and new_cv % COUNTS_VACUUM_EVERY == 0:
        counts_tx.vacuum(retention_seconds=COUNTS_VACUUM_RETENTION_SECONDS)


class _PendingFold:
    """Deferred counts-fold state shared by both admission filters: the
    per-batch counts overwrite is the second txlog commit in every batch
    and rewrites one row per OCCUPIED bucket (O(index buckets)), so at
    ``fold_every > 1`` the banded occupancy of up to K admitted batches
    accumulates and folds in ONE commit.  The held frames root in
    localCheckpointed RDDs, whose blocks are NON-reliable: losing an
    executor that held a pending batch's blocks before the fold makes
    the union unrecoverable and FAILS THE STREAM (localCheckpoint
    truncates lineage, so there is nothing to recompute from) — the
    restart then takes the stamp-mismatch full-rebuild below, so the
    cost is one stream restart + one counts rebuild, never admitted
    data.  On deployments where an executor loss per K batches is
    routine, set fold_every=1 (every batch folds immediately) or size
    K to the executor-loss rate.  Invariant between folds: counts-stamp
    lag == len(pending) (each process_batch appends exactly one index
    version); any other lag means a crash/restart/rival writer — fold
    immediately, and `fold_counts`'s v_before mismatch then takes its
    full-rebuild path; a driver crash loses only pending occupancy, and
    the mismatch rule self-repairs on the next batch."""

    def __init__(self, fold_every: int):
        self.fold_every = max(int(fold_every), 1)
        self.pending: list[DataFrame] = []

    def push_and_maybe_fold(
        self,
        counts_tx: TxTable,
        banded_batch: DataFrame,
        index_version: int,
        rebuild_banded,
        stamp_memo: dict,
    ) -> None:
        self.pending.append(banded_batch)
        n = len(self.pending)
        if n < self.fold_every and counts_tx.latest_version() >= 0:
            stamped = _stamped_version(counts_tx, stamp_memo)
            # None stamp (committed-but-empty counts table) == out-of-sync:
            # fold immediately rather than subtract from None.
            if stamped is not None and index_version - stamped == n:
                return  # in sync — defer
        batched = self.pending[0]
        for b in self.pending[1:]:
            batched = batched.unionByName(b)
        fold_counts(
            counts_tx,
            batched,
            index_version - n,
            index_version,
            rebuild_banded,
            stamp_memo=stamp_memo,
        )
        self.pending = []


class StreamingNearDupFilter:
    """foreachBatch body: admit only docs that near-duplicate nothing seen.

    Usage::

        filt = StreamingNearDupFilter(spark, index_path, sink)
        stream.writeStream.foreachBatch(filt.process_batch).start()

    where ``sink(admitted_df, epoch_id)`` receives the admitted documents.
    """

    def __init__(
        self,
        spark,
        index_path: str,
        sink=None,
        *,
        max_hamming: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
        bucket_cap: int | None = dedup.DEFAULT_BUCKET_CAP,
        fold_every: int = 1,
    ):
        self.index = TxTable(spark, index_path)
        # incrementally-maintained (band, key, cnt) bucket sizes of the
        # index — the valve's oversized-bucket scan reads THIS (one row
        # per occupied bucket) instead of re-aggregating the whole index
        # per micro-batch: O(batch) upkeep, not O(index).  Each overwrite
        # stamps the index version it reflects; a mismatch on read (crash
        # between index.append and the counts overwrite, or a pre-existing
        # index built without counts) falls back to one full recompute and
        # self-repairs on the next process_batch.
        self.counts = TxTable(spark, index_path.rstrip("/") + ".bucket_counts")
        # driver-side (counts_version, idx_version) memo: skips the
        # per-batch stamp-check agg job when this process wrote the last
        # fold; crashes/rival writers invalidate it by version check
        self._stamp_memo: dict = {}
        self.sink = sink
        self.max_hamming = max_hamming
        self.id_col = id_col
        self.text_col = text_col
        self.bucket_cap = bucket_cap
        # fold_every > 1 amortizes the counts commit across K batches —
        # the valve then reads a ≤K-stale oversized set (see
        # counts_oversized.max_lag for why that stays correct)
        self._fold = _PendingFold(fold_every)

    def _index_oversized(self, idx_banded: DataFrame) -> DataFrame | None:
        """The index's oversized (band, key) set for the valve — from the
        incrementally-maintained counts table when it is in sync with the
        index head, else one full recompute over ``idx_banded`` (the
        pre-counts / crashed-mid-update fallback; self-repairs on the
        next :meth:`process_batch`)."""
        return counts_oversized(
            self.counts,
            self.index.latest_version(),
            self.bucket_cap,
            lambda: dedup.oversized_buckets(idx_banded, self.bucket_cap),
            stamp_memo=self._stamp_memo,
            max_lag=self._fold.fold_every - 1,
        )

    # -- pure decision function (static DF in, static DF out): unit-testable
    def admit(self, batch: DataFrame) -> DataFrame:
        """Docs from `batch` that survive both the index check and
        within-batch first-occurrence dedup.  Does NOT update the index."""
        return self._admit_with_sketches(batch)[0]

    def _admit_with_sketches(
        self, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(admitted, batch sketch frame).  The (id, simhash) frame is
        computed ONCE per micro-batch and checkpointed — it feeds the
        index check, the within-batch pair search, and (via
        process_batch) the index append and the counts fold, which
        previously each re-ran the full gram pipeline over the raw
        text: up to 4 executions per batch, the dominant share of the
        measured per-batch floor (r14 review)."""
        sh = dedup.simhash(
            batch, id_col=self.id_col, text_col=self.text_col
        ).localCheckpoint(eager=True)
        banded = dedup.simhash_banded(sh, self.max_hamming)
        if self.index.latest_version() >= 0:
            idx = self.index.read().select(
                F.col(self.id_col).alias("id"), "simhash"
            )
            idx_banded = dedup.simhash_banded(idx, self.max_hamming)
            # mega-bucket valve: subdivide BOTH sides on the INDEX's
            # oversized (band, key) set — one shared set keeps the widened
            # join keys aligned across sides, and the index is the side
            # that grows without bound.  Completeness is preserved
            # (simhash_subdivided's pigeonhole-recursion argument).
            over = self._index_oversized(idx_banded)
            b_sub = dedup.simhash_subdivided(banded, self.max_hamming, over)
            i_sub = dedup.simhash_subdivided(idx_banded, self.max_hamming, over)
            ham = F.bit_count(F.col("b.simhash").bitwiseXOR(F.col("i.simhash")))
            # broadcast the bounded micro-batch side: the index side is
            # the one that grows without bound, so its banded rows must
            # stream map-side (never shuffle) — the only viable join
            # shape at scale, and locally it removes the sort-merge
            # stages that dominate the per-batch floor
            hit_ids = (
                F.broadcast(b_sub.alias("b"))
                .join(i_sub.alias("i"), ["band", "key", "sband", "skey"])
                .where(ham <= self.max_hamming)
                .select(F.col("b.id").alias("id"))
                .distinct()
            )
            survivors = batch.join(
                hit_ids, batch[self.id_col] == hit_ids.id, "left_anti"
            )
            # checkpoint ONCE — survivors feeds both the within-batch pair
            # search and the returned frame; without this the index join +
            # sketch aggregate recompute 2-3× per batch (see the SRP twin)
            survivors = survivors.localCheckpoint(eager=True)
        else:
            survivors = batch
        # within-batch: one representative (min id) per near-dup
        # component, over the checkpointed sketches filtered to the
        # survivors (no gram recompute)
        sh_sur = sh.join(
            survivors.select(F.col(self.id_col).alias("id")), "id", "semi"
        )
        pairs = dedup.simhash_neardup_pairs(
            survivors,
            self.max_hamming,
            id_col=self.id_col,
            text_col=self.text_col,
            bucket_cap=self.bucket_cap,
            sketches=sh_sur,
        )
        comp = dedup.connected_components(pairs)  # (id, component=min reachable)
        losers = comp.where(F.col("id") != F.col("component")).select("id")
        admitted = survivors.join(
            losers, survivors[self.id_col] == losers.id, "left_anti"
        )
        return admitted, sh

    def process_batch(self, batch: DataFrame, epoch_id: int | None = None) -> DataFrame:
        """The foreachBatch hook: decide, emit, THEN index — in that order.

        Replay-idempotence across every crash window:

        - crash before the sink ran: the index is unchanged, so the
          replayed batch recomputes the identical admit decision and
          emits it — nothing lost, nothing duplicated;
        - crash after the sink but before ``index.append`` committed:
          the replay re-admits and re-emits, and the sink's own
          idempotence (keyed upsert / txlog) absorbs the duplicate;
        - crash after the append committed: the replayed admit rejects
          the already-indexed docs, the sink receives an empty batch.

        Appending to the index FIRST would invert the middle window into
        silent permanent loss: the replayed admit would reject docs whose
        sketches committed even though the sink never saw them."""
        admitted, sh = self._admit_with_sketches(batch)
        out = admitted.localCheckpoint(eager=True)  # decide BEFORE the index moves
        if self.sink is not None:
            self.sink(out, epoch_id)
        # the batch's checkpointed sketch frame, filtered to the admitted
        # ids — not a recompute of the gram pipeline over out's raw text
        sketches = sh.join(
            out.select(F.col(self.id_col).alias("id")), "id", "semi"
        ).select(F.col("id").alias(self.id_col), "simhash")
        self.index.append(sketches)
        self._update_counts(sketches)
        return out

    def _update_counts(self, admitted_sketches: DataFrame) -> None:
        """Fold this batch's (band, key) occupancy into the counts table —
        O(batch) aggregate + a merge against one-row-per-occupied-bucket,
        stamped with the index version the result reflects (deferred up to
        ``fold_every`` batches by :class:`_PendingFold`).  Runs AFTER
        ``index.append``: a crash in between leaves a stale stamp, which
        the reader detects and survives via full recompute (see
        :meth:`_index_oversized`) — the valve is a performance device, so
        the fallback costs time, never correctness."""
        if self.bucket_cap is None:
            return
        self._fold.push_and_maybe_fold(
            self.counts,
            dedup.simhash_banded(
                admitted_sketches.select(F.col(self.id_col).alias("id"), "simhash"),
                self.max_hamming,
            ),
            self.index.latest_version(),
            lambda: dedup.simhash_banded(
                self.index.read().select(F.col(self.id_col).alias("id"), "simhash"),
                self.max_hamming,
            ),
            self._stamp_memo,
        )


class StreamingEmbeddingNearDupFilter:
    """foreachBatch admission for an EMBEDDING stream — the SRP twin of
    :class:`StreamingNearDupFilter` (completes the streaming column of
    the dedup modality matrix: exact / text-near / EMBEDDING-near).

    Per micro-batch: SRP-sign the incoming vectors (one GEMM per Arrow
    batch, `operators/lsh.srp_signature_np`), band-join against the
    accumulating signature index (`lsh.banded_rows` on BOTH sides — the
    stored signature is the only state, band keys re-derive identically),
    exact-verify candidates by cosine (`lsh.cosine_pairs_np`, NaN→NULL
    guarded), reject hits ≥ ``threshold``, keep one representative per
    within-batch near-dup component, then transactionally append the
    admitted ``(id, vector, sig)`` rows to the index.

    Same crash-replay contract as the SimHash filter (decide → sink →
    append; see :meth:`StreamingNearDupFilter.process_batch`) and the
    same incremental (band, key, cnt, idx_version) valve table.  One
    semantic difference, by design: SimHash's valve must SUBDIVIDE
    oversized buckets (its band join is provably lossless and must stay
    so); SRP banding is probabilistic already, so oversized index
    buckets are DROPPED from the candidate join — the batch operator's
    `counted_buckets` argument verbatim (a bucket that deep carries no
    discriminating signal); precision stays 1.0 because every emitted
    rejection is exact-verified.

    Index growth is bounded by admitted volume; index-side join rows are
    (band, key, id) — narrow regardless of ``dim`` (vectors are attached
    only for exact-verified candidates)."""

    def __init__(
        self,
        spark,
        index_path: str,
        sink=None,
        *,
        threshold: float = 0.9,
        dim: int = 64,
        n_planes: int | None = None,
        bands: int | None = None,
        seed: int = lsh.DEFAULT_SEED,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        bucket_cap: int | None = dedup.DEFAULT_BUCKET_CAP,
        fold_every: int = 1,
        expected_n: int | None = None,
    ):
        # banding is FROZEN at construction (signatures are the stored
        # state — retuning later would orphan the index), so size it for
        # the EXPECTED index, not the first micro-batch: with the legacy
        # fixed 24p/8b (3-bit bands) a 2.5k-row index collides every
        # batch row with ~N/8 indexed rows per band — candidate volume
        # grows O(N·batch), the dominant marginal cost the round-7 bench
        # measured.  ``expected_n`` routes through lsh.suggest_banding
        # (same rule the batch operator and scale step use); explicit
        # n_planes/bands still win, and the legacy default stays 24p/8b
        # for small indexes.
        if n_planes is None and bands is None:
            if expected_n is not None:
                n_planes, bands = lsh.suggest_banding(
                    expected_n, threshold, dim=dim
                )
            else:
                n_planes, bands = 24, 8
        elif n_planes is None or bands is None:
            # a HALF-specified banding is a footgun, not a convenience:
            # the old code merged the given value with an auto partner
            # suggested for a DIFFERENT plane count (e.g. user
            # n_planes=24 + auto bands=16 for the suggested 176 planes
            # → 1-bit band keys whose buckets all blow the cap and get
            # valved away — candidate generation silently collapses)
            raise ValueError(
                "pass both n_planes and bands, or neither (auto via "
                "expected_n): a half-specified banding pairs your value "
                "with a partner suggested for a different plane count"
            )
        if bands > n_planes or n_planes % bands:
            raise ValueError(
                f"bands ({bands}) must divide n_planes ({n_planes}): "
                "banded_rows slices the signature into equal-width bands"
            )
        self.index = TxTable(spark, index_path)
        self.counts = TxTable(spark, index_path.rstrip("/") + ".bucket_counts")
        # driver-side (counts_version, idx_version) memo: skips the
        # per-batch stamp-check agg job when this process wrote the last
        # fold; crashes/rival writers invalidate it by version check
        self._stamp_memo: dict = {}
        # fold_every > 1 amortizes the counts commit across K batches
        # (valve reads a ≤K-stale oversized set — counts_oversized.max_lag)
        self._fold = _PendingFold(fold_every)
        self.sink = sink
        self.threshold = threshold
        self.dim = dim
        self.n_planes = n_planes
        self.bands = bands
        self.seed = seed
        self.id_col = id_col
        self.vec_col = vec_col
        self.bucket_cap = bucket_cap
        self.planes = lsh.hyperplanes(dim, n_planes, seed)
        self._check_or_stamp_banding(spark, index_path)

    def _check_or_stamp_banding(self, spark, index_path: str) -> None:
        """Fail LOUDLY when this filter's SRP config doesn't match the
        signatures already stored at ``index_path`` (r14 review: the
        docstring said retuning 'would orphan the index', but nothing
        enforced it — a restart with a different expected_n re-banded
        stored 24-element sigs at positions 1..176, whose NULLs
        concat_ws silently drops, so index band keys could never match
        batch keys and every cross-batch near-dup was ADMITTED).  The
        config (dim, n_planes, bands, seed — everything baked into the
        stored signatures or their banding) is stamped to a JSON
        sidecar next to the index on FIRST construction and compared
        on every later one, through the path's own Hadoop filesystem
        (cluster filesystems included).  A pre-stamp index (built
        before this guard) gets a width probe as a fallback: sig
        length must equal n_planes."""
        import json as _json

        cfg = {
            "dim": self.dim,
            "n_planes": self.n_planes,
            "bands": self.bands,
            "seed": self.seed,
        }
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            index_path.rstrip("/") + ".banding.json"
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            stream = fs.open(p)
            try:
                stored = _json.loads(
                    jvm.org.apache.commons.io.IOUtils.toString(
                        stream, "UTF-8"
                    )
                )
            finally:
                stream.close()
            if stored != cfg:
                raise ValueError(
                    f"SRP banding mismatch at {index_path}: stored "
                    f"{stored}, this filter {cfg} — the stored "
                    "signatures are only searchable under the config "
                    "that built them; reconstruct the index or match "
                    "the stamp"
                )
            return
        if self.index.latest_version() >= 0:
            head = (
                self.index.read().select(F.size("sig").alias("w")).head()
            )
            if head is not None and head["w"] != self.n_planes:
                raise ValueError(
                    f"index at {index_path} stores {head['w']}-plane "
                    f"signatures but this filter is configured for "
                    f"{self.n_planes} — reconstruct the index or match "
                    "the original banding"
                )
        out = fs.create(p, True)
        try:
            out.write(bytearray(_json.dumps(cfg).encode()))
        finally:
            out.close()

    def _sig(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_col).alias("id"),
            lsh.srp_signature_np(self.vec_col, self.planes).alias("sig"),
        )

    def _banded(self, sig_df: DataFrame) -> DataFrame:
        return lsh.banded_rows(sig_df, self.n_planes, self.bands)

    # -- pure decision function (static DF in/out): unit-testable
    def admit(self, batch: DataFrame) -> DataFrame:
        return self._admit_with_sigs(batch)[0]

    def _admit_with_sigs(
        self, batch: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(admitted, batch signature frame).  The (id, sig) GEMM runs
        ONCE per micro-batch and checkpoints — it feeds the index-check
        banding, the within-batch pair search, and (via process_batch)
        the index append and the counts fold, which previously each
        re-ran it (r14 review)."""
        sig = self._sig(batch).localCheckpoint(eager=True)
        if self.index.latest_version() >= 0:
            idx = self.index.read()
            idx_banded = self._banded(idx.select(F.col(self.id_col).alias("id"), "sig"))
            over = counts_oversized(
                self.counts,
                self.index.latest_version(),
                self.bucket_cap,
                lambda: dedup.oversized_buckets(idx_banded, self.bucket_cap),
                stamp_memo=self._stamp_memo,
                max_lag=self._fold.fold_every - 1,
            )
            if over is not None:
                idx_banded = idx_banded.join(over, ["band", "key"], "left_anti")
            # the micro-batch is the bounded side BY CONTRACT (the index
            # grows without bound) — broadcast it so the band join and the
            # verify never shuffle index rows: at 100 TB of indexed
            # signatures that is the only viable join shape, and locally
            # it cuts the per-batch floor (sort-merge join stages on a
            # ~500-row batch cost ~1 s of pure scheduling)
            batch_banded = self._banded(sig)
            cand = (
                F.broadcast(batch_banded.alias("b"))
                .join(idx_banded.alias("i"), ["band", "key"])
                .select(F.col("b.id").alias("bid"), F.col("i.id").alias("iid"))
                .distinct()
            )
            bv = batch.select(F.col(self.id_col).alias("bid"), F.col(self.vec_col).alias("_bv"))
            iv = idx.select(F.col(self.id_col).alias("iid"), F.col(self.vec_col).alias("_iv"))
            raw = lsh.cosine_pairs_np(F.col("_bv"), F.col("_iv"))
            # round to 6 dp HALF_UP exactly like srp_neardup_pairs'
            # verify: the within-batch pass and this index-hit pass must
            # agree on knife-edge similarities (raw 0.8999996 rounds to
            # 0.9 in both) or admission depends on WHICH pass saw the pair
            sim = F.when(F.isnan(raw), F.lit(None).cast("double")).otherwise(
                F.round(raw, 6)
            )
            # candidates ≤ |batch| × bucket_cap per band — USUALLY small:
            # broadcast them (with the batch vectors attached) onto the
            # index-vector fetch so index vectors stream map-side, never
            # shuffle.  But F.broadcast bypasses Spark's own size
            # refusal, and a deep-yet-under-cap bucket (all-zero/NULL
            # vectors from an upstream hiccup all land in one bucket)
            # can put ~cap × dim × 8 B — gigabytes — into the broadcast
            # and OOM the driver (r14 review).  cand is ids-only, so
            # checkpoint it, COUNT it, and route: under the cap the
            # broadcast shape, over it a plain shuffle join — slower,
            # never fatal, and loud in the logs.
            cand = cand.localCheckpoint(eager=True)
            n_cand = cand.count()
            cand_bytes = n_cand * (self.dim * 8 + 32)
            if cand_bytes <= SRP_VERIFY_BROADCAST_CAP:
                with_bv = F.broadcast(cand.join(F.broadcast(bv), "bid"))
            else:
                import logging

                logging.getLogger(__name__).warning(
                    "SRP verify: %d candidates (~%d MB with vectors) "
                    "exceed the broadcast cap — falling back to a "
                    "shuffle join; check the index for degenerate "
                    "vectors piling into one bucket",
                    n_cand, cand_bytes >> 20,
                )
                with_bv = cand.join(bv, "bid")
            hit_ids = (
                with_bv.join(iv, "iid")
                .where(sim >= self.threshold)
                .select(F.col("bid").alias("id"))
                .distinct()
            )
            survivors = batch.join(
                hit_ids, batch[self.id_col] == hit_ids.id, "left_anti"
            )
            # checkpoint ONCE: survivors feeds BOTH the within-batch pair
            # search (whose components checkpoint would otherwise bake a
            # recompute of this whole subtree) and the returned frame
            # (whose process_batch checkpoint would recompute it AGAIN) —
            # the index join + two pandas-UDF stages ran 2-3× per batch
            # before this, the dominant share of the measured floor
            survivors = survivors.localCheckpoint(eager=True)
        else:
            survivors = batch
        # hot_id_threshold=None: hot-id salting protects unbounded-corpus
        # verify joins from reducer skew; a micro-batch is bounded by
        # contract, and the default-on estimate costs a driver collect
        # per batch for nothing.  signatures= feeds the checkpointed
        # per-batch GEMM (filtered to survivors) instead of re-running it
        pairs = lsh.srp_neardup_pairs(
            survivors,
            self.threshold,
            id_col=self.id_col,
            vec_col=self.vec_col,
            dim=self.dim,
            n_planes=self.n_planes,
            bands=self.bands,
            seed=self.seed,
            bucket_cap=self.bucket_cap,
            hot_id_threshold=None,
            # join, not auto (r14): a micro-batch may legitimately carry
            # duplicate ids (re-sends), which the broadcast route rejects
            # by contract; join is duplicate-safe and skips the per-batch
            # count + driver matrix fetch auto would now pay here
            verify_route="join",
            signatures=sig.join(
                survivors.select(F.col(self.id_col).alias("id")), "id", "semi"
            ),
        )
        comp = dedup.connected_components(pairs)
        losers = comp.where(F.col("id") != F.col("component")).select("id")
        admitted = survivors.join(
            losers, survivors[self.id_col] == losers.id, "left_anti"
        )
        return admitted, sig

    def process_batch(self, batch: DataFrame, epoch_id: int | None = None) -> DataFrame:
        """Decide → sink → append, exactly the SimHash filter's order and
        replay-idempotence argument (appending first would turn the
        sink-then-crash window into silent permanent loss)."""
        admitted, sig = self._admit_with_sigs(batch)
        out = admitted.localCheckpoint(eager=True)
        if self.sink is not None:
            self.sink(out, epoch_id)
        # re-attach the batch's checkpointed signatures to the admitted
        # vectors — not a third GEMM over them
        store = out.select(self.id_col, self.vec_col).join(
            sig.withColumnRenamed("id", self.id_col), self.id_col
        )
        self.index.append(store)
        if self.bucket_cap is not None:
            self._fold.push_and_maybe_fold(
                self.counts,
                self._banded(store.select(F.col(self.id_col).alias("id"), "sig")),
                self.index.latest_version(),
                lambda: self._banded(
                    self.index.read().select(F.col(self.id_col).alias("id"), "sig")
                ),
                self._stamp_memo,
            )
        return out
