"""Deduplication operators — the LLM-training-data pipeline core.

Five strategies, all whole-stage-codegen'd Catalyst plans (no Python UDFs,
and — deliberately — no higher-order-function lambdas on the hot paths:
HOF lambdas execute interpreted per element, which measured 3-10× slower
than the row-based spellings below at sf0.1):

- ``exact_dedup``: normalize → groupBy → keep min id.
- ``ngram_jaccard_pairs`` (exact): word-3-gram rows via posexplode +
  window leads, inverted-index candidate join, exact Jaccard from
  shared-gram counts.  Only pairs sharing ≥1 gram materialize; ``df_cap``
  drops grams occurring in >cap docs (the scale valve at 100 TB — such
  grams can't distinguish near-dups anyway).
- ``minhash_lsh_pairs``: MinHash over md5-based gram hashes (16 codegen'd
  min-aggregates), banded equi-join on ids only, exact-Jaccard
  verification → precision 1.0, recall measured (tests).
- ``simhash`` / ``simhash_neardup_pairs``: 32-bit SimHash as one grouped
  aggregate of 32 bit-vote sums; pair search via pigeonhole banding that
  provably equals the all-pairs answer at Hamming ≤ bands-1.
- embedding cosine near-dup: operators/topk (exact) and operators/lsh
  (random-projection bucketed).

Gram semantics match the DuckDB oracles: distinct word 3-grams of the
lowercased alnum tokens; documents with <3 tokens contribute the single
gram "all tokens joined" (possibly "" for empty docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..functions import text as TX

NGRAM_N = 3
MINHASH_SEEDS: list[tuple[int, int]] = [
    (2971, 11), (4621, 101), (7919, 907), (9973, 1009),
    (14983, 2003), (17389, 3001), (23459, 4001), (28657, 5003),
    (31393, 6007), (37199, 7001), (43063, 8009), (49031, 9001),
    (54499, 10007), (60493, 11003), (65921, 12007), (71399, 13001),
]
LSH_BANDS = 8  # 16 hashes → 8 bands × 2 rows
SIMHASH_BITS = 32
# Scale valve on every banded candidate join: a (band, key) bucket of B ids
# yields B·(B-1)/2 pairs in ONE reducer — 10⁶ ids in one bucket is 5·10¹¹
# pairs.  100k members ≈ 5·10⁹ pairs ≈ the most one reducer should ever see.
DEFAULT_BUCKET_CAP = 100_000

TOKEN_SPLIT_RE = r"[^a-z0-9']+"


def normalized_text(col: str = "text") -> Column:
    return F.lower(TX.clean_text(F.col(col)))


def exact_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_first: bool = False,
    _hash_exprs=None,
) -> DataFrame:
    """Exact dedup on normalized text: one keeper (min id) per group.

    ``hash_first=False`` (default, the oracle path): group by the text
    itself — the shuffle payload is the corpus, fine below ~1 TB and
    trivially SQL-mirrorable.

    ``hash_first=True`` (the 100 TB spelling): shuffle only
    (xxhash64(norm), md5(norm), id) — ≤48 B/row regardless of document
    size, so the exchange is id-table-sized, not corpus-sized.  A group
    whose members agree on the 64-bit hash but disagree on the 128-bit
    check hash is a REAL xxhash64 collision (expected ~(N²)/2⁶⁵ groups:
    ~3·10⁴ at a trillion docs — rare but not ignorable); those few
    hashes are resolved exactly by re-scanning just their rows (broadcast
    semi-join on the colliding hash values) and regrouping by the actual
    text.  Rows agreeing on BOTH hashes are merged without text
    comparison (2⁻¹²⁸ false-merge odds — the content-address standard).
    Output is row-identical to the text-key path (asserted in tests,
    including a forced-collision test via ``_hash_exprs``).

    ``_hash_exprs`` (tests only): ``(primary, check)`` column-builder
    pair replacing (xxhash64, md5) to make collisions reachable."""
    norm = docs.select(id_col, normalized_text(text_col).alias("_norm"))
    if not hash_first:
        return (
            norm.groupBy("_norm")
            .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dupes"))
            .select("keeper_id", "n_dupes")
        )
    mk_h, mk_h2 = _hash_exprs or (
        lambda c: F.xxhash64(c),
        lambda c: F.md5(c),
    )
    # null norms: md5(NULL) is NULL and count_distinct skips NULLs, which
    # would misclassify an all-null group — fold NULL to a sentinel no
    # md5 hex string can equal
    hashed = norm.select(
        F.col(id_col).alias("_id"),
        mk_h(F.col("_norm")).alias("_h"),
        F.coalesce(mk_h2(F.col("_norm")).cast("string"), F.lit("∅")).alias("_h2"),
    )
    g = hashed.groupBy("_h").agg(
        F.min("_id").alias("keeper_id"),
        F.count("*").alias("n_dupes"),
        F.count_distinct("_h2").alias("_nd"),
    )
    clean = g.where(F.col("_nd") <= 1).select("keeper_id", "n_dupes")
    suspects = g.where(F.col("_nd") > 1).select("_h")
    resolved = (
        norm.withColumn("_h", mk_h(F.col("_norm")))
        .join(F.broadcast(suspects), "_h")
        .groupBy("_h", "_norm")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dupes"))
        .select("keeper_id", "n_dupes")
    )
    return clean.unionByName(resolved)


def gram_rows(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, gram): DISTINCT word n-grams as rows, fully codegen'd AND
    shuffle-free.

    Trigram windows are built array-side — ``arrays_zip(arr, slice(arr,2),
    slice(arr,3))`` zips each token with its two successors (zip pads the
    shorter slices with NULL; rows with a NULL third member are the <3-token
    tails and are dropped) — then exploded.  Everything before the
    downstream gram join is map-side: no window shuffle over the exploded
    token stream, which at 100 TB is an exchange the size of the corpus.
    (History: an interpreted transform/slice lambda chain came first, then
    posexplode + window leads; this is the third form — same output, zero
    Exchange, no LambdaFunction.)
    """
    joined_for_grams = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), TOKEN_SPLIT_RE, " ")
    )
    # stage the token array as a named column: arrays_zip references it 5x,
    # and Generate-input expressions get no codegen CSE — inlining the
    # split would run the regexp pipeline 5x per doc (measured 2x slower
    # end-to-end).  CollapseProject keeps multiply-referenced non-cheap
    # aliases staged, so `arr` is computed exactly once.
    arr = F.col("arr")
    tri = F.arrays_zip(
        arr.alias("w0"),
        F.slice(arr, 2, F.size(arr)).alias("w1"),
        F.slice(arr, 3, F.size(arr)).alias("w2"),
    )
    g3 = (
        docs.select(F.col(id_col).alias("id"), F.split(joined_for_grams, " ").alias("arr"))
        .select("id", F.explode(tri).alias("t"))
        .where(F.col("t.w2").isNotNull() & (F.col("t.w0") != ""))
        .select("id", F.concat_ws(" ", "t.w0", "t.w1", "t.w2").alias("gram"))
    )
    # <3-token docs: single whole-text gram (matches the oracle's CASE).
    # "tokens joined by one space" == separator runs collapsed to ' ' and
    # trimmed — pure codegen'd regexp, no tokenizer lambda.
    joined = F.trim(F.regexp_replace(F.lower(F.col(text_col)), TOKEN_SPLIT_RE, " "))
    n_tokens = F.when(joined == "", F.lit(0)).otherwise(F.size(F.split(joined, " ")))
    short = (
        docs.select(F.col(id_col).alias("id"), joined.alias("gram"), n_tokens.alias("_n"))
        .where(F.col("_n") < NGRAM_N)
        .select("id", "gram")
    )
    return g3.unionByName(short).distinct()


def gram_sizes(grams: DataFrame) -> DataFrame:
    return grams.groupBy("id").agg(F.count("*").alias("n_grams"))


def _pair_jaccard(cand_grams_a: DataFrame, grams: DataFrame, sizes: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) from (id_a, id_b, gram) candidate-gram rows:
    shared counts + set sizes → exact Jaccard."""
    gb = grams.select(F.col("id").alias("id_b"), "gram")
    shared = (
        cand_grams_a.join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
    return (
        shared.join(sa, "id_a").join(sb, "id_b").select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a<b, jaccard ≥ threshold) via
    the inverted-index join — no crossJoin anywhere.

    ``df_cap`` (None disables) drops grams present in more than cap docs
    — a gram in B docs is B²/2 candidate rows in one reducer, and such
    grams (boilerplate) can't distinguish near-dups.  Safe-by-default at
    corpus scale, like every banded valve in this module; with the cap
    engaged jaccard becomes a lower bound (see NOTE below), which only
    loses pairs whose evidence was undistinguishing anyway.  Because the
    cap makes the default answer a lower bound, callers who need the
    literal exact Jaccard must pass ``df_cap=None``; to see exactly which
    grams a given cap would drop (and audit whether any could matter),
    run :func:`ngram_df_cap_audit` — it shares the gram plan, so the audit
    costs one narrow aggregate."""
    grams = gram_rows(docs, id_col=id_col, text_col=text_col)
    sizes = gram_sizes(grams)
    inv = grams
    if df_cap is not None:
        # window count, not aggregate+semi-join (see counted_buckets;
        # this stage is training_pipeline's top marginal cost): the
        # window's (gram) exchange is the exact partitioning the candidate
        # self-join needs, so both join sides read ONE ReusedExchange of
        # this subtree instead of paying a separate aggregate shuffle
        # branch plus the gram re-join.
        w = Window.partitionBy("gram")
        inv = (
            grams.withColumn("_df", F.count("*").over(w))
            .where(F.col("_df") <= df_cap)
            .drop("_df")
        )
    a = inv.select(F.col("id").alias("id_a"), "gram")
    b = inv.select(F.col("id").alias("id_b"), "gram")
    # merge hint: both sides are the same gram pipeline ending in the
    # df_cap window's (gram) exchange, so forcing a sort-merge join lets
    # the b side reuse that exchange instead of planning a second one.
    # The executed plan runs one query stage fewer and uses less CPU than
    # without the hint (evidence: adjudicate_minhash_r15.json); at corpus
    # scale the planner picks SMJ here anyway.
    b = b.hint("merge")
    cand_grams = (
        a.join(b, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "gram")
    )
    shared = cand_grams.groupBy("id_a", "id_b").agg(F.count("*").alias("shared"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
    out = shared.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )
    # NOTE with df_cap set, `shared` undercounts capped grams but na/nb
    # still count them — jaccard is a lower bound, so threshold filtering
    # only loses pairs whose evidence was undistinguishing anyway.
    return out.where(F.col("jaccard") >= threshold)


def ngram_df_cap_audit(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """(gram, df) of the grams :func:`ngram_jaccard_pairs` would DROP at
    this ``df_cap`` — the accountability twin of the valve.  Count the
    rows to log how much evidence the cap discards on a given corpus;
    empty means the capped answer IS the exact answer."""
    grams = gram_rows(docs, id_col=id_col, text_col=text_col)
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
    )


def exploded_gram_hashes(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, h): md5-based 32-bit hash per distinct gram — codegen'd."""
    return gram_rows(docs, id_col=id_col, text_col=text_col).select(
        "id", hashing.md5_hash32(F.col("gram")).alias("h")
    )


def minhash_signatures(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, m0..m15): MinHash signature as 16 codegen'd min-aggregates."""
    eh = exploded_gram_hashes(docs, id_col=id_col, text_col=text_col)
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(hashing.POLY_MOD)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return eh.groupBy("id").agg(*mins)


def minhash_banded(sig: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(id, m0..m15) → (id, band, key) LSH band rows: the signature cut
    into ``bands`` slices of len/bands hashes, each slice concatenated
    into the bucket key.  Sibling of :func:`simhash_banded`."""
    rows_per_band = len(MINHASH_SEEDS) // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"m{band * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for band in range(bands)
        ]
    )
    return sig.select("id", F.explode(band_structs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def counted_buckets(banded: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Drop LSH buckets with more than ``bucket_cap`` member ids (None
    keeps every bucket) — the ``df_cap`` valve transferred to banded
    candidate joins — keeping each row's bucket size as ``_bn`` so
    downstream hot-id estimation can reuse it instead of re-aggregating.

    A bucket over the cap means the signature slice failed to spread the
    corpus (empty/boilerplate docs collapsing to one slice) — its pairs
    carry no discriminating evidence, and materializing them goes quadratic
    in a single reducer.  Dropping the bucket loses only pairs whose OTHER
    bands ALSO failed to match; every surviving pair is still exact-verified
    downstream, so precision is unaffected.

    Spelled as a window count, NOT an aggregate+semi-join: the window's
    (band, key) exchange is the exact partitioning the downstream candidate
    self-join needs, so both join sides read ONE ReusedExchange of this
    subtree and the valve costs a per-partition count instead of a second
    shuffle branch.

    Valve-spelling bake-off (sf0.1, min-of-3, identical outputs):
    window (this) 3.27s / 2.49s (minhash / simhash); aggregate+semi-join
    4.12s (the aggregate's partial stage below the exchange breaks
    subtree reuse, so the whole signature pipeline runs twice); grouped
    collect_list arrays with map-side pair generation 3.06s / 2.47s.  The
    array spelling's 1-6% win is rejected on scale grounds: collect_list
    materializes each bucket's FULL member array in the aggregation
    buffer before the cap filter can drop it — a degenerate mega-bucket
    (10⁹ empty docs) is an unspillable multi-GB array in one task, while
    the window's sort spills to disk and counts streaming.  The window's
    residual cost is one sort over (band, key) per join side above a
    ReusedExchange (verified in the AQE final plan), which is the price
    of the only spelling that is both single-subtree and spill-safe.
    """
    w = Window.partitionBy("band", "key")
    counted = banded.withColumn("_bn", F.count(F.lit(1)).over(w))
    if bucket_cap is not None:
        counted = counted.where(F.col("_bn") <= bucket_cap)
    return counted


def hot_id_estimate(counted: DataFrame, threshold: int, *, limit: int = 10_000) -> DataFrame:
    """(id) rows whose Σ(bucket_size − 1) over their surviving band rows —
    an upper bound on how many candidate PAIRS the id participates in
    (co-bucket members double-counted across bands, which only widens the
    bound) — exceeds ``threshold``.  Hottest first, bounded to ``limit``
    (a TakeOrdered inside the plan, no driver collect): salting a
    merely-warm id is row-identical, so the superset costs nothing but
    dim replication.

    Derived from the valve window's ``_bn`` (:func:`counted_buckets`), so
    hot-id detection needs NO second pass over the candidate join and no
    localCheckpoint — the r4 advisor's fault-tolerance and determinism
    concerns with the checkpoint+collect spelling are both gone."""
    return (
        counted.groupBy("id")
        .agg(F.sum(F.col("_bn") - 1).alias("_est"))
        .where(F.col("_est") > threshold)
        .orderBy(F.col("_est").desc(), F.col("id"))
        .limit(limit)
        .select("id")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = LSH_BANDS,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    hot_id_threshold: int | None = 100_000,
) -> DataFrame:
    """MinHash + banded LSH candidates, verified with exact Jaccard.

    Candidates: equi-join on (band, signature-slice), ids only.  A pair is
    a candidate iff some band matches.  Verification recomputes exact
    Jaccard from gram rows, so precision is 1.0; recall at j≥0.9 with 8×2
    banding is 1-(1-0.81)^8 ≈ 1.0 (measured in tests/test_dedup.py).

    ``hot_id_threshold`` (None disables): a doc in more than N candidate
    pairs skews the gram re-attach join, and default AQE does NOT save
    it — the verify join's output partitioning feeds the shared-gram
    aggregate directly, and OptimizeSkewedJoin declines to split a join
    whose partitioning a downstream operator consumes (it would add an
    exchange; verified empirically — the split happens only under the
    global ``forceOptimizeSkewedJoin`` flag, pinned in
    tests/test_scale.py).  So salting defaults ON, fully declaratively:
    hot ids are ESTIMATED from the valve window's bucket sizes
    (:func:`hot_id_estimate` — Σ(bucket−1) upper-bounds pair membership;
    deterministic, bounded, no localCheckpoint, no driver collect) and
    the gram re-attach always goes through
    :func:`scale.salted_join_hot_df` with that estimate broadcast into
    the plan — row-identical output, bounded per-reducer fan-in.  A
    clean corpus pays the salt plumbing with an empty hot set (salt 0
    everywhere; measured ~1s at sf0.1 — the price of the protection
    being on by default); pass ``hot_id_threshold=None`` to strip it
    when the corpus is known skew-free.
    """
    sig = minhash_signatures(docs, id_col=id_col, text_col=text_col)
    banded = minhash_banded(sig, bands)
    counted = counted_buckets(banded, bucket_cap)
    banded = counted.drop("_bn")
    # NO merge hint here, unlike ngram_jaccard_pairs: the hot-estimate
    # branch between the valve window and this join changes the b-side
    # subtree, so the two (band, key) exchanges never canonicalize equal
    # and forcing SMJ reuses nothing.  The executed plans run the same
    # number of query stages with and without the hint, and the hinted
    # plan measured slower in a cold-JVM A/B (evidence:
    # adjudicate_minhash_r15.json, plans/r15/
    # dedup_minhash_lsh_executed_*.txt).  At corpus scale the planner
    # picks SMJ by size anyway, so the hint buys nothing there either.
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    grams = gram_rows(docs, id_col=id_col, text_col=text_col)
    ga = grams.select(F.col("id").alias("id_a"), "gram")
    if hot_id_threshold is not None:
        from . import scale

        # fully declarative: the hot set rides the plan as a broadcast
        # (salted_join_hot_df) — no driver collect, no second job, and
        # the hot-estimate branch shares the banded exchange inside the
        # one DAG.  Measured cheaper than a separate estimate job for
        # this single-join shape (4.0s vs 4.35s at sf0.1); SRP keeps the
        # bounded-collect spelling because its TWO payload joins make
        # the always-on salt machinery the dearer path there.
        hot_df = hot_id_estimate(counted, hot_id_threshold).select(
            F.col("id").alias("id_a")
        )
        cand_grams_a = scale.salted_join_hot_df(
            cands, ga, "id_a", hot_df, n_salts=16
        ).select("id_a", "id_b", "gram")
    else:
        cand_grams_a = cands.join(ga, "id_a").select("id_a", "id_b", "gram")
    verified = _pair_jaccard(cand_grams_a, grams, gram_sizes(grams))
    return verified.where(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct gram hashes: bit b set iff
    sum(2*((h>>b)&1)-1) > 0 — one grouped aggregate with 32 codegen'd
    bit-vote sums; portable integer math (oracle reproduces bit-for-bit).
    """
    eh = exploded_gram_hashes(docs, id_col=id_col, text_col=text_col)
    votes = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    voted = eh.groupBy("id").agg(*votes)
    sh = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sh = term if sh is None else sh + term
    return voted.select("id", sh.alias("simhash"))


def simhash_banded(sh: DataFrame, max_hamming: int) -> DataFrame:
    """(id, simhash) → (id, simhash, band, key) pigeonhole band rows:
    (max_hamming+1) bands of SIMHASH_BITS/(max_hamming+1) bits each.  Any
    pair at Hamming ≤ max_hamming must agree exactly on ≥1 band, so an
    equi-join on (band, key) is a provably complete candidate generator.
    Shared by the batch pair join and the streaming near-dup filter."""
    bands = max_hamming + 1
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright(F.col("simhash"), band * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for band in range(bands)
        ]
    )
    return sh.select("id", "simhash", F.explode(band_structs).alias("bk")).select(
        "id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def oversized_buckets(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """(band, key) buckets whose membership exceeds ``bucket_cap``."""
    return (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("_bn"))
        .where(F.col("_bn") > bucket_cap)
        .select("band", "key")
    )


def simhash_subdivided(
    banded: DataFrame,
    max_hamming: int,
    oversized: DataFrame | None = None,
    *,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Exact-subdivide oversized pigeonhole buckets — completeness kept.

    SimHash's selling point is that the band join provably equals the
    all-pairs answer, so the mega-bucket valve here must not drop anything.
    The recursion: a pair in bucket (band i, key k) agrees on band i's
    bits, so ALL its ≤ max_hamming differing bits live in the REMAINING
    ``SIMHASH_BITS - width`` bits — the pigeonhole argument applies to
    those bits again.  Re-band the remaining bits of every member of an
    oversized bucket into (max_hamming+1) sub-bands: a qualifying pair
    still agrees exactly on ≥1 (band, key, sband, skey), so the equi-join
    on the widened key is still a complete candidate generator, while a
    degenerate one-band collision (say boilerplate docs sharing 8 bits)
    fans out across ~2^sub_width sub-buckets instead of one reducer.
    Truly-identical sketches still share every sub-bucket — quadratic
    OUTPUT is inherent there (every pair genuinely qualifies); run
    exact_dedup first.  One level of subdivision (reduction ~2^6 at
    max_hamming=3); members of small buckets keep a sentinel sub-key.

    Two ways to name the oversized buckets:

    - ``oversized``: explicit (band, key) relation (see
      :func:`oversized_buckets`) — for a TWO-SIDED join (streaming index
      vs batch) both sides must subdivide on the SAME bucket set or the
      widened join keys misalign.
    - ``bucket_cap``: for the SELF-join case, a window count over
      (band, key) — the window's exchange is the partitioning the
      candidate join needs anyway, so the valve rides one ReusedExchange
      instead of adding an aggregate branch + broadcast join.

    Neither → no subdivision (sentinel keys only).
    """
    bands = max_hamming + 1
    width = SIMHASH_BITS // bands
    sentinel = [F.lit(-1).alias("sband"), F.lit(0).cast("long").alias("skey")]
    if oversized is None and bucket_cap is None:
        return banded.select("id", "simhash", "band", "key", *sentinel)
    if oversized is not None:
        flagged = banded.join(
            F.broadcast(oversized.select("band", "key", F.lit(True).alias("_big"))),
            ["band", "key"],
            "left",
        ).withColumn("_big", F.col("_big").isNotNull())
    else:
        w = Window.partitionBy("band", "key")
        flagged = banded.withColumn(
            "_big", F.count(F.lit(1)).over(w) > bucket_cap
        )
    # rem = simhash with this band's bits excised (low bits stay, high bits
    # shift down) — the bits a bucket-sharing pair can still differ in
    rem = None
    for i in range(bands):
        low_mask = (1 << (i * width)) - 1
        expr = F.shiftright(F.col("simhash"), (i + 1) * width) * F.lit(1 << (i * width)) + F.col(
            "simhash"
        ).bitwiseAND(F.lit(low_mask))
        rem = F.when(F.col("band") == i, expr) if rem is None else rem.when(F.col("band") == i, expr)
    rem_bits = SIMHASH_BITS - width
    base, extra = divmod(rem_bits, bands)
    sub = []
    off = 0
    for j in range(bands):
        w = base + (1 if j < extra else 0)
        sub.append(
            F.struct(
                F.lit(j).alias("sband"),
                F.shiftright(rem, off).bitwiseAND(F.lit((1 << w) - 1)).cast("long").alias("skey"),
            )
        )
        off += w
    # ONE conditional explode instead of a small/big split + union: the
    # split re-reads the windowed frame twice; here small rows explode a
    # 1-element sentinel array and stay a single pipeline
    sk = F.when(F.col("_big"), F.array(*sub)).otherwise(F.array(F.struct(*sentinel)))
    return flagged.select("id", "simhash", "band", "key", F.explode(sk).alias("sk")).select(
        "id", "simhash", "band", "key", F.col("sk.sband").alias("sband"), F.col("sk.skey").alias("skey")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming ≤ max_hamming via the pigeonhole
    band join: split into (max_hamming+1) bands — any qualifying pair MUST
    share an exact band, so the candidate equi-join provably contains every
    qualifying pair (banded output == all-pairs output).  Oversized buckets
    are exact-subdivided (:func:`simhash_subdivided`) — the valve keeps the
    completeness proof intact.

    ``sketches``: precomputed (id, simhash) rows for exactly the docs in
    ``docs`` — skips the gram pipeline here (the streaming filter
    computes the sketch frame once per micro-batch and feeds every
    consumer from it; r14 review measured the pipeline running up to 4×
    per batch).  Caller owns the id-set equivalence.

    Band selectivity note (measured, tools/dedup_eval.py): Hamming ≤ 3
    over 32 bits targets Manku 2007's near-identical-page regime — on
    planted 5%-token-edit duplicates recall is ~0.08 while the Jaccard
    family scores 1.0.  Reach for this when you want CHEAP high-precision
    near-identical detection, not edit-tolerant near-dup."""
    sh = (
        sketches
        if sketches is not None
        else simhash(docs, id_col=id_col, text_col=text_col)
    )
    banded = simhash_banded(sh, max_hamming)
    sub = simhash_subdivided(banded, max_hamming, bucket_cap=bucket_cap)
    jk = ["band", "key", "sband", "skey"]
    a = sub.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"), *jk)
    b = sub.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"), *jk)
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # (r14 opt note: a merge hint here — the minhash_lsh_pairs treatment —
    # was tried and REVERTED: the simhash sketch pipeline is one cheap
    # aggregate, so recomputing it under a broadcast build costs less
    # than the extra sort+shuffle the hint adds (A/B same-session: 3.35 s
    # vs 3.74 s, 5.1 vs 5.5 cpu-s at sf0.1), and at corpus scale the
    # planner picks SMJ by size anyway — the hint had no scale benefit.)
    # r15 opt (guide §2.3, shuffle fewer bytes): the Hamming test is a
    # per-row function of (ha, hb), so apply it BEFORE the pair-distinct
    # — the dropDuplicates exchange then carries only QUALIFYING pairs
    # instead of every band-collision candidate (the band join is a
    # recall device; at Hamming ≤ 3 most candidates fail the check).
    # Row-identical: hamming is functionally determined by (id_a, id_b),
    # so filtering before or after the distinct keeps the same pair set.
    return (
        a.join(b, jk)
        .where((F.col("id_a") < F.col("id_b")) & (ham <= max_hamming))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
    )


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup pairs → clusters: (id, component) where component is the
    MINIMUM id reachable through the pair graph (the canonical
    representative).  The missing half of every pair-emitting dedup
    operator: a training-data pipeline keeps one doc per component, not
    one per pair.

    Algorithm: min-label propagation with per-round path compression —
    each round a vertex takes the min of its own label, its neighbors'
    labels, AND its label's label (pointer chasing).  The compression
    step doubles the effective propagation distance per round, so
    convergence is O(log diameter) instead of O(diameter) — the same
    trick that makes large-star/small-star web-scale.  Labels only ever
    decrease and always name a reachable vertex, so the fixpoint is the
    true reachable minimum.  Each round ``localCheckpoint``s to cut
    lineage (iterative joins otherwise build an exponentially deep
    plan).  Raises if not converged by ``max_iter``."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # no pairs → no components: skip the propagation loop entirely (its
    # two eager checkpoints + convergence count cost ~4 jobs).  Streaming
    # admission calls this PER MICRO-BATCH and most batches carry no
    # within-batch dups, so the empty case is the hot case — isEmpty on
    # the already-checkpointed edges is near-free.
    if edges.isEmpty():
        return edges.select(F.col("src").alias("id"), F.col("src").alias("component"))
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "component")
        )
        merged = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # path compression: component <- min(component, label[component])
        ptr = merged.select(F.col("id").alias("_pid"), F.col("component").alias("_pcomp"))
        new_labels = (
            merged.join(ptr, merged.component == F.col("_pid"), "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("_pcomp"), F.col("component"))).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "input does not look like near-dup pairs (use large-star/small-star "
        "for general graphs)"
    )


def dedup_keep_representative(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Keep one document per near-dup component (the min-id
    representative) plus every unpaired document — the end-to-end
    contract of a dedup stage in a training pipeline.  The components
    relation is tiny (only docs that appear in pairs), so the final join
    broadcasts."""
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    drop = comp.where(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return docs.join(F.broadcast(drop), id_col, "left_anti")


def duplicate_weights(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    weight_col: str = "sample_weight",
) -> DataFrame:
    """SOFT dedup: every doc keeps flowing, weighted 1/|its duplicate
    component| — so each piece of CONTENT contributes unit total weight
    to the loss no matter how many near-copies exist.  The
    downweight-don't-drop treatment (the SoftDeDup idea; also how
    mixture pipelines express "seen n times ⇒ 1/n epochs") — use it when
    hard removal (:func:`dedup_keep_representative`) would throw away
    annotation or provenance diversity the copies carry.  Unpaired docs
    weigh 1.0; the component-size relation is tiny and broadcasts."""
    comp = connected_components(pairs, a_col=a_col, b_col=b_col)
    sizes = comp.groupBy("component").agg(F.count("*").alias("_csize"))
    weights = comp.join(sizes, "component").select(
        F.col("id").alias(id_col),
        (F.lit(1.0) / F.col("_csize")).alias(weight_col),
    )
    return docs.join(F.broadcast(weights), id_col, "left").withColumn(
        weight_col, F.coalesce(F.col(weight_col), F.lit(1.0))
    )


def dedup_lines(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
) -> DataFrame:
    """CORPUS-LEVEL duplicate-line removal (the Dolma / CCNet "paragraph
    dedup" stage): every line that appears anywhere else in the corpus
    survives only at its FIRST occurrence (min (doc_id, line_no)); later
    occurrences are dropped and each document is reassembled from its
    surviving lines in order.  This is the boilerplate killer — headers,
    cookie banners, license blocks repeated across millions of pages —
    which document-level dedup (exact/minhash) cannot touch because the
    surrounding documents differ.

    Returns (id, text, n_lines_kept, n_lines_dropped).  Documents whose
    every line was dropped keep an empty text (auditable), not a missing
    row.  Lines shorter than ``min_line_chars`` after trim are kept
    verbatim without participating in dedup (blank separators are
    structure, not boilerplate).

    Scale shape (3 well-formed shuffles, no valve needed):

    1. posexplode lines → group by the LINE itself, aggregating
       ``min(struct(doc_id, line_no))``.  A line occurring 10⁹ times is
       exactly what this stage removes, and partial (map-side)
       aggregation reduces every hot line to one row per task before the
       exchange — skew is structurally benign, unlike the pair-join
       shapes that need caps/salts.
    2. The winners (line, keeper doc, keeper pos) join back to the
       exploded lines on the line key — same partitioning, one exchange,
       AQE-planned.
    3. Reassembly: group by doc, ``array_sort`` the surviving
       (line_no, line) structs, concat.  Shuffles (id, surviving text)
       once.

    The line group key is the raw line string; at 100 TB swap in
    ``xxhash64(line)`` + collision verify (the ``hash_first`` spelling of
    :func:`exact_dedup`) to keep the exchange narrow.
    """
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    eligible = lines.where(F.length(F.trim(F.col("line"))) >= min_line_chars)
    winners = eligible.groupBy("line").agg(
        F.min(F.struct("id", "line_no")).alias("w")
    )
    survivors = eligible.join(winners, "line").where(
        (F.col("id") == F.col("w.id")) & (F.col("line_no") == F.col("w.line_no"))
    )
    short = lines.where(F.length(F.trim(F.col("line"))) < min_line_chars)
    kept = survivors.select("id", "line_no", "line").unionByName(
        short.select("id", "line_no", "line")
    )
    n_lines = lines.groupBy("id").agg(F.count("*").alias("_n_total"))
    kept_agg = kept.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("line_no", "line"))).alias("_k")
    )
    # left join from the per-doc totals: a doc whose EVERY line was
    # dropped still comes back (empty text), it doesn't vanish
    empty = F.array().cast("array<struct<line_no:int,line:string>>")
    return (
        n_lines.join(kept_agg, "id", "left")
        .withColumn("_k", F.coalesce(F.col("_k"), empty))
        .select(
            F.col("id").alias(id_col),
            F.array_join(F.transform("_k", lambda s: s.line), "\n").alias(text_col),
            F.size("_k").cast("bigint").alias("n_lines_kept"),
            (F.col("_n_total") - F.size("_k")).cast("bigint").alias("n_lines_dropped"),
        )
    )
