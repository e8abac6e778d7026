"""Portable Bloom filter — the cross-crawl "seen before?" membership
sketch.

The 100 TB use case: an incremental crawl (or a decontamination pass)
must test billions of keys against a set built from a PREVIOUS corpus
without paying a join between two corpora.  A Bloom filter compresses
the build side to m bits (1.2 GB at 1e9 keys / 1% fp with k=7) that
broadcast to every executor, so the probe side never shuffles at all —
membership is a map-side expression.

Spark's own BloomFilter (`DataFrameStatFunctions`, Scala-only) hashes
with Murmur3 internally; this module instead derives bit positions from
**md5 via Kirsch-Mitzenmacher double hashing** (pos_i = (h1 + i*h2) mod
m, one md5 per key), because md5 is the engine-portable hash of this
repo (`functions/hashing.md5_hash32`): a DuckDB oracle reproduces every
position — and therefore every membership verdict, INCLUDING the false
positives — bit-for-bit.

Three serving tiers, row-identical by construction and by test:

- **literal tier** (`bloom_contains_expr`): the m/32-word bitmap is
  inlined as an array literal and membership is pure Catalyst
  (element_at + shift + bitwise AND inside whole-stage codegen).  Right
  for small-to-medium filters (m ≲ 2^22: a 128 KB plan constant) —
  e.g. a benchmark-decontam set or a blocklist — and it is the
  oracle-gateable spelling.
- **join tier** (`bloom_contains_join`, r12): probe against the word
  FRAME itself via a broadcast hash join — no plan literal, no Python.
  The mid-size band (m ≈ 2^22..2^30, word frame ≤ tens of MB) where
  the literal tier's plan constant bloats and the Arrow tier's per-row
  hashlib would put a billion-key frontier probe in Python.
- **numpy tier** (`bloom_contains_udf`): the bitmap rides a Spark
  broadcast variable into an Arrow-batched pandas UDF that recomputes
  the same md5 positions with hashlib.  Right at extreme scale (m up
  to tens of billions of bits), where even the word frame's broadcast
  exchange is better paid once as raw bytes.

The distributed build (`bloom_build_words`) never materializes
positions on the driver: explode k positions per key, map to
(word_index, or-mask), and `bit_or` groupBy — partial aggregation
collapses each partition to ≤ m/32 rows before the shuffle, so the
shuffle is bounded by the BITMAP size, not the key count.  The word
frame (≤ m/32 rows) is what `bloom_build` collects.

False positives are a priced contract, not a bug: `bloom_params` sizes
(m, k) from (n, target fp) with the standard bound
m = -n ln p / (ln 2)^2, k = (m/n) ln 2.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str

_WORD_BITS = 32  # 32-bit words: masks stay positive in both engines


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _bit_mask(pos: Column) -> Column:
    """1 << (pos % 32) as a bigint Column.  Spelled as an element_at
    over a 32-literal mask array because PySpark's `shiftleft` only
    takes a literal shift amount; the array lookup is constant-folded
    into codegen the same way.  ONE `F.lit(list)` call, not 32 F.lits:
    per-element literals cost a py4j round-trip each (measured 3.0 s
    to build a 749-literal array vs 0.05 s for the list form — the
    construction, not the execution, dominated the probe timing)."""
    masks = F.lit([1 << b for b in range(_WORD_BITS)]).cast("array<bigint>")
    return F.element_at(masks, (pos % _WORD_BITS).cast("int") + 1)


def bloom_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate at n_items keys.
    m is rounded up to a multiple of the word size; k >= 1."""
    if n_items <= 0:
        return _WORD_BITS, 1
    m = math.ceil(-n_items * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + _WORD_BITS - 1) // _WORD_BITS) * _WORD_BITS
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def bloom_positions(col: ColumnOrName, m_bits: int, k: int) -> Column:
    """array<bigint> of the k bit positions for a key — ONE md5, double
    hashed: h1 = hex[1:16), h2 = hex[17:32) of md5(key), pos_i =
    (h1 % m + i * (h2 % m)) % m.  15-hex-digit slices stay < 2^60 so
    every intermediate fits signed 64-bit in any engine.  The DuckDB
    spelling is :func:`bloom_positions_sql`.

    k is a plain Python int, so the k positions UNROLL into an explicit
    array — no `transform` lambda: higher-order-function lambdas
    execute interpreted (repo design rule #3), and the interpreted hop
    made the literal probe tier 7× slower than the Arrow tier before
    the unroll (the shared md5 is deduplicated by codegen
    subexpression elimination)."""
    md = F.md5(_c(col))
    h1 = F.conv(F.substring(md, 1, 15), 16, 10).cast("bigint") % m_bits
    h2 = F.conv(F.substring(md, 17, 15), 16, 10).cast("bigint") % m_bits
    return F.array(*[(h1 + i * h2) % m_bits for i in range(k)])


def bloom_positions_sql(expr: str, m_bits: int, k: int) -> str:
    """DuckDB expression producing the identical position list (a
    BIGINT[]) for SQL oracles."""
    h1 = f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT) % {m_bits}"
    h2 = f"CAST(('0x' || substr(md5({expr}), 17, 15)) AS BIGINT) % {m_bits}"
    return (
        f"list_transform(range(0, {k}), "
        f"i -> (({h1}) + i * ({h2})) % {m_bits})"
    )


def bloom_build_words(
    df: DataFrame, col: ColumnOrName, m_bits: int, k: int
) -> DataFrame:
    """Distributed build → word frame (word_idx int, word bigint), only
    words with at least one set bit.  Map side: k positions per key →
    (word, mask); `bit_or` partial-aggregates each partition to ≤ m/32
    rows, so the shuffle is bitmap-bounded regardless of key count."""
    pos = F.explode(bloom_positions(col, m_bits, k)).alias("pos")
    return (
        df.select(pos)
        .select(
            F.shiftright(F.col("pos"), 5).cast("int").alias("word_idx"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_build(
    df: DataFrame, col: ColumnOrName, m_bits: int, k: int
) -> list[int]:
    """Collect the word frame into a dense m/32-long word list (the
    driver holds m/32 ints — the BITMAP, never the keys)."""
    words = [0] * (m_bits // _WORD_BITS)
    for r in bloom_build_words(df, col, m_bits, k).collect():
        words[r["word_idx"]] = r["word"]
    return words


def build_seen_filter(
    df: DataFrame, col: str, *, expected: int | None = None,
    fp_rate: float = 0.01,
) -> tuple[list[int], int, int]:
    """A filter over a key column sized for ``fp_rate`` (the 'previous
    crawl' side of incremental ingest): returns ``(words, m_bits, k)``
    for :func:`filter_unseen`.  ``expected`` defaults to a count of the
    frame."""
    n = df.count() if expected is None else expected
    m_bits, k = bloom_params(max(n, 1), fp_rate)
    return bloom_build(df, col, m_bits, k), m_bits, k


def bloom_contains_expr(
    col: ColumnOrName, words: list[int], m_bits: int, k: int
) -> Column:
    """Literal-tier membership: true iff ALL k bits are set.  Pure
    Catalyst (array literal + forall), whole-stage-codegen'd; the exact
    false-positive set is reproduced by any engine sharing the md5
    position formula."""
    wlit = F.lit([int(w) for w in words]).cast("array<bigint>")
    md = F.md5(_c(col))
    h1 = F.conv(F.substring(md, 1, 15), 16, 10).cast("bigint") % m_bits
    h2 = F.conv(F.substring(md, 17, 15), 16, 10).cast("bigint") % m_bits
    cond = F.lit(True)
    # unrolled AND chain (no `forall` — interpreted lambda, see
    # bloom_positions); the k membership tests stay one codegen span
    for i in range(k):
        p = (h1 + i * h2) % m_bits
        cond = cond & (
            F.element_at(wlit, (F.shiftright(p, 5) + 1).cast("int")).bitwiseAND(
                _bit_mask(p)
            )
            != 0
        )
    return cond


def bloom_contains_join(
    df: DataFrame,
    col: str,
    words_df: DataFrame,
    m_bits: int,
    k: int,
    *,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Join-tier membership: probe against the WORD FRAME
    (:func:`bloom_build_words` output) via a broadcast hash join — no
    plan literal (the literal tier's ~2^22-bit cap), no Python (the
    Arrow tier's per-row hashlib), bitmap bounded by m/32 rows.  The
    mid-size sweet spot (m ≈ 2^22..2^30): a frontier-scale probe stays
    entirely inside whole-stage codegen + one broadcast exchange.

    Shape: ONE linear lineage (the robots_allowed/_rid pattern —
    monotonically_increasing_id minted once, no self-join back-join, so
    task retries cannot mispair rows): explode the k (word_idx, mask)
    probe rows per key, left-join the broadcast word frame on
    word_idx, and a key is a member iff ALL k masks land on set bits
    (min over the per-position hit flags).  Null keys yield null, like
    both sibling tiers.

    Row-identical to :func:`bloom_contains_expr` and
    :func:`bloom_contains_udf` by construction (same md5 double-hash
    positions) and by test — false positives included."""
    # _rid minted in its OWN projection: a select mixing the id with a
    # generator evaluates the id per EXPLODED row (observed: 3 ids per
    # key), which breaks the group-back — two stages keep it per-key
    base = df.select(
        F.monotonically_increasing_id().alias("_rid"),
        F.struct(*df.columns).alias("_row"),
        _c(col).alias("_key"),
    )
    l = base.select(
        "_rid",
        "_row",
        F.explode(bloom_positions("_key", m_bits, k)).alias("_pos"),
    ).select(
        "_rid",
        "_row",
        F.shiftright(F.col("_pos"), 5).cast("int").alias("word_idx"),
        _bit_mask(F.col("_pos")).alias("_mask"),
    )
    w = F.broadcast(
        words_df.select("word_idx", F.col("word").alias("_word"))
    )
    joined = l.join(w, "word_idx", "left")
    # null key -> null positions -> null hit flags -> min() null -> null
    hit = (
        F.coalesce(F.col("_word"), F.lit(0)).bitwiseAND(F.col("_mask")) != 0
    ).cast("int")
    return (
        joined.groupBy("_rid", "_row")
        .agg(F.min(hit).alias("_h"))
        .select(F.col("_row.*"), (F.col("_h") == 1).alias(out_col))
    )


def bloom_contains_udf(df: DataFrame, col: str, words: list[int],
                       m_bits: int, k: int, *, out_col: str = "bloom_hit"
                       ) -> DataFrame:
    """Numpy-tier membership: the packed bitmap ships as ONE Spark
    broadcast (bytes, not a plan literal) and an Arrow-batched pandas
    UDF recomputes the identical md5 double-hash positions.  Use when
    the bitmap outgrows a sane plan constant (frontier-scale filters);
    row-identical to :func:`bloom_contains_expr` by test."""
    bitmap = np.zeros(m_bits // _WORD_BITS, dtype=np.uint32)
    for i, w in enumerate(words):
        bitmap[i] = w & 0xFFFFFFFF
    bc = df.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    @F.pandas_udf("boolean")
    def _member(s: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint32)
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            md = hashlib.md5(str(v).encode("utf-8")).hexdigest()
            h1 = int(md[0:15], 16) % m_bits
            h2 = int(md[16:31], 16) % m_bits
            hit = True
            for i in range(k):
                p = (h1 + i * h2) % m_bits
                if not (int(bm[p >> 5]) >> (p & 31)) & 1:
                    hit = False
                    break
            out.append(hit)
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, _member(F.col(col)))


def bloom_local(keys: Iterable[str], m_bits: int, k: int) -> list[int]:
    """Driver-local reference build (tests / tiny sets): same positions,
    same word packing, no cluster."""
    words = [0] * (m_bits // _WORD_BITS)
    for key in keys:
        md = hashlib.md5(key.encode("utf-8")).hexdigest()
        h1 = int(md[0:15], 16) % m_bits
        h2 = int(md[16:31], 16) % m_bits
        for i in range(k):
            p = (h1 + i * h2) % m_bits
            words[p >> 5] |= 1 << (p & 31)
    return words


def bloom_merge(*filters: list[int]) -> list[int]:
    """Union of same-(m, k) Bloom filters by word-wise OR — the
    multi-crawl composition: build per-snapshot filters independently
    (each build sees only its own corpus), merge driver-side into one
    "seen across all previous crawls" filter.  Bloom union is exact:
    the merged filter answers exactly as a filter built over the
    concatenated corpora would."""
    if not filters:
        return []
    sizes = {len(w) for w in filters}
    if len(sizes) != 1:
        raise ValueError(f"mismatched bloom sizes: {sorted(sizes)}")
    out = list(filters[0])
    for w in filters[1:]:
        for i, word in enumerate(w):
            out[i] |= word
    return out


def filter_unseen(
    df: DataFrame,
    col: ColumnOrName,
    words: list[int],
    m_bits: int,
    k: int,
) -> DataFrame:
    """The incremental-crawl primitive: keep only rows whose key the
    filter has NOT seen (definitely-new — Bloom misses are exact; a
    false positive drops a genuinely-new row at the priced fp rate,
    the standard recall/cost trade of frontier dedup).

    NULL keys pass through (r13 review): no digest = no membership
    evidence = keep — the `cdx.dedupe_captures` posture.  Without the
    guard, ``~NULL`` is NULL and the filter silently dropped every
    null-key row, which empties an entire crawl round when the index
    was built digest-less (`index_warc_members`' default)."""
    return df.where(
        _c(col).isNull() | ~bloom_contains_expr(col, words, m_bits, k)
    )
