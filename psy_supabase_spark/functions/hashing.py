"""Deterministic hashing primitives for dedup + fingerprints.

All engine-internal hashes use Spark's built-ins (xxhash64 / crc32 /
murmur hash) — JVM-side, codegen'd.  Where a DuckDB oracle must
reproduce a hash exactly, the engine uses
:func:`md5_hash32` (expressible identically in both engines, see
operators/textanalysis.fingerprint) and affine MinHash arithmetic mod
:data:`POLY_MOD` (operators/dedup.minhash_signatures).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

# Mersenne prime 2^31-1: every (a*h + b) of the MinHash seeds over a
# 32-bit hash stays < 2^63, so there is no overflow divergence between
# engines.
POLY_MOD = 2_147_483_647


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_hash32(col: ColumnOrName) -> Column:
    """Portable 32-bit integer hash: first 8 hex digits of md5.

    Identical in any engine with md5 (DuckDB:
    ``CAST('0x' || substr(md5(s),1,8) AS BIGINT)``), and — unlike a
    per-character fold — a single codegen'd JVM expression, so it stays
    inside whole-stage codegen instead of an interpreted lambda loop.
    The hash of choice for dedup shingles/fingerprints."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")
