"""Vector math as pure Catalyst column expressions.

Re-expresses the reference's similarity kernels — pgvector's ``<=>`` cosine
*distance* operator (reference `query.txt:198`) and the client-side NumPy
cosine *similarity* (reference `rag_processor.py:52-58`) — as higher-order
array functions (``zip_with`` + ``aggregate``).  Everything stays JVM-side
inside whole-stage codegen: no Python boundary, no VectorUDT conversion.

Semantic trap carried over from the reference (SURVEY.md §2.3): the server
ranks ascending by *distance*, the client descending by *similarity*.  We
expose BOTH, named honestly: ``cosine_similarity`` (higher = closer) and
``cosine_distance = 1 - similarity`` (lower = closer).

Zero-norm guard: the reference divides blindly (NumPy emits nan,
`rag_processor.py:57`); we return NULL for zero-norm inputs, which sorts
last under default NULLS LAST in a DESC ordering — i.e. zero vectors never
enter a top-k, the behavior the nan accidentally produced.

All arithmetic is promoted to double (testdata stores float32 arrays) and
folds left-to-right, matching the sequential accumulation an oracle engine
performs; scores exposed to correctness checks should be rounded via
``round6``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


# Kernel width rule: at and above this embedding width the Arrow/numpy GEMM
# kernels beat the Catalyst expression folds (by ~40× at 1536; the narrow
# folds win below it, with no Python boundary) — the crossover measured in
# SCALE.md §width validation.  Every vector operator picks its kernel with
# :func:`is_wide`, which reads this global at call time.
GEMM_MIN_DIM = 256


def is_wide(dim: int | None) -> bool:
    """True when ``dim`` takes the GEMM kernels; an unknown width is narrow."""
    return dim is not None and dim >= GEMM_MIN_DIM


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dot product of two array columns, accumulated in double."""
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine_from_norms(a: ColumnOrName, b: ColumnOrName, na: Column, nb: Column) -> Column:
    """cos(a,b) from norms the caller already holds (a column computed once
    per row, or a driver-side literal), unrounded; NULL if either norm is
    zero.  Every cosine in the package is this one expression."""
    return F.when((na == 0.0) | (nb == 0.0), F.lit(None).cast("double")).otherwise(dot(a, b) / (na * nb))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """cos(a,b) in [-1,1]; NULL if either vector has zero norm."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def cosine_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """pgvector `<=>` parity: 1 - cosine_similarity (reference query.txt:198)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def normalize(a: ColumnOrName) -> Column:
    """Unit-normalize; NULL for zero vectors. Precomputing this at ingest
    halves query-time cosine cost (the reference recomputes norms per query,
    `rag_processor.py:57`)."""
    n = l2_norm(a)
    return F.when(n == 0.0, F.lit(None)).otherwise(F.transform(_c(a), lambda x: x.cast("double") / n))


def query_vector_lit(vec: Sequence[float]) -> Column:
    """A literal query vector column (broadcast by Catalyst as a constant —
    the 1-to-N 'similarity join' of reference query.txt:186-205 needs no
    join at all, just a constant-folded expression)."""
    return F.array(*[F.lit(float(x)) for x in vec])


def round6(col: Column) -> Column:
    """Round a score for oracle comparison: 64-dim double dot products agree
    across engines to ~1e-15 relative; 6 dp makes hashes stable."""
    return F.round(col, 6)
