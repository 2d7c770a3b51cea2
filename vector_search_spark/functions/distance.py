"""Vector distance kernels as Catalyst column expressions.

Mirrors the reference's scalar kernels (SURVEY.md §2.1):
- ``L2Sqr``  (reference py/hnsw.py:191-203, py/pq.py:57-61,
  py/bruteforce.py:5-9) -> :func:`l2_sqr`
- the cosine / inner-product variants its docs anticipate
  (reference py/PRODUCT_QUANTIZATION.md:276-279).

Implementation notes
--------------------
* ``zip_with`` + ``aggregate`` is a sequential in-order fold over the
  array — element order is deterministic, so two engines computing the
  same fold in double precision agree bit-for-bit (the DuckDB oracle
  uses the same index-ordered sum).
* Inputs are widened to ``array<double>`` first: float32 components are
  exactly representable in float64, so widening is lossless, while
  arithmetic staying in float32 would diverge from any double-precision
  oracle.
* These are plain Catalyst expressions: they inline into whole-stage
  codegen, so a cross join + l2_sqr + top-k pipeline runs fully JVM-side
  with zero Python involvement.
* :func:`fold_distance` is the numpy twin of :data:`METRICS` for the
  driver and ``mapInPandas`` paths: the same fold in the same order,
  so its distances equal the Catalyst ones bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double_array(c: ColumnOrName) -> Column:
    """Losslessly widen array<float> to array<double>."""
    return _col(c).cast("array<double>")


def l2_sqr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared Euclidean distance between two vector columns."""
    ad, bd = as_double_array(a), as_double_array(b)
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Euclidean distance."""
    return F.sqrt(l2_sqr(a, b))


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product."""
    ad, bd = as_double_array(a), as_double_array(b)
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: ColumnOrName) -> Column:
    """L2 norm of a vector column."""
    ad = as_double_array(a)
    return F.sqrt(
        F.aggregate(
            F.transform(ad, lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(d / denom)


def cosine_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """1 - cosine similarity (a proper kNN ordering key)."""
    return F.lit(1.0) - cosine_similarity(a, b)


METRICS = {
    "l2_sqr": l2_sqr,
    "l2": l2,
    "cosine": cosine_distance,
    "dot": lambda a, b: -dot(a, b),  # negated so smaller == closer
}


def distance(metric: str, a: ColumnOrName, b: ColumnOrName) -> Column:
    """Distance expression for ``metric`` where smaller is always closer."""
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}") from None


# Most per-dimension terms :func:`_fold` materializes at once (8 MB of
# float64): small tiles get all their terms in one vectorized call,
# big ones one dimension at a time.
_FOLD_BLOCK = 1 << 20


def _fold(Q: np.ndarray, B: np.ndarray, term) -> np.ndarray:
    """``acc = acc + term(q_j, b_j)`` from 0.0, one dimension at a time,
    for every (query, row) pair at once: the ``aggregate(zip_with(...))``
    order. numpy's own row sum is pairwise and can differ in the last
    bit."""
    acc = np.zeros(len(Q) * len(B))
    step = max(1, _FOLD_BLOCK // max(1, acc.size))
    Qt, Bt = Q.T, B.T
    for lo in range(0, Q.shape[1], step):
        # (dims, queries x rows): each dimension's terms are contiguous,
        # and a flat accumulator keeps the per-dimension add cheap
        terms = term(Qt[lo : lo + step, :, None], Bt[lo : lo + step, None, :])
        for t in terms.reshape(len(terms), -1):
            acc += t
    return acc.reshape(len(Q), len(B))


def _fold_sq_norm(X: np.ndarray) -> np.ndarray:
    """Per row, ``sum(x_j * x_j)`` in :func:`norm`'s fold order."""
    acc = np.zeros(len(X))
    for sq in np.square(X.T):
        acc += sq
    return acc


def fold_distance(metric: str, Q: np.ndarray, B: np.ndarray) -> np.ndarray:
    """``(len(Q), len(B))`` distances from each row of ``Q`` to each row
    of ``B``, equal bit for bit to :func:`distance` ``(metric, q, b)``
    — including cosine's zero-norm branch (similarity 0, distance 1).
    The working set is the ``(len(Q), len(B))`` result plus at most
    ``_FOLD_BLOCK`` terms; callers bound it by chunking ``Q``."""
    Q = np.asarray(Q, dtype=np.float64)
    B = np.asarray(B, dtype=np.float64)
    if metric in ("l2_sqr", "l2"):
        d = _fold(Q, B, lambda x, y: np.square(x - y))
        return np.sqrt(d) if metric == "l2" else d
    if metric == "dot":
        return -_fold(Q, B, lambda x, y: x * y)
    if metric == "cosine":
        denom = np.sqrt(_fold_sq_norm(Q))[:, None] * np.sqrt(_fold_sq_norm(B))
        dots = _fold(Q, B, lambda x, y: x * y)
        sim = np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0.0)
        return 1.0 - sim
    raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
