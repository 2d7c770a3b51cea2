"""Seeded workload inputs, exact ground truth and the summary statistics.

Everything here is plain numpy/pyarrow: the engine under test never
computes its own truth. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LATENT = 12
CLUSTERS = 32
K = 10

# nearest-rank percentiles tried for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def embeddings(seed: int, n: int, n_queries: int) -> tuple[np.ndarray, np.ndarray]:
    """``(base, queries)`` float32 ``(n, DIM)`` / ``(n_queries, DIM)``.

    Low intrinsic dimension: a clustered ``LATENT``-d Gaussian mixture,
    linearly projected to ``DIM`` plus small isotropic noise. Queries are
    fresh draws from the same mixture, not copies of base rows.
    """
    rng = _rng(seed, 1)
    centers = rng.normal(size=(CLUSTERS, LATENT)) * 3.0
    proj = rng.normal(size=(LATENT, DIM)) / math.sqrt(LATENT)

    def draw(m: int) -> np.ndarray:
        z = centers[rng.integers(0, CLUSTERS, m)] + rng.normal(size=(m, LATENT))
        return (z @ proj + 0.05 * rng.normal(size=(m, DIM))).astype(np.float32)

    return draw(n), draw(n_queries)


def corpus(
    seed: int, n_docs: int, n_planted: int, vocab: int = 5000, doc_len: int = 40
) -> tuple[np.ndarray, list[str], list[tuple[int, int]]]:
    """Zipf-vocabulary documents plus planted one-word-edit near-duplicates.

    ``n_docs`` originals are followed by ``n_planted`` copies, each an
    original with one interior word replaced by a different word; about
    one original in five gets a second copy. Ids are a seeded
    permutation, so copies are not always the larger id.
    Returns ``(doc_ids, texts, planted)`` with ``planted`` the
    ``(original_id, copy_id)`` pairs.
    """
    rng = _rng(seed, 2)
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    toks = rng.choice(vocab, size=(n_docs, doc_len), p=p / p.sum())
    n_src = n_planted - n_planted // 5
    src = rng.choice(n_docs, size=n_src, replace=False)
    src = np.concatenate([src, src[: n_planted - n_src]])
    copies = toks[src].copy()
    pos = rng.integers(3, doc_len - 3, size=n_planted)
    rows = np.arange(n_planted)
    shift = rng.integers(1, vocab, size=n_planted)
    copies[rows, pos] = (copies[rows, pos] + shift) % vocab
    all_toks = np.vstack([toks, copies])
    ids = rng.permutation(len(all_toks)).astype(np.int64) + 1
    texts = [" ".join(f"t{w}" for w in row) for row in all_toks]
    planted = [(int(ids[s]), int(ids[n_docs + i])) for i, s in enumerate(src)]
    return ids, texts, planted


def corpus_embeddings(
    seed: int, ids: np.ndarray, planted: list[tuple[int, int]], n_queries: int
) -> tuple[np.ndarray, np.ndarray]:
    """Embeddings aligned with ``ids``: a fresh :func:`embeddings` vector
    per document, overwritten for each planted copy by its original's
    vector plus 1e-3 noise (near-duplicate text, near-duplicate vector)."""
    base, queries = embeddings(seed, len(ids), n_queries)
    row = {int(d): r for r, d in enumerate(ids)}
    noise = _rng(seed, 3).normal(scale=1e-3, size=(len(planted), DIM))
    for (a, b), e in zip(planted, noise):
        base[row[b]] = base[row[a]] + e
    return base, queries


def _vector_column(vecs: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), pa.float32()), vecs.shape[1]
    ).cast(pa.list_(pa.float32()))


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, files: int) -> None:
    """Write ``(vec_id long, embedding array<float>)`` as ``files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        table = pa.table(
            {"vec_id": pa.array(ids[part], pa.int64()), "embedding": _vector_column(vecs[part])}
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def write_docs(
    path: str, ids: np.ndarray, texts: list[str], vecs: np.ndarray, files: int
) -> None:
    """Write ``(doc_id long, text string, embedding array<float>)``."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        table = pa.table(
            {
                "doc_id": pa.array(ids[part], pa.int64()),
                "text": pa.array([texts[j] for j in part], pa.string()),
                "embedding": _vector_column(vecs[part]),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def exact_topk(base: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """Row positions of the exact ``k`` nearest base rows per query
    (squared L2 in float64, ties to the lower position)."""
    b = base.astype(np.float64)
    q = queries.astype(np.float64)
    d = (q * q).sum(1)[:, None] + (b * b).sum(1)[None, :] - 2.0 * q @ b.T
    part = np.argpartition(d, k, axis=1)[:, : k + 1]
    out = np.empty((len(q), k), dtype=np.int64)
    for i in range(len(q)):
        cand = part[i][np.lexsort((part[i], d[i, part[i]]))]
        out[i] = cand[:k]
    return out


def recall_at_k(got: dict[int, list[int]], truth: dict[int, list[int]], k: int = K) -> float:
    """Mean over the truth's queries of |returned ids ∩ true top-k| / k;
    a query with no returned rows scores 0."""
    if not truth:
        raise ValueError("empty truth")
    hits = [len(set(got.get(q, [])[:k]) & set(t[:k])) / k for q, t in truth.items()]
    return float(np.mean(hits))


def tail(samples: list[float], min_above: int = 10) -> tuple[float, float] | None:
    """``(percentile, value)`` at the highest percentile of
    :data:`TAIL_LADDER` whose nearest-rank value leaves at least
    ``min_above`` samples above it; ``None`` when even the median
    does not (fewer than ``2 * min_above`` samples)."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, -(-round(p * 10) * n // 1000))  # ceil(p% of n), exact
        if n - rank >= min_above:
            return p, xs[rank - 1]
    return None
