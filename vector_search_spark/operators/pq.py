"""Product Quantization: train / encode / decode / ADC / SDC.

Reference surface (SURVEY.md §2.9, /root/reference/py/pq.py):
- ``TrainPQ`` (py/pq.py:220-240): per-subspace k-means via thread pool
  -> here ALL M subspaces train inside the same distributed passes
  (the thread fan-out becomes partition parallelism, SURVEY #42/#43).
- ``Encode``/``Decode`` (py/pq.py:242-295): per-subspace argmin / gather.
- ADC ``ComputeAsymmetricDistance`` (py/pq.py:297-324): query-to-code.
  The reference deliberately skips the per-query LUT (comment at
  py/pq.py:313); in batch we invert that: one (M x K) LUT per query,
  broadcast, then each candidate costs M gathers + a sum — the classic
  ADC formulation (py/PRODUCT_QUANTIZATION.md:157-169).
- SDC ``ComputeSymmetricDistance`` (py/pq.py:326-349): code-to-code via
  precomputed K x K centroid-distance tables per subspace (the
  lru_cache at py/hnsw.py:228-238 becomes a broadcast table).

Model layout: ``codebooks`` ndarray (M, K, D'), D' = D/M — the same
(M x K x D') driver-held structure as the reference (py/pq.py:35-40),
small enough to broadcast (256x256x... is a few MB at most).
Persistence mirrors Get/SetCodebooks (py/pq.py:351-381) as parquet.

Validation mirrors the reference: D % M == 0 (py/pq.py:32-33), train
set >= K distinct points per subspace, codes in [0, K).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import as_double_array
from vector_search_spark.operators import kmeans as _kmeans
from vector_search_spark.operators.knn import topk_per_query


@dataclass
class PQModel:
    codebooks: np.ndarray  # (M, K, D')

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def _check_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        # same contract as reference py/pq.py:32-33
        raise ValueError(f"D={dim} must be divisible by M={m}")
    return dim // m


def model_from_vectors(vectors: np.ndarray, m: int, k: int) -> PQModel:
    """Deterministic codebooks: codebook[m_][k_] = subvector m_ of the
    k_-th given vector. Used by oracle-paired catalog queries (the SQL
    side reproduces the same slices); real training is train_pq."""
    if len(vectors) < k:
        raise ValueError(f"need >= {k} vectors, got {len(vectors)}")
    dim = vectors.shape[1]
    dsub = _check_dims(dim, m)
    cb = vectors[:k].reshape(k, m, dsub).transpose(1, 0, 2)
    return PQModel(np.ascontiguousarray(cb, dtype=np.float64))


def train_pq(
    points: DataFrame,
    m: int = 8,
    k: int = 256,
    seed: int = 42,
    max_iter: int = 100,
    tol: float = 1e-6,
    sample_size: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[PQModel, int]:
    """Train all M codebooks in the same distributed Lloyd passes.

    Init: seeded k-means++ per subspace on one driver-side sample
    (reference runs full k-means++ per subspace, py/pq.py:155; at scale
    init-on-sample is the honest equivalent). Then each Lloyd iteration
    is ONE mapInPandas pass over points: per Arrow batch, for every
    subspace, BLAS-assign subvectors and emit partial (m, k, count,
    sum) rows; the driver combines (state: M*K*(D'+1) doubles).
    Convergence: max centroid shift over ALL subspaces <= tol
    (reference tol/iters: py/pq.py:140,197). Returns (model, n_iter).
    """
    src = points.select(as_double_array(vec_col).alias("_v")).cache()
    try:
        # ---- init: kmeans++ per subspace on one sample ----
        # dim comes from the sample itself — a separate first() probe
        # was one extra scheduled job per training call for a value the
        # sample collect already carries (optimization r17, guide §1.2:
        # don't compute things twice).
        n = src.count()
        if n == 0:
            raise ValueError("empty training set")  # py/pq.py:226
        sample = src
        if n > sample_size:
            sample = src.sample(fraction=min(1.0, sample_size / n * 1.1), seed=seed).limit(
                sample_size
            )
        X = np.vstack(sample.toPandas()["_v"].to_numpy()).astype(np.float64)
        dim = X.shape[1]
        dsub = _check_dims(dim, m)
        if len(X) < k:
            raise ValueError(f"need >= {k} training points, got {len(X)}")
        Xs = X.reshape(len(X), m, dsub)
        rng = np.random.default_rng(seed)
        C = np.empty((m, k, dsub))
        for mi in range(m):
            C[mi] = _kmeanspp_numpy(Xs[:, mi, :], k, rng)

        # ---- Lloyd over all subspaces at once ----
        spark = points.sparkSession
        it = 0
        for it in range(1, max_iter + 1):
            cnt, sums = _pq_partial_sums(spark, src, C)
            newC = C.copy()
            nz = cnt > 0
            newC[nz] = sums[nz] / cnt[nz][:, None]
            shift = float(((C - newC) ** 2).sum(axis=2).max())
            C = newC
            if shift <= tol:
                break
        return PQModel(C), it
    finally:
        src.unpersist()


def _kmeanspp_numpy(X: np.ndarray, k: int, rng) -> np.ndarray:
    """Seeded k-means++ (D^2 sampling, no replacement) — py/pq.py:80-138."""
    chosen = [int(rng.integers(0, len(X)))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        d2[chosen] = 0.0
        total = d2.sum()
        if total <= 0.0:
            remaining = np.setdiff1d(np.arange(len(X)), chosen)
            chosen.append(int(remaining[0]))
            continue
        r = rng.uniform(0.0, total)
        idx = min(int(np.searchsorted(np.cumsum(d2), r, side="right")), len(X) - 1)
        chosen.append(idx)
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(axis=1))
    return X[chosen].copy()


def _pq_partial_sums(spark, src: DataFrame, C: np.ndarray):
    m, k, dsub = C.shape
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(C))

    def fn(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            Xs = X.reshape(len(X), m, dsub)
            out_m, out_k, out_c, out_s = [], [], [], []
            for mi in range(m):
                Xm, Cm = Xs[:, mi, :], CC[mi]
                D = (
                    (Xm * Xm).sum(axis=1)[:, None]
                    + (Cm * Cm).sum(axis=1)[None, :]
                    - 2.0 * (Xm @ Cm.T)
                )
                cid = D.argmin(axis=1)
                cnt = np.bincount(cid, minlength=k)
                sums = np.zeros_like(Cm)
                np.add.at(sums, cid, Xm)
                out_m.append(np.full(k, mi, dtype=np.int32))
                out_k.append(np.arange(k, dtype=np.int32))
                out_c.append(cnt.astype(np.int64))
                out_s.extend(list(sums))
            yield pd.DataFrame(
                {
                    "m": np.concatenate(out_m),
                    "k": np.concatenate(out_k),
                    "cnt": np.concatenate(out_c),
                    "vsum": out_s,
                }
            )

    partials = src.mapInPandas(fn, "m int, k int, cnt long, vsum array<double>").toPandas()
    cnt = np.zeros((m, k), dtype=np.int64)
    sums = np.zeros_like(C)
    if len(partials):
        mi = partials["m"].to_numpy(dtype=np.int64)
        ki = partials["k"].to_numpy(dtype=np.int64)
        np.add.at(cnt, (mi, ki), partials["cnt"].to_numpy(dtype=np.int64))
        # same row order as a python loop -> bit-identical float sums
        np.add.at(sums, (mi, ki), np.vstack(partials["vsum"].to_numpy()))
    return cnt, sums


def _code_matrix(col) -> np.ndarray:
    """(n, M) int64 code matrix from either physical layout: BinaryType
    (M bytes per row, K<=256) or array<smallint> (K>256)."""
    vals = col.to_numpy()
    if len(vals) and isinstance(vals[0], (bytes, bytearray)):
        return (
            np.frombuffer(b"".join(vals), dtype=np.uint8)
            .reshape(len(vals), -1)
            .astype(np.int64)
        )
    return np.vstack(vals).astype(np.int64)


def codes_as_int_array(
    df: DataFrame, code_col: str = "code", out_col: str | None = None
) -> DataFrame:
    """Surface a code column as ``array<int>`` regardless of physical
    layout — pure Catalyst (hex + conv per byte for BinaryType), used by
    catalog queries / oracles that explode codes to scalars."""
    out_col = out_col or code_col
    if dict(df.dtypes).get(code_col) == "binary":
        expr = (
            f"transform(sequence(1, length({code_col})), "
            f"i -> int(conv(substr(hex({code_col}), 2*i-1, 2), 16, 10)))"
        )
        return df.withColumn(out_col, F.expr(expr))
    return df.withColumn(out_col, F.col(code_col).cast("array<int>"))


def encode(
    points: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace argmin -> M small codes (py/pq.py:242-274).

    Returns ``(id_col, code)``; codes in [0, K). For K<=256 ``code`` is
    ``BinaryType`` — exactly M bytes per vector, the at-rest layout
    SURVEY §1 specifies (code table size is the whole point of PQ at
    100 TB; array<smallint> was ~8x the bytes) — else
    ``array<smallint>``. Exact ties take the lowest code (strict-<
    first-wins, py/pq.py:267-271). One streaming pass, no shuffle.
    """
    m, k, dsub = model.codebooks.shape
    bc = points.sparkSession.sparkContext.broadcast(model.codebooks)
    src = points.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    as_bytes = k <= 256

    def fn(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            if X.shape[1] != m * dsub:
                raise ValueError(
                    f"vector dim {X.shape[1]} != model dim {m * dsub}"
                )
            Xs = X.reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), dtype=np.int16)
            for mi in range(m):
                Xm, Cm = Xs[:, mi, :], CC[mi]
                D = (
                    (Xm * Xm).sum(axis=1)[:, None]
                    + (Cm * Cm).sum(axis=1)[None, :]
                    - 2.0 * (Xm @ Cm.T)
                )
                codes[:, mi] = D.argmin(axis=1)
            out = (
                [r.tobytes() for r in codes.astype(np.uint8)]
                if as_bytes
                else list(codes)
            )
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    "code": out,
                }
            )

    ctype = "binary" if as_bytes else "array<smallint>"
    return src.mapInPandas(fn, f"{id_col} long, code {ctype}")


def decode(
    codes: DataFrame, model: PQModel, id_col: str = "vec_id", code_col: str = "code"
) -> DataFrame:
    """Gather centroids by code and concatenate (py/pq.py:276-295)."""
    m = model.m
    bc = codes.sparkSession.sparkContext.broadcast(model.codebooks)
    src = codes.select(F.col(id_col).alias("_id"), F.col(code_col).alias("_c"))

    def fn(batches):
        CC = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _code_matrix(pdf["_c"])
            vecs = np.concatenate(
                [CC[mi][cm[:, mi]] for mi in range(m)], axis=1
            )
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    "vec": list(vecs),
                }
            )

    return src.mapInPandas(fn, f"{id_col} long, vec array<double>")


def _emit_grouped_topk(qids, vids, D, k, exclude_self=False):
    """Shared partial-top-k emitter over a distance matrix (nq x nb)."""
    if exclude_self:
        D[qids[:, None] == vids[None, :]] = np.inf
    kk = min(k + 8, D.shape[1])
    if kk < D.shape[1]:
        cand = np.argpartition(D, kk - 1, axis=1)[:, :kk]
    else:
        cand = np.broadcast_to(np.arange(D.shape[1]), (len(qids), D.shape[1]))
    rows_q, rows_v, rows_d = [], [], []
    for i in range(len(qids)):
        cj = cand[i]
        dj = D[i, cj]
        order = np.lexsort((vids[cj], dj))[:k]
        keep, dk = cj[order], dj[order]
        fin = np.isfinite(dk)
        rows_q.append(np.full(int(fin.sum()), qids[i]))
        rows_v.append(vids[keep][fin])
        rows_d.append(dk[fin])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(rows_q),
            "vec_id": np.concatenate(rows_v),
            "dist": np.concatenate(rows_d),
        }
    )


def adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    model: PQModel,
    k: int = 10,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Asymmetric-distance kNN over PQ codes (py/hnsw.py:217-226 ->
    py/pq.py:297-324), batch form.

    Builds one (M x K) LUT per query on the driver (tiny: nq*M*K
    doubles), broadcasts it, then one pass over the codes table: each
    candidate costs M LUT gathers + a sum; per-batch partial top-k
    keeps the shuffle at ~k rows per query per batch. Exact top-k
    window afterwards. Returns (query_id, vec_id, dist, rank).
    """
    m, kcent, dsub = model.codebooks.shape
    qpdf = queries.select(
        F.col(query_id_col).alias("qid"), as_double_array(query_vec_col).alias("qv")
    ).toPandas()
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.vstack(qpdf["qv"].to_numpy()).astype(np.float64).reshape(len(qpdf), m, dsub)
    lut = np.empty((len(qids), m, kcent))
    for mi in range(m):
        Qm, Cm = Q[:, mi, :], model.codebooks[mi]
        lut[:, mi, :] = (
            (Qm * Qm).sum(axis=1)[:, None]
            + (Cm * Cm).sum(axis=1)[None, :]
            - 2.0 * (Qm @ Cm.T)
        )
    np.maximum(lut, 0.0, out=lut)  # cancellation clamp
    bc = queries.sparkSession.sparkContext.broadcast((qids, lut))
    src = codes.select(F.col(id_col).alias("_id"), F.col(code_col).alias("_c"))

    def fn(batches):
        b_qids, b_lut = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["_id"].to_numpy(dtype=np.int64)
            cm = _code_matrix(pdf["_c"])
            D = np.zeros((len(b_qids), len(vids)))
            for mi in range(m):
                D += b_lut[:, mi, cm[:, mi]]
            yield _emit_grouped_topk(b_qids, vids, D, k)

    scored = src.mapInPandas(fn, "query_id long, vec_id long, dist double")
    return topk_per_query(scored, k)


def sdc_table(model: PQModel) -> np.ndarray:
    """(M, K, K) centroid-to-centroid squared distances per subspace —
    the broadcastable replacement for the reference's lru_cache
    (py/hnsw.py:228-238, py/pq.py:326-349)."""
    m, k, _ = model.codebooks.shape
    T = np.empty((m, k, k))
    for mi in range(m):
        C = model.codebooks[mi]
        n2 = (C * C).sum(axis=1)
        T[mi] = np.maximum(n2[:, None] + n2[None, :] - 2.0 * (C @ C.T), 0.0)
    return T


def sdc_topk(
    query_codes: DataFrame,
    codes: DataFrame,
    model: PQModel,
    k: int = 10,
    exclude_self: bool = False,
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Symmetric (code-to-code) kNN via broadcast SDC tables."""
    m = model.m
    qpdf = query_codes.select(
        F.col(id_col).alias("qid"), F.col(code_col).alias("qc")
    ).toPandas()
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    qcm = _code_matrix(qpdf["qc"])
    bc = codes.sparkSession.sparkContext.broadcast((qids, qcm, sdc_table(model)))
    src = codes.select(F.col(id_col).alias("_id"), F.col(code_col).alias("_c"))

    def fn(batches):
        b_qids, b_qcm, T = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["_id"].to_numpy(dtype=np.int64)
            cm = _code_matrix(pdf["_c"])
            D = np.zeros((len(b_qids), len(vids)))
            for mi in range(m):
                D += T[mi][b_qcm[:, mi][:, None], cm[:, mi][None, :]]
            yield _emit_grouped_topk(b_qids, vids, D, k, exclude_self=exclude_self)

    scored = src.mapInPandas(fn, "query_id long, vec_id long, dist double")
    return topk_per_query(scored, k)


# ---- persistence (Get/SetCodebooks, py/pq.py:351-381) ----


def random_rotation(dim: int, seed: int = 42) -> np.ndarray:
    """Seeded random ORTHONORMAL rotation (QR of a gaussian matrix,
    sign-fixed so the decomposition is unique): the cheap cousin of OPQ
    (Ge et al. 2013) that FAISS ships as OPQ's "random rotation" mode.
    Rotating vectors before PQ balances variance across the M subspaces,
    which is exactly what per-subspace quantizers need when the input
    dimensions are skewed; the rotation is an isometry, so true
    neighbors and L2 distances are unchanged."""
    rng = np.random.default_rng(seed)
    A = rng.normal(size=(dim, dim))
    Q, R = np.linalg.qr(A)
    Q *= np.sign(np.diag(R))[None, :]
    return np.ascontiguousarray(Q)


def rotate(
    points: DataFrame,
    R: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rotated",
) -> DataFrame:
    """x -> R @ x per row: broadcast the (D x D) rotation, one gemm per
    Arrow batch — the standard pre-processing stage in front of
    train_pq/encode for rotated (OPQ-style) codes. Returns
    (id_col, out_col)."""
    bc = points.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(R, dtype=np.float64)
    )
    src = points.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )

    def fn(batches):
        RR = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf["_id"].to_numpy(dtype=np.int64),
                    out_col: list(X @ RR.T),
                }
            )

    return src.mapInPandas(fn, f"{id_col} long, {out_col} array<double>")


MODEL_SCHEMA = "m int, k int, centroid array<double>"


def save_model(spark: SparkSession, model: PQModel, path: str) -> None:
    m, k, dsub = model.codebooks.shape
    rows = [
        (mi, ki, [float(x) for x in model.codebooks[mi, ki]])
        for mi in range(m)
        for ki in range(k)
    ]
    spark.createDataFrame(rows, MODEL_SCHEMA).write.mode("overwrite").parquet(path)


def load_model(spark: SparkSession, path: str) -> PQModel:
    """Reopen a :func:`save_model` codebook in ONE job: the read takes
    the schema save_model writes (no inference job) and the (m, k)
    ordering is a driver-side sort of the model-sized frame."""
    return _model_from_rows(spark.read.schema(MODEL_SCHEMA).parquet(path).toPandas())


def _model_from_rows(pdf) -> PQModel:
    """:class:`PQModel` from collected ``(m, k, centroid)`` rows in any
    order."""
    pdf = pdf.sort_values(["m", "k"], kind="stable")
    m = int(pdf["m"].max()) + 1
    k = int(pdf["k"].max()) + 1
    # shape validation mirrors SetCodebooks (py/pq.py:351-371)
    if len(pdf) != m * k:
        raise ValueError(f"ragged codebooks: {len(pdf)} rows != {m}x{k}")
    dsub = len(pdf["centroid"].iloc[0])
    cb = np.vstack(pdf["centroid"].to_numpy()).astype(np.float64).reshape(m, k, dsub)
    return PQModel(cb)


def refine_topk(
    queries: DataFrame,
    codes: DataFrame,
    model: PQModel,
    points: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "code",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search with exact re-ranking (FAISS ``IndexRefine``
    shape; the accuracy repair the reference's ADC notebook leaves on
    the table — py/PRODUCT_QUANTIZATION.md discusses the recall loss,
    py/hnsw.ipynb cell-6 measures it at 0.5069).

    Stage 1: :func:`adc_topk` scans the compressed codes for a
    ``shortlist``-sized candidate set per query (cheap: M LUT gathers
    per candidate). Stage 2 joins ONLY the shortlist back to the raw
    vectors and re-scores exactly, fixing quantization-induced rank
    inversions inside the shortlist.

    Scale shape: stage 2 touches nq x shortlist rows regardless of
    corpus size — the raw-vector join is an equi-join on vec_id against
    the (possibly huge) points table, which Catalyst executes as a
    broadcast of the tiny candidate side; exact scoring is the same
    fold the oracle replays. Returns (query_id, vec_id, dist, rank<=k)
    with EXACT distances.
    """
    from vector_search_spark.functions.distance import l2_sqr

    cand = adc_topk(
        queries, codes, model, k=shortlist,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col, code_col=code_col,
    ).select("query_id", "vec_id")
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(query_vec_col).alias("_qv"),
    )
    pv = points.select(
        F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("_pv")
    )
    scored = (
        cand.join(pv, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "vec_id", l2_sqr("_qv", "_pv").alias("dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "dist", "rank")
    )


def _lloyd_numpy(X: np.ndarray, C: np.ndarray, iters: int) -> np.ndarray:
    """Small in-memory Lloyd refinement (first-min tie-break, empty
    cluster keeps its old centroid — same conventions as the
    distributed trainer)."""
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        newC = C.copy()
        for j in range(len(C)):
            mask = a == j
            if mask.any():
                newC[j] = X[mask].mean(axis=0)
        if np.allclose(newC, C):
            return newC
        C = newC
    return C


def train_opq_rotation(
    points: DataFrame,
    m: int = 8,
    k: int = 256,
    opq_iters: int = 8,
    lloyd_iters: int = 8,
    sample_size: int = 100_000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, PQModel, list[float]]:
    """OPQ: jointly train an orthonormal rotation R and PQ codebooks by
    alternating minimization (Ge et al., CVPR 2013, the non-parametric
    OPQ that FAISS ships as the OPQMatrix stage):

      repeat: (1) fix R, train PQ on the rotated sample X @ R.T;
              (2) fix codebooks, solve the orthogonal Procrustes
                  problem  min_R ||X R^T − Y||_F  (Y = the PQ
                  reconstructions) via one SVD of X^T Y.

    R is initialized to the IDENTITY, so iteration 0's objective equals
    plain PQ's — alternating minimization is then monotone
    non-increasing on the sample, i.e. trained-OPQ reconstruction error
    is never worse than plain PQ where it was trained (the returned
    ``errs`` history is asserted monotone in tests).

    Scale shape: rotation + codebooks are a model (D² + M·K·D/M
    doubles) trained on a bounded driver-side sample — the same FAISS
    practice as train_coarse — then applied distributed
    (:func:`rotate` gemm pass → :func:`encode`); no unbounded driver
    state. Returns (R, model, errs).
    """
    src = points.select(as_double_array(vec_col).alias("_v"))
    n = src.count()
    sample = src
    if n > sample_size:
        sample = src.sample(
            fraction=min(1.0, sample_size / n * 1.1), seed=seed
        ).limit(sample_size)
    X = np.vstack(sample.toPandas()["_v"].to_numpy()).astype(np.float64)
    if len(X) < k:
        raise ValueError(f"need >= {k} training points, got {len(X)}")
    dim = X.shape[1]
    dsub = _check_dims(dim, m)
    rng = np.random.default_rng(seed)

    R = np.eye(dim)
    C = None
    errs: list[float] = []
    for _ in range(max(1, opq_iters)):
        Xr = X @ R.T
        Xs = Xr.reshape(len(X), m, dsub)
        if C is None:
            C = np.empty((m, k, dsub))
            for mi in range(m):
                C[mi] = _kmeanspp_numpy(Xs[:, mi, :], k, rng)
        for mi in range(m):
            C[mi] = _lloyd_numpy(Xs[:, mi, :], C[mi], lloyd_iters)
        # reconstruct in rotated space
        Y = np.empty_like(Xr)
        for mi in range(m):
            d = (
                (Xs[:, mi, None, :] - C[mi][None, :, :]) ** 2
            ).sum(axis=2)
            Y[:, mi * dsub : (mi + 1) * dsub] = C[mi][d.argmin(axis=1)]
        errs.append(float(((Xr - Y) ** 2).sum(axis=1).mean()))
        # orthogonal Procrustes: min_R ||X R^T - Y||_F
        U, _s, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    return np.ascontiguousarray(R), PQModel(C), errs
