"""Exact brute-force kNN and batch kNN-graph construction.

Covers the reference's exact-search surface:
- ``BruteForce.RunSearch`` (reference py/bruteforce.py:11-19): all-pairs
  scoring + exact top-k per query (SURVEY.md §2 #12, #21, #38).
- the all-pairs/graph build step used by batch index construction
  (neighbor lists, SURVEY.md §2 #33).

Spark formulation
-----------------
``queries × base`` is a broadcast nested-loop join with the *small* side
(queries) broadcast: one streaming pass over the base table, no shuffle
of the N×Q score rows at all until top-k reduction. The distance kernel
is a pure Catalyst expression (functions/distance.py), so scoring stays
inside whole-stage codegen.

Top-k reduction has two modes:

- ``window``: `row_number() OVER (PARTITION BY query_id ORDER BY dist)`.
  One shuffle of the scored rows, exact, fine when N×Q is modest.
- ``partial``: map-side per-Arrow-batch top-k (Pandas, vectorized)
  *before* the window. Each executor emits at most k rows per query per
  batch, so the shuffle input collapses from N×Q rows to
  ~(batches × Q × k) — this is the mode that survives a 1000-executor
  100 TB scan, equivalent to a partial aggregation / combiner for the
  (non-algebraic) top-k function that Catalyst does not supply natively.

At true scale, exact all-pairs is the *oracle*, not the serving path —
``operators/ivf.py`` is the pruned search that avoids N×Q entirely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_spark.functions.distance import (
    as_double_array,
    distance,
    dot,
    norm,
)


def score_pairs(
    queries: DataFrame,
    base: DataFrame,
    metric: str = "l2_sqr",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    base_id_col: str = "vec_id",
    base_vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Cross-score every query against every base row.

    Returns ``(query_id, vec_id, dist)``. Column pruning happens here:
    only id+vector columns reach the join, so the parquet scan reads a
    2-column projection regardless of the input schema width.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(query_vec_col).alias("_qv"),
    )
    b = base.select(
        F.col(base_id_col).alias("vec_id"),
        as_double_array(base_vec_col).alias("_bv"),
    )
    if metric == "cosine":
        # Precompute norms once per side so each pair costs a single
        # fold (dot) instead of three.
        q = q.withColumn("_qn", norm("_qv"))
        b = b.withColumn("_bn", norm("_bv"))
        if broadcast_queries:
            q = F.broadcast(q)
        denom = F.col("_qn") * F.col("_bn")
        sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
            dot("_qv", "_bv") / denom
        )
        return b.crossJoin(q).select(
            "query_id", "vec_id", (F.lit(1.0) - sim).alias("dist")
        )
    if broadcast_queries:
        q = F.broadcast(q)
    return b.crossJoin(q).select(
        "query_id",
        "vec_id",
        distance(metric, "_qv", "_bv").alias("dist"),
    )


def _partial_topk(scored: DataFrame, k: int, group_col: str = "query_id") -> DataFrame:
    """Map-side combiner: per Arrow batch, keep only top-k rows per group.

    Correct as a *partial* reduction — the exact window pass afterwards
    re-ranks the union of partial winners; anything a batch drops could
    never appear in that batch's (hence the global) top-k.
    """
    schema = scored.schema

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values("dist", kind="stable")
                    .groupby(group_col, sort=False)
                    .head(k)
                )

    return scored.mapInPandas(fn, schema)


def topk_per_query(
    scored: DataFrame,
    k: int,
    group_col: str = "query_id",
    id_col: str = "vec_id",
    mode: str = "window",
) -> DataFrame:
    """Exact top-k smallest ``dist`` per group, deterministic tie-break on id.

    ``mode='partial'`` prepends the map-side combiner (see module doc).
    """
    if mode == "partial":
        scored = _partial_topk(scored, k, group_col)
    elif mode != "window":
        raise ValueError(f"unknown mode {mode!r}")
    w = Window.partitionBy(group_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _gemm_batch_dists(metric: str, Qm, qn2, B):
    """(nq x nb) distance matrix for one Arrow batch — THE shared gemm
    kernel (score_topk_gemm + mine_semihard_negatives use this one
    definition; a numerical fix lands once).

    ``Qm`` is the query matrix (L2-normalized rows for cosine), ``qn2``
    the precomputed ||q||^2 (l2 metrics only). L2 uses the
    ||a||^2+||b||^2-2ab expansion, which cancels catastrophically near
    0 and can go slightly negative — clamped so self-distance is 0;
    callers needing exact near-zero values re-derive survivors with the
    cancellation-free (a-b)^2 form.
    """
    if metric in ("l2_sqr", "l2"):
        D = qn2[:, None] + (B * B).sum(axis=1)[None, :] - 2.0 * (Qm @ B.T)
        D = np.maximum(D, 0.0)
        if metric == "l2":
            D = np.sqrt(D)
        return D
    if metric == "cosine":
        bn = np.linalg.norm(B, axis=1)
        Bn = np.divide(B, bn[:, None], out=np.zeros_like(B), where=bn[:, None] != 0)
        return 1.0 - (Qm @ Bn.T)
    return -(Qm @ B.T)  # dot (negated: smaller == closer)


def _gemm_queries(metric: str, Q):
    """``(Qm, qn2)`` — the query side :func:`_gemm_batch_dists` takes:
    L2-normalized rows for cosine, ``||q||^2`` for the l2 metrics."""
    if metric == "cosine":
        qn = np.linalg.norm(Q, axis=1)
        Qn = np.divide(Q, qn[:, None], out=np.zeros_like(Q), where=qn[:, None] != 0)
        return Qn, None
    if metric in ("l2_sqr", "l2"):
        return Q, (Q * Q).sum(axis=1)
    if metric == "dot":
        return Q, None
    raise ValueError(f"unknown metric {metric!r}")


def score_topk_gemm(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "l2_sqr",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    base_id_col: str = "vec_id",
    base_vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """BLAS-vectorized scoring + map-side partial top-k in one pass.

    The Catalyst higher-order-function fold (functions/distance.py) is
    interpreted per row (~15us/pair) — fine for expressions, hopeless
    for all-pairs scoring. This path instead:

    1. collects the (small) query set to the driver and broadcasts the
       query matrix to every executor — the same role as the broadcast
       side of a join, but as a dense float64 ndarray;
    2. one ``mapInPandas`` pass over base: per Arrow batch, a single
       float64 gemm scores the whole batch against all queries
       (||q||^2 + ||b||^2 - 2 Q.B^T for L2; normalized rows for cosine);
    3. emits only the per-batch top-(k+pad) rows per query, so the
       shuffle input is ~batches x Q x k rows, never N x Q.

    The exact global top-k window afterwards (topk_per_query) makes the
    per-batch cut a safe partial reduction. ``pad`` absorbs distance
    ties at the cut boundary (only exact-duplicate vectors can tie).

    Scale: one streaming pass over base, zero shuffle of score rows,
    compute in BLAS — this is the shape that survives a 1000-executor
    100 TB scan. The constraint is that the *query* side fits in a
    broadcast (same constraint as any broadcast join); for query sets
    beyond that, block the query side and union, or go through
    operators/ivf.py.

    Returns ``(query_id, vec_id, dist)`` (partial — feed topk_per_query).
    """
    qpdf = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(query_vec_col).alias("qv"),
    ).toPandas()
    if not len(qpdf):
        raise ValueError("empty query set")
    qids = qpdf["query_id"].to_numpy(dtype=np.int64)
    Q = np.vstack(qpdf["qv"].to_numpy()).astype(np.float64)

    Qm, qn2 = _gemm_queries(metric, Q)
    bc = queries.sparkSession.sparkContext.broadcast((qids, Qm, qn2))
    b = base.select(
        F.col(base_id_col).alias("vec_id"),
        as_double_array(base_vec_col).alias("bv"),
    )
    pad = 8
    kk = k + pad

    def fn(batches):
        b_qids, b_Q, b_qn2 = bc.value
        nq = len(b_qids)
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            B = np.vstack(pdf["bv"].to_numpy()).astype(np.float64)
            D = _gemm_batch_dists(metric, b_Q, b_qn2, B)
            if exclude_self:
                D[b_qids[:, None] == vids[None, :]] = np.inf
            # NOTE: the k+pad candidate CUT ranks by the gemm distances
            # while the reported values use the exact (a-b)^2 recompute;
            # a near-tie exactly at the cut boundary is resolved by the
            # approximate values (relative error ~1e-15). The pad hides,
            # not eliminates, that boundary — only exact-duplicate
            # vectors can tie closely enough for it to matter.
            m = min(kk, D.shape[1])
            if m < D.shape[1]:
                cand = np.argpartition(D, m - 1, axis=1)[:, :m]
            else:
                cand = np.broadcast_to(np.arange(D.shape[1]), (nq, D.shape[1]))
            if metric in ("l2_sqr", "l2"):
                # re-derive the kept distances with the cancellation-free
                # (a-b)^2 form: the gemm expansion is off by ~1e-16 near
                # zero, and the reference invariant (identical vectors ->
                # distance exactly 0, py/test_hnsw.py:395-407) plus the
                # element-wise SQL oracle both demand the exact kernel.
                # Cost: nq x kk x d on just the survivors.
                diff = B[cand] - b_Q[:, None, :]
                Dk = (diff * diff).sum(axis=2)
                if metric == "l2":
                    Dk = np.sqrt(Dk)
                if exclude_self:
                    Dk[b_qids[:, None] == vids[cand]] = np.inf
            else:
                Dk = None
            rows_q, rows_v, rows_d = [], [], []
            for i in range(nq):
                cj = cand[i]
                dj = D[i, cj] if Dk is None else Dk[i]
                order = np.lexsort((vids[cj], dj))[:k]
                keep = cj[order]
                dk = dj[order]
                fin = np.isfinite(dk)
                rows_q.append(np.full(fin.sum(), b_qids[i]))
                rows_v.append(vids[keep][fin])
                rows_d.append(dk[fin])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(rows_q),
                    "vec_id": np.concatenate(rows_v),
                    "dist": np.concatenate(rows_d),
                }
            )

    return b.mapInPandas(fn, "query_id long, vec_id long, dist double")


def brute_force_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    metric: str = "l2_sqr",
    mode: str = "window",
    impl: str = "gemm",
    **cols,
) -> DataFrame:
    """Exact kNN: mirror of BruteForce.RunSearch (py/bruteforce.py:11-19).

    Returns ``(query_id, vec_id, dist, rank)`` with rank 1..k ascending
    by distance (ties broken by vec_id — deterministic, matching the
    reference's stable full-sort at py/bruteforce.py:17).

    ``impl='gemm'`` (default) scores via the broadcast-matrix BLAS path;
    ``impl='expr'`` keeps everything in Catalyst expressions (slower on
    all-pairs, but zero Python — useful as a cross-check and for small k
    inside larger plans).
    """
    if impl == "gemm":
        scored = score_topk_gemm(queries, base, k, metric=metric, **cols)
        return topk_per_query(scored, k, mode="window")
    scored = score_pairs(queries, base, metric=metric, **cols)
    return topk_per_query(scored, k, mode=mode)


def knn_graph(
    base: DataFrame,
    k: int = 10,
    metric: str = "l2_sqr",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "window",
    impl: str = "auto",
    max_gemm_rows: int = 200_000,
) -> DataFrame:
    """Batch kNN graph: top-k neighbors per node, self-edges excluded.

    This is the batch replacement for the reference's incremental
    neighbor wiring during Insert (py/hnsw.py:369-379): compute the
    neighbor lists for *all* nodes in one job. Returns
    ``(src, dst, dist, rank)``.

    ``impl='auto'`` (default) guards the gemm path's collect-the-query-
    side step with a broadcastability check: the full node set is only
    pulled to the driver when it is known to fit (``<= max_gemm_rows``,
    one cheap count job — 200k x 64 float64 is ~100 MB, the same order
    as a broadcast-join side). Beyond that it falls back to the
    distributed expression path: an un-broadcast cross join whose
    streamed side stays partitioned, the codegen distance fold, and the
    map-side partial top-k combiner — no driver materialization of any
    side at any N. Exact kNN-graph is inherently N² compute; the scale
    *serving* path is the blocked approximate graph
    (operators/graph.py:knn_graph_blocked over IVF cells), which SURVEY
    §2 exposes as nng_blocked.
    """
    cols = dict(
        query_id_col=id_col,
        query_vec_col=vec_col,
        base_id_col=id_col,
        base_vec_col=vec_col,
    )
    if impl == "auto":
        n = base.select(id_col).count()
        impl = "gemm" if n <= max_gemm_rows else "expr"
        if impl == "expr":
            mode = "partial"  # map-side top-k: shuffle ~k rows/node
    if impl == "gemm":
        scored = score_topk_gemm(
            base, base, k, metric=metric, exclude_self=True, **cols
        )
    else:
        scored = score_pairs(
            base, base, metric=metric, broadcast_queries=False, **cols
        ).filter(F.col("query_id") != F.col("vec_id"))
    out = topk_per_query(scored, k, mode=mode)
    return out.select(
        F.col("query_id").alias("src"),
        F.col("vec_id").alias("dst"),
        "dist",
        "rank",
    )


def recall_at_k(result: DataFrame, truth: DataFrame, k: int = 10) -> float:
    """Recall@k of ``result`` against exact ``truth`` (both knn outputs).

    Mirrors the reference's notebook evaluation (py/hnsw.ipynb cell-6):
    |approx ∩ exact| / |exact| over the top-k sets per query.
    """
    r = result.filter(F.col("rank") <= k).select("query_id", "vec_id")
    t = truth.filter(F.col("rank") <= k).select("query_id", "vec_id")
    hit = r.join(t, ["query_id", "vec_id"], "inner").count()
    total = t.count()
    return hit / total if total else 0.0


def knn_classify(
    queries: DataFrame,
    base: DataFrame,
    labels: DataFrame,
    k: int = 10,
    metric: str = "l2_sqr",
    label_col: str = "label",
    id_col: str = "vec_id",
    **cols,
) -> DataFrame:
    """k-NN majority-vote classification: the classic consumer of a
    similarity search (the reference stops at returning neighbor lists;
    this is the one-join step every labeled-retrieval pipeline adds on
    top — py/bruteforce.py:11-19 composed with a vote).

    For each query, take the exact top-k neighbors, join their labels
    (broadcast — the label relation is (id, label), but only the
    nq x k neighbor rows are ever looked up), count votes, and keep the
    winner (ties -> lowest label, deterministic). Returns
    (query_id, pred_label, votes).
    """
    nn = brute_force_knn(queries, base, k=k, metric=metric, **cols)
    lab = labels.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("_lbl")
    )
    votes = (
        nn.select("query_id", "vec_id")
        .join(lab, "vec_id")
        .groupBy("query_id", "_lbl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("_lbl")
    )
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            F.col("_lbl").alias("pred_label"),
            F.col("votes").cast("int").alias("votes"),
        )
    )


def filtered_knn(
    queries: DataFrame,
    base: DataFrame,
    predicate,
    k: int = 10,
    metric: str = "l2_sqr",
    strategy: str = "prefilter",
    overfetch: int = 4,
    **cols,
) -> DataFrame:
    """Metadata-filtered vector search (the "filtered ANN" feature of
    every production vector store): top-k among only the base rows
    satisfying ``predicate`` (a boolean Column over base's columns).

    Two strategies, the real engineering trade:

    - ``prefilter``: push the predicate INTO the scan, then search the
      survivors. Exact w.r.t. the filtered set; at 100 TB the predicate
      reaches the parquet reader (PushedFilters), so a selective filter
      shrinks the scan itself. Right choice for selective predicates.
    - ``postfilter``: search top-(k*overfetch) UNFILTERED, then apply
      the predicate and re-rank. One index pass regardless of
      predicate; may return FEWER than k rows when the filter eats the
      overfetched shortlist — callers must handle short results (the
      documented failure mode of every post-filtering vector store).
      Right choice when the predicate is weak and the index (IVF/HNSW)
      only supports unfiltered probes.

    Returns ``(query_id, vec_id, dist, rank)``, rank 1..<=k.
    """
    if strategy == "prefilter":
        return brute_force_knn(
            queries, base.filter(predicate), k=k, metric=metric, **cols
        )
    if strategy != "postfilter":
        raise ValueError(f"unknown strategy {strategy!r}")
    from pyspark.sql import Window

    wide = brute_force_knn(
        queries, base, k=k * overfetch, metric=metric, **cols
    )
    # base's id column may be renamed (base_id_col kwarg), but the
    # scored output's id column is always literally `vec_id` — project
    # the survivors onto that name before joining.
    base_id = cols.get("base_id_col", "vec_id")
    keep = base.filter(predicate).select(F.col(base_id).alias("vec_id"))
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        wide.drop("rank")
        .join(keep, "vec_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def recall_per_query(
    result: DataFrame,
    truth: DataFrame,
    k: int,
    query_id: str = "query_id",
    item_id: str = "vec_id",
) -> DataFrame:
    """Recall@k per query: |result∩truth| / |truth| over each query's
    top-k lists — the evaluation the reference runs in its notebook
    (py/hnsw.ipynb cell-6) as a first-class relational operator. Both
    inputs are (query_id, item_id[, rank<=k]) top-k lists; extra rows
    beyond rank k are ignored when a rank column is present.

    One inner join on (query_id, item_id) + two keyed aggs — evaluation
    of a billion-query sweep is itself just a join, no driver loops.
    """
    def cut(df: DataFrame) -> DataFrame:
        if "rank" in df.columns:
            df = df.filter(F.col("rank") <= k)
        return df.select(query_id, item_id)

    r, t = cut(result), cut(truth)
    denom = t.groupBy(query_id).agg(F.count(F.lit(1)).alias("_n"))
    hits = (
        t.join(r, [query_id, item_id])
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("_hit"))
    )
    return denom.join(hits, query_id, "left").select(
        query_id,
        (
            F.coalesce(F.col("_hit"), F.lit(0)).cast("double") / F.col("_n")
        ).alias("recall"),
    )


def range_search(
    queries: DataFrame,
    base: DataFrame,
    radius: float,
    metric: str = "l2_sqr",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    base_id_col: str = "vec_id",
    base_vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact radius search (the FAISS ``range_search`` twin — an API
    the reference lacks): every base vector within ``radius`` of each
    query, ``(query_id, vec_id, dist)``, OUTPUT-SENSITIVE — no top-k
    truncation, no rank, no window. ``radius`` is in the metric's own
    ``dist`` space (``l2_sqr``: squared distance; ``cosine``: cosine
    DISTANCE ``1 - sim``), matching what :func:`score_pairs` emits, so
    a caller can tighten a kNN cutoff into a radius cutoff without a
    unit conversion.

    BOUNDARY SEMANTICS — intentional deviation from FAISS: hits
    satisfy ``dist <= radius`` (INCLUSIVE), where FAISS L2
    ``range_search`` returns strictly ``dist < radius``. Inclusive
    matches the SQL BETWEEN convention the oracle replays and keeps
    a kNN cutoff (``dist`` of the k-th neighbor) reusable as a radius
    verbatim; a caller porting FAISS-tuned radii may see extra
    exact-boundary hits. ``ivf_range`` uses the same ``<=`` — the two
    paths are mutually consistent.

    Same scan shape as :func:`brute_force_knn`'s scoring: broadcast
    queries x one streaming base pass, codegen'd distance fold, then a
    FILTER — which, unlike top-k, needs no shuffle at all: the result
    streams out of the scan stage. At 100 TB this exact form is the
    oracle/audit path; the serving path is the routed
    ``ivf.ivf_range`` (same contract, nprobe-bounded recall).

    ``broadcast_queries=True`` (default) is the SERVING contract —
    query batches are caller-bounded, so the hint is safe and removes
    the shuffle. Pass ``False`` when the "query" side is itself
    corpus-sized (radius-based near-dup blocking points a corpus at
    itself): no hint is planted and AQE picks the join strategy from
    observed sizes — the ``purge_docs`` no-hint precedent. A
    corpus-sized side under the default hint would force a
    driver-side collect of that side.
    """
    return score_pairs(
        queries,
        base,
        metric,
        query_id_col,
        query_vec_col,
        base_id_col,
        base_vec_col,
        broadcast_queries=broadcast_queries,
    ).filter(F.col("dist") <= F.lit(float(radius)))


def mine_semihard_negatives(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    metric: str = "l2_sqr",
    label_col: str = "label",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    base_id_col: str = "vec_id",
    base_vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Semi-hard negative mining for contrastive / metric-learning
    training data (FaceNet's d(a,p) < d(a,n) rule turned into a miner;
    an LLM-pipeline extension — no reference counterpart): for each
    anchor, the k nearest DIFFERENT-label rows that are still farther
    than the anchor's CLOSEST same-label row. Negatives nearer than
    the best positive are "too hard" (label noise magnets) and are
    excluded; the survivors are the informative band just beyond the
    positive margin.

    Returns ``(query_id, vec_id, pos_margin, dist, rank)`` with
    ``pos_margin`` = the anchor's closest-positive distance, rank
    1..<=k ascending by ``dist`` (vec_id tie-break). Anchors with NO
    positive (their label appears nowhere else in ``base``) have no
    margin and are dropped — callers wanting plain hard negatives for
    those should fall back to :func:`brute_force_knn` +
    ``label != anchor`` (:func:`filtered_knn` prefilter).

    DETERMINISM CONTRACT: the margin cut and the ranking compare
    distances rounded to ``round_digits`` (default 6) — a strict ``>``
    between two raw float64 sums is not reproducible across engines
    whose fold order differs. Both EMITTED values and the FINAL cut
    are rounded JVM-side with ``F.round`` (HALF_UP — the repo's
    established ``F.round``<->DuckDB-``ROUND`` pairing; numpy's
    ``np.round`` is half-to-EVEN and diverges on exact .5e-6 ties, so
    it never touches an emitted value). Inside the batches a
    floor-based half-up surrogate (``floor(d*1e6+0.5)/1e6``) drives
    selection only; everything it passes is re-filtered exactly
    in-plan, so a surrogate disagreement can only WIDEN the candidate
    set — losing a row requires the surrogate and ``F.round`` to
    disagree at a ~1e-16 representation boundary, the same measure-zero
    class as :func:`score_topk_gemm`'s documented pad caveat.

    Plan shape (the 100 TB story): TWO streaming gemm scans of
    ``base``, ZERO corpus-sized shuffles, all scoring in BLAS through
    the shared :func:`_gemm_batch_dists` kernel (the Catalyst fold is
    interpreted at ~15us/pair — the :func:`score_topk_gemm` rationale
    applies verbatim; the first cut of this operator used the fold and
    measured 3.2 s at sf0.1, the gemm form ~0.9-1.5 s warm — fixed job
    overhead dominates at sf0.1; the per-pair win is what matters at
    corpus scale).

    - Pass A (margins): one ``mapInPandas`` pass gemm-scores each
      Arrow batch against the broadcast anchor matrix, masks to
      same-label non-self pairs, exact-recomputes the per-batch top
      few (cancellation-free (a-b)^2) and emits one RAW partial min
      per (batch, anchor); the nq-row global ``min`` aggregate is
      rounded with ``F.round`` IN-PLAN, collected (nq is
      caller-bounded) and re-broadcast as a plain margin array.
    - Pass B (negatives): one more gemm pass; each batch masks to
      different-label pairs, applies the strict margin cut in-batch
      (surrogate rounding — junk at the margin cannot occupy
      candidate slots), exact-recomputes the per-anchor top-(k+pad)
      survivors and emits their RAW distances; the plan then rounds
      with ``F.round``, re-applies the strict cut exactly, and the
      final window ranks ~batches x nq x (k+pad) rows.

    EAGER at call time (like :func:`score_topk_gemm`'s query collect):
    the anchor set and the nq-row margin table are materialized when
    the function is called; re-executing the returned DataFrame reuses
    the frozen margins. The anchor batch is caller-bounded — do NOT
    point a corpus at itself through this API; corpus-scale all-pairs
    mining belongs to the blocked/bucketed dedup family in
    operators/dedup.py.
    """
    if metric not in ("l2_sqr", "cosine"):
        raise ValueError(f"unsupported metric {metric!r}")
    qpdf = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(query_vec_col).alias("qv"),
        F.col(label_col).alias("qlab"),
    ).toPandas()
    if not len(qpdf):
        raise ValueError("empty query set")
    qids = qpdf["query_id"].to_numpy(dtype=np.int64)
    qlabs = qpdf["qlab"].to_numpy()
    Q = np.vstack(qpdf["qv"].to_numpy()).astype(np.float64)
    if metric == "cosine":
        qn = np.linalg.norm(Q, axis=1)
        Qm = np.divide(Q, qn[:, None], out=np.zeros_like(Q), where=qn[:, None] != 0)
        qn2 = None
    else:
        Qm, qn2 = Q, (Q * Q).sum(axis=1)

    sc = queries.sparkSession.sparkContext
    bc_q = sc.broadcast((qids, qlabs, Qm, qn2))
    b = base.select(
        F.col(base_id_col).alias("vec_id"),
        as_double_array(base_vec_col).alias("bv"),
        F.col(label_col).alias("blab"),
    )
    scale = float(10 ** round_digits)

    def _exact_l2(Qm_w, B, cand):
        """Cancellation-free (a-b)^2 for the (nq x m) candidate gather
        — vectorized across all anchors (the score_topk_gemm shape).
        Returns None for cosine (the gemm IS the definition there)."""
        if metric == "cosine":
            return None
        diff = B[cand] - Qm_w[:, None, :]
        return (diff * diff).sum(axis=2)

    # Pass A: per-batch partial closest-positive min per anchor (RAW —
    # the single authoritative F.round happens in the aggregate below).
    def margins_fn(batches):
        b_qids, b_qlabs, Qm_w, qn2_w = bc_q.value
        nq = len(b_qids)
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            blabs = pdf["blab"].to_numpy()
            B = np.vstack(pdf["bv"].to_numpy()).astype(np.float64)
            D = _gemm_batch_dists(metric, Qm_w, qn2_w, B)
            mask = (b_qlabs[:, None] == blabs[None, :]) & (
                b_qids[:, None] != vids[None, :]
            )
            Dm = np.where(mask, D, np.inf)
            # top few by gemm, exact-recomputed, so the emitted partial
            # min is the exact kernel's value (boundary-tie safe)
            m = min(4, Dm.shape[1])
            cand = np.argpartition(Dm, m - 1, axis=1)[:, :m]
            Dmg = np.take_along_axis(Dm, cand, axis=1)
            ex = _exact_l2(Qm_w, B, cand)
            vals = np.where(np.isfinite(Dmg), Dmg if ex is None else ex, np.inf)
            mins = vals.min(axis=1)
            fin = np.isfinite(mins)
            yield pd.DataFrame(
                {"query_id": b_qids[fin], "m": mins[fin]}
            )

    mpdf = (
        b.mapInPandas(margins_fn, "query_id long, m double")
        .groupBy("query_id")
        .agg(
            (F.round(F.min("m"), round_digits) + F.lit(0.0)).alias(
                "pos_margin"
            )
        )
        .toPandas()
    )
    margin_of = {
        int(r.query_id): float(r.pos_margin) for r in mpdf.itertuples()
    }
    marr = np.array(
        [margin_of.get(int(i), np.nan) for i in qids], dtype=np.float64
    )
    bc_m = sc.broadcast(marr)
    pad = 8
    kk = k + pad

    # Pass B: strict margin-cut different-label top-(k+pad) per batch.
    def neg_fn(batches):
        b_qids, b_qlabs, Qm_w, qn2_w = bc_q.value
        b_marr = bc_m.value
        nq = len(b_qids)
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            blabs = pdf["blab"].to_numpy()
            B = np.vstack(pdf["bv"].to_numpy()).astype(np.float64)
            D = _gemm_batch_dists(metric, Qm_w, qn2_w, B)
            # strict in-batch cut on surrogate-rounded gemm values: at-
            # margin junk is EXCLUDED here, so it cannot starve the kk
            # candidate slots of valid beyond-margin rows
            Dr = np.floor(D * scale + 0.5) / scale
            with np.errstate(invalid="ignore"):
                mask = (b_qlabs[:, None] != blabs[None, :]) & (
                    Dr > b_marr[:, None]
                )
            Dm = np.where(mask, D, np.inf)
            m = min(kk, Dm.shape[1])
            cand = np.argpartition(Dm, m - 1, axis=1)[:, :m]
            Dmg = np.take_along_axis(Dm, cand, axis=1)
            ex = _exact_l2(Qm_w, B, cand)
            vals = np.where(np.isfinite(Dmg), Dmg if ex is None else ex, np.inf)
            # order candidates per anchor by (surrogate-rounded exact
            # value, vec_id) and emit ALL kk survivors — the pad rides
            # to the exact plan-side re-round + re-filter + window
            vr = np.floor(vals * scale + 0.5) / scale
            rows_q, rows_v, rows_d = [], [], []
            for i in range(nq):
                fin = np.isfinite(vr[i])
                if not fin.any():
                    continue
                cj = cand[i][fin]
                dj = vals[i][fin]
                rj = vr[i][fin]
                order = np.lexsort((vids[cj], rj))
                rows_q.append(np.full(len(order), b_qids[i]))
                rows_v.append(vids[cj[order]])
                rows_d.append(dj[order])
            if rows_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(rows_q),
                        "vec_id": np.concatenate(rows_v),
                        "dist": np.concatenate(rows_d),
                    }
                )

    scored = b.mapInPandas(
        neg_fn, "query_id long, vec_id long, dist double"
    )
    margins_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(int(q), float(m)) for q, m in margin_of.items()],
            "query_id long, pos_margin double",
        )
    )
    out = (
        scored.select(
            "query_id",
            "vec_id",
            (F.round("dist", round_digits) + F.lit(0.0)).alias("dist"),
        )
        .join(margins_df, "query_id")
        .filter(F.col("dist") > F.col("pos_margin"))
    )
    return topk_per_query(out, k).select(
        "query_id", "vec_id", "pos_margin", "dist", "rank"
    )
