"""The benchmark's workloads. Each drives the engine only through its
public functions, on inputs generated from the seed.

A workload generates and writes its inputs and computes what truth it
can before the build (``setup``), builds (timed as ``build_s``), is
verified (untimed), then serves a fixed call cycle that the runner
repeats. Every call's output is checked after its timing ends; a
violated check is recorded in ``violations``.

The engine's own RNG seeds (k-means, PQ, the HNSW level draw) are build
settings and stay fixed; only the data follows ``--seed``.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import functions as F

import gen
from vector_search_spark.operators import dedup, graph, ivf, kmeans, pq

BUILD_SEED = 42


class Call(NamedTuple):
    span: str  # layer.function of the public call being timed
    items: int  # queries this call serves
    run: Callable[[], object]  # performs the call, returns its output
    check: Callable[[object], None]  # verifies the output (untimed)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


class _VectorServe:
    """Query stream, per-call output checks and recall, shared by both
    workloads. ``self.base[i]`` is the vector with id ``i`` and
    ``self.true[q]`` the exact top-10 ids of query ``q``."""

    BATCHES: tuple[int, ...]
    # The first call of each kind runs cold (planning, code generation):
    # one untimed warm-up cycle serves small batches through every path.
    WARMUP_CYCLES = 1
    WARMUP_BATCHES: tuple[int, ...]
    MIN_CYCLES = 1  # timed cycles, however long they take
    MAX_CYCLES = 16
    FILES = 8
    FLOORS: dict[str, float]

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.recalls: list[tuple[int, str, float, int]] = []  # (cycle, path, recall, nq)
        self.violations: list[str] = []
        self.layer: dict[str, float] = {}

    def n_queries(self) -> int:
        return self.MAX_CYCLES * sum(self.BATCHES)

    def sizes(self, cycle: int) -> tuple[int, ...]:
        return self.WARMUP_BATCHES if cycle < self.WARMUP_CYCLES else self.BATCHES

    def batch(self, spark, cycle: int, j: int):
        """Query ids and DataFrame of batch ``j`` of ``cycle``."""
        start = cycle * sum(self.BATCHES) + sum(self.sizes(cycle)[:j])
        qids = np.arange(start, start + self.sizes(cycle)[j])
        rows = [(int(q), self.queries[q].tolist()) for q in qids]
        return qids, spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def checker(self, cycle: int, path: str, qids: np.ndarray):
        def check(pdf) -> None:
            got: dict[int, list[int]] = {}
            for q, g in pdf.sort_values(["query_id", "rank"]).groupby("query_id"):
                got[int(q)] = g["vec_id"].tolist()
                ranks, dist = g["rank"].tolist(), g["dist"].to_numpy()
                diff = self.base[g["vec_id"].to_numpy()].astype(np.float64) - self.queries[q]
                exact = (diff * diff).sum(1)
                if ranks != list(range(1, gen.K + 1)) or len(set(got[q])) != gen.K:
                    self.violations.append(f"{path}: query {q} ranks {ranks}")
                elif np.any(np.diff(dist) < 0) or not np.allclose(dist, exact, rtol=1e-6, atol=1e-9):
                    self.violations.append(f"{path}: query {q} distances not exact/ascending")
            if set(got) != {int(q) for q in qids}:
                self.violations.append(f"{path}: answered {len(got)} of {len(qids)} queries")
            truth = {int(q): self.true[q].tolist() for q in qids}
            self.recalls.append((cycle, path, gen.recall_at_k(got, truth), len(qids)))

        return check

    def recall(self, cycle: int | None = None, path: str | None = None) -> float:
        """Recall@10 per query, averaged over the queries of the calls of
        ``cycle`` and/or on ``path`` (all calls when both are None)."""
        rs = [(r, n) for c, p, r, n in self.recalls if cycle in (None, c) and path in (None, p)]
        return sum(r * n for r, n in rs) / sum(n for _, n in rs)

    def gate(self) -> None:
        for path, floor in self.FLOORS.items():
            r = self.recall(path=path)
            if r < floor:
                self.violations.append(f"{path}: recall@10 {r:.4f} < floor {floor}")


class IvfServe(_VectorServe):
    """IVF-Flat and IVF-PQ indexes persisted as cell-partitioned
    parquet; every batch of nq in BATCHES is served by both exact-in-cell
    ``search_index`` and refined ``adc_search_index``."""

    name = "ivf_serve"
    N = 8_000
    BATCHES = (1, 16, 64)
    WARMUP_BATCHES = (1,)
    MIN_CYCLES = 2  # twelve timed calls: six gave a median that swung by a quarter
    NC, NPROBE = 16, 4
    PQ_M, PQ_K, PQ_ITERS = 16, 64, 4
    FLOORS = {"ivf.search_index": 0.90, "ivf.adc_search_index": 0.85}

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.points, self.index, self.cents, self.codes, self.model = (
            os.path.join(work, d)
            for d in ("points", "ivf_flat", "centroids", "ivf_pq", "pq_model")
        )

    def generate(self) -> None:
        self.base, self.queries = gen.embeddings(self.seed, self.N, self.n_queries())
        gen.write_vectors(self.points, np.arange(self.N), self.base, self.FILES)

    def truth(self) -> None:
        self.true = gen.exact_topk(self.base, self.queries)

    def build(self, spark, tr) -> None:
        pts = spark.read.parquet(self.points)
        with tr.span("kmeans.train_coarse"):
            C = kmeans.train_coarse(pts, k=self.NC, seed=BUILD_SEED)
        with tr.span("ivf.assign_write"):
            ivf.write_index(ivf.assign_clusters(pts, C), self.index)
            ivf.save_centroids(spark, C, self.cents)
        with tr.span("pq.train"):
            model, _ = pq.train_pq(
                pts, m=self.PQ_M, k=self.PQ_K, seed=BUILD_SEED, max_iter=self.PQ_ITERS
            )
        with tr.span("pq.encode_write"):
            assigned = spark.read.parquet(self.index)
            codes = pq.encode(assigned, model).join(
                assigned.select("vec_id", "cluster_id"), "vec_id"
            )
            ivf.write_index(codes, self.codes)
            pq.save_model(spark, model, self.model)

    def verify_build(self, spark) -> None:
        raw = self.N * gen.DIM * 4
        self.layer["ivf.index_size_ratio"] = _dir_bytes(self.index) / raw
        self.layer["pq.index_size_ratio"] = _dir_bytes(self.codes) / raw

    def calls(self, spark, tr, cycle: int) -> list[Call]:
        def flat(qdf):
            return ivf.search_index(
                spark, self.index, self.cents, qdf, k=gen.K, nprobe=self.NPROBE
            ).toPandas()

        def adc(qdf):
            return ivf.adc_search_index(
                spark, self.codes, self.cents, self.model, qdf, k=gen.K,
                nprobe=self.NPROBE, points_path=self.points,
            ).toPandas()

        paths = [("ivf.search_index", flat), ("ivf.adc_search_index", adc)]
        out = []
        for j in range(len(self.sizes(cycle))):
            qids, qdf = self.batch(spark, cycle, j)
            # both paths serve every batch; which goes first alternates
            for span, fn in paths[:: 1 - 2 * ((cycle + j) % 2)]:
                out.append(
                    Call(span, len(qids), lambda fn=fn, qdf=qdf: fn(qdf),
                         self.checker(cycle, span, qids))
                )
        return out


class DedupHnsw(_VectorServe):
    """Prepare and serve a retrieval corpus: near-dup removal
    (minhash_lsh_pairs -> connected_components -> keep_canonical) over
    a text corpus with planted one-word-edit copies, an HNSW graph over
    the kept documents' embeddings, then query batches walked through
    collect_query_batch -> descend_entry_points -> greedy_search."""

    name = "dedup_hnsw"
    N_DOCS, N_PLANTED = 3_000, 400
    BATCHES = (128,)
    WARMUP_BATCHES = (8,)
    NC = 4  # with 8 cells the blocked build leaves some seeds' graphs poorly connected
    SHINGLE, PERMS, ROWS, TAU = 3, 12, 3, 0.5
    FLOORS = {"graph.hnsw_search": 0.85}
    DUP_FLOOR = 0.90

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs, self.kept = os.path.join(work, "docs"), os.path.join(work, "kept")

    def generate(self) -> None:
        self.ids, self.texts, self.planted = gen.corpus(self.seed, self.N_DOCS, self.N_PLANTED)
        vecs, self.queries = gen.corpus_embeddings(
            self.seed, self.ids, self.planted, self.n_queries()
        )
        gen.write_docs(self.docs, self.ids, self.texts, vecs, self.FILES)
        self.base = np.zeros((len(self.ids) + 1, gen.DIM), np.float32)
        self.base[self.ids] = vecs  # ids are 1..n, so row = id

    def truth(self) -> None:
        # shingle sets for the pair check; the vector truth needs the
        # kept set and is computed in verify_build
        n = self.SHINGLE
        self.shingles = {}
        for i, t in zip(self.ids.tolist(), self.texts):
            w = t.split()
            self.shingles[i] = {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}

    def build(self, spark, tr) -> None:
        docs = spark.read.parquet(self.docs)
        with tr.span("dedup.minhash_lsh_pairs"):
            self.pairs = dedup.minhash_lsh_pairs(
                docs, shingle_n=self.SHINGLE, num_perms=self.PERMS,
                rows_per_band=self.ROWS, threshold=self.TAU,
            ).localCheckpoint()
        with tr.span("dedup.connected_components"):
            groups = dedup.connected_components(self.pairs).localCheckpoint()
        with tr.span("dedup.keep_canonical"):
            dedup.keep_canonical(docs, groups).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ).write.parquet(self.kept)
        self.pts = spark.read.parquet(self.kept)
        with tr.span("kmeans.train_coarse"):
            C = kmeans.train_coarse(self.pts, k=self.NC, seed=BUILD_SEED)
        with tr.span("graph.hnsw_build"):
            self.graph = graph.hnsw_build(
                self.pts, C, m=8, ef_construction=32, seed=BUILD_SEED
            )

    def verify_build(self, spark) -> None:
        pairs = {(int(a), int(b)) for a, b in self.pairs.select("a", "b").collect()}
        for a, b in sorted(pairs):
            sa, sb = self.shingles[a], self.shingles[b]
            if a >= b or len(sa & sb) / len(sa | sb) < self.TAU:
                self.violations.append(f"dedup: pair ({a}, {b}) is not a near-duplicate")
                break
        # survivors: every document but the non-minimal members of each
        # connected component of the reported pairs
        parent: dict[int, int] = {}

        def root(x: int) -> int:
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = set(self.ids.tolist()) - {x for x in parent if root(x) != x}
        kept = spark.read.parquet(self.kept).select("vec_id").toPandas()["vec_id"].to_numpy()
        if len(kept) != len(want) or set(kept.tolist()) != want:
            self.violations.append(f"dedup: kept {len(kept)} docs, components give {len(want)}")
        found = sum((min(p), max(p)) in pairs for p in self.planted) / len(self.planted)
        if found < self.DUP_FLOOR:
            self.violations.append(f"dedup: dup_recall {found:.4f} < floor {self.DUP_FLOOR}")
        self.layer.update({
            "dedup.pairs_out": len(pairs),
            "dedup.kept_docs": len(kept),
            "dedup.dup_recall": found,
        })
        kept = np.sort(kept)
        self.true = kept[gen.exact_topk(self.base[kept], self.queries)]

    def calls(self, spark, tr, cycle: int) -> list[Call]:
        out = []
        for j in range(len(self.sizes(cycle))):
            qids, qdf = self.batch(spark, cycle, j)

            def walk(qdf=qdf):
                with tr.span("graph.collect_query_batch"):
                    qb = graph.collect_query_batch(qdf)
                with tr.span("graph.descend_entry_points"):
                    seeds = graph.descend_entry_points(
                        self.graph, self.pts, qdf, query_batch=qb
                    ).localCheckpoint()
                with tr.span("graph.greedy_search"):
                    return graph.greedy_search(
                        self.graph, self.pts, qdf, k=gen.K, ef=48, max_hops=1,
                        seeds=seeds, expand=5, early_stop=False, query_batch=qb,
                    ).toPandas()

            out.append(
                Call("graph.hnsw_search", len(qids), walk,
                     self.checker(cycle, "graph.hnsw_search", qids))
            )
        return out


WORKLOADS = {w.name: w for w in (IvfServe, DedupHnsw)}
