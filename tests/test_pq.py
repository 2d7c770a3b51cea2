"""PQ invariants, mirroring the reference test strategy (SURVEY.md §5;
reference py/test_pq.py): code ranges, reconstruction error, ADC/SDC
equivalence to explicit decode math, seeded-train determinism,
codebook persistence round-trip.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from vector_search_spark import tables
from vector_search_spark.operators import pq

M, K = 8, 16


@pytest.fixture(scope="module")
def emb(spark):
    return tables.load(spark, SF_ORACLE, "embeddings").cache()


@pytest.fixture(scope="module")
def model(spark, emb):
    m, n_iter = pq.train_pq(emb, m=M, k=K, seed=42, max_iter=25)
    assert 1 <= n_iter <= 25
    return m


def test_train_shapes_and_determinism(spark, emb, model):
    assert model.codebooks.shape == (M, K, 64 // M)
    assert model.m == M and model.k == K and model.dim == 64
    again, _ = pq.train_pq(emb, m=M, k=K, seed=42, max_iter=25)
    np.testing.assert_allclose(model.codebooks, again.codebooks)


def test_train_rejects_bad_dims(spark, emb):
    # D % M == 0 contract (reference py/pq.py:32-33)
    with pytest.raises(ValueError, match="divisible"):
        pq.train_pq(emb, m=7, k=4)


def test_codes_in_range(spark, emb, model):
    raw = pq.encode(emb, model)
    # K<=256 stores BinaryType: exactly M bytes per row at rest
    assert dict(raw.dtypes)["code"] == "binary"
    assert raw.select(
        F.max(F.length("code")).alias("n")
    ).first()["n"] == model.m
    codes = pq.codes_as_int_array(raw)
    stats = codes.select(
        F.min(F.array_min("code")).alias("lo"),
        F.max(F.array_max("code")).alias("hi"),
        F.min(F.size("code")).alias("m_lo"),
        F.max(F.size("code")).alias("m_hi"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] < K  # py/test_pq.py code-range
    assert stats["m_lo"] == stats["m_hi"] == M


def test_reconstruction_error_bounded(spark, emb, model):
    """decode(encode(x)) must beat a null model (global-mean centroid) —
    the reconstruction-error-bound style of py/test_pq.py:154-167."""
    codes = pq.encode(emb, model)
    recon = pq.decode(codes, model)
    joined = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .join(recon, "vec_id")
        .select(
            F.aggregate(
                F.zip_with("v", "vec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("err"),
            F.aggregate(
                F.transform("v", lambda a: a * a), F.lit(0.0), lambda acc, x: acc + x
            ).alias("norm2"),
        )
        .agg(F.avg("err").alias("mse"), F.avg("norm2").alias("mnorm"))
        .first()
    )
    assert 0.0 <= joined["mse"] < joined["mnorm"]


def test_encode_self_centroid_is_exact(spark, model):
    """A vector that IS a centroid concatenation encodes to those codes
    and decodes back exactly (identity round-trip, py/test_pq.py style)."""
    spark_codes = [3, 0, 15, 7, 1, 9, 12, 5]
    vec = np.concatenate([model.codebooks[mi, c] for mi, c in enumerate(spark_codes)])
    df = spark.createDataFrame(
        [(0, [float(x) for x in vec])], "vec_id long, embedding array<double>"
    )
    out = pq.encode(df, model).first()
    assert list(out["code"]) == spark_codes
    rec = pq.decode(pq.encode(df, model), model).first()
    np.testing.assert_allclose(np.asarray(rec["vec"]), vec, rtol=1e-12)


def test_adc_matches_decode_l2(spark, emb, model):
    """ADC(q, code) == L2Sqr(q, decode(code)) by definition
    (py/pq.py:297-324) — check on a small slice with explicit math."""
    small = emb.filter(F.col("vec_id") < 30)
    codes = pq.encode(small, model)
    adc = pq.adc_topk(small.filter(F.col("vec_id") < 3), codes, model, k=30)
    recon = pq.decode(codes, model)
    q = small.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    explicit = q.crossJoin(recon.withColumnRenamed("vec_id", "bid")).select(
        "query_id",
        F.col("bid").alias("vec_id"),
        F.aggregate(
            F.zip_with("qv", "vec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d_explicit"),
    )
    diff = (
        adc.join(explicit, ["query_id", "vec_id"])
        .select(F.max(F.abs(F.col("dist") - F.col("d_explicit"))).alias("mx"))
        .first()["mx"]
    )
    assert diff < 1e-8


def test_sdc_symmetric_and_zero_diagonal(model):
    T = pq.sdc_table(model)
    assert T.shape == (M, K, K)
    np.testing.assert_allclose(T, T.transpose(0, 2, 1), atol=1e-10)
    for mi in range(M):
        np.testing.assert_allclose(np.diag(T[mi]), 0.0, atol=1e-9)


def test_codebook_roundtrip(spark, model, tmp_path):
    """Get/SetCodebooks parquet round-trip (py/pq.py:351-381,
    py/test_pq.py:274-294)."""
    path = str(tmp_path / "cb.parquet")
    pq.save_model(spark, model, path)
    loaded = pq.load_model(spark, path)
    np.testing.assert_allclose(loaded.codebooks, model.codebooks)


def test_load_model_validates_shape(spark, model, tmp_path):
    path = str(tmp_path / "cb_bad.parquet")
    pq.save_model(spark, model, path)
    df = spark.read.parquet(path)
    df.filter(~((F.col("m") == 0) & (F.col("k") == 0))).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "cb_missing.parquet"))
    with pytest.raises(ValueError, match="ragged codebooks"):
        pq.load_model(spark, str(tmp_path / "cb_missing.parquet"))


def test_codec_protocol_generic_search(spark):
    """Reference parity for the VectorCompression strategy switch
    (py/vector_compression.py:5-94, composed at py/hnsw.py:181-189):
    the SAME search harness runs over PQ, SQ, and the identity codec;
    each must retrieve every query's own vector at rank 1 (distance-0
    invariant holds exactly for NoCompression, and for PQ/SQ because
    a query's code is its own nearest reconstruction here)."""
    from tests.conftest import SF_ORACLE
    from vector_search_spark import tables
    from vector_search_spark.functions.compression import (
        NoCompression,
        PQCodec,
        SQCodec,
        VectorCompression,
    )

    emb = tables.load(spark, SF_ORACLE, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in __import__(
            "vector_search_spark.operators.knn", fromlist=["knn"]
        ).brute_force_knn(queries, emb, k=10).collect()
    }
    for codec in (NoCompression(), SQCodec(), PQCodec(m=8, k=16)):
        assert isinstance(codec, VectorCompression)
        codec.train(emb)
        assert codec.is_trained()
        coded = codec.encode(emb)
        res = codec.asymmetric_topk(queries, coded, k=10)
        rows = res.collect()
        assert len(rows) == 50
        top1 = {r.query_id: r.vec_id for r in rows if r.rank == 1}
        # self-retrieval at rank 1 for every query, any codec
        assert top1 == {q: q for q in range(5)}, (type(codec).__name__, top1)
        if isinstance(codec, NoCompression):
            got = {(r.query_id, r.rank): r.vec_id for r in rows}
            assert got == exact


def test_codec_untrained_raises(spark):
    from vector_search_spark.functions.compression import PQCodec, SQCodec

    import pytest as _pt

    for codec in (PQCodec(), SQCodec()):
        with _pt.raises(ValueError, match="not trained"):
            codec.encode(None)


def test_refine_improves_or_matches_adc_recall(spark, emb, model):
    """Exact re-ranking of the ADC shortlist must dominate raw ADC on
    Recall@10 (FAISS IndexRefine contract), and its distances must be
    exact (match brute force for the returned pairs)."""
    from vector_search_spark.operators import knn

    codes = pq.encode(emb, model)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = knn.brute_force_knn(queries, emb, k=10)
    tpairs = {(r.query_id, r.vec_id) for r in truth.collect()}

    adc = pq.adc_topk(queries, codes, model, k=10)
    ref = pq.refine_topk(queries, codes, model, emb, k=10, shortlist=50)
    apairs = {(r.query_id, r.vec_id) for r in adc.collect()}
    rrows = ref.collect()
    rpairs = {(r.query_id, r.vec_id) for r in rrows}
    assert len(rpairs & tpairs) >= len(apairs & tpairs)

    # returned distances are EXACT squared L2
    tdist = {(r.query_id, r.vec_id): r.dist for r in truth.collect()}
    for r in rrows:
        if (r.query_id, r.vec_id) in tdist:
            assert r.dist == pytest.approx(
                tdist[(r.query_id, r.vec_id)], rel=1e-12
            )


# --- OPQ: trained rotation (Ge et al. 2013 non-parametric mode) -----------


def _aniso_df(spark, n=600, dim=16, seed=9):
    """Anisotropic fixture: axis-skewed gaussian pushed through a fixed
    mixing rotation, so variance is concentrated along directions
    MISALIGNED with the PQ subspace boundaries — the regime OPQ exists
    for."""
    import numpy as np

    from vector_search_spark.operators import pq as _pq

    rng = np.random.default_rng(seed)
    scales = np.geomspace(8.0, 0.25, dim)
    X = rng.normal(size=(n, dim)) * scales[None, :]
    Mx = _pq.random_rotation(dim, seed=7)
    X = X @ Mx.T
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


def test_opq_rotation_orthonormal_and_monotone(spark):
    from vector_search_spark.operators import pq as _pq

    df = _aniso_df(spark)
    R, model, errs = _pq.train_opq_rotation(
        df, m=4, k=16, opq_iters=5, lloyd_iters=6, seed=42
    )
    import numpy as np

    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)
    # identity init => iteration 0 == plain PQ; alternating
    # minimization must be monotone non-increasing on the sample
    assert all(
        errs[i + 1] <= errs[i] * (1 + 1e-9) for i in range(len(errs) - 1)
    ), errs
    assert errs[-1] < errs[0]  # anisotropic data: rotation genuinely helps


@pytest.mark.slow
def test_opq_beats_plain_pq_reconstruction_and_recall(spark):
    import numpy as np

    from vector_search_spark.operators import knn as _knn
    from vector_search_spark.operators import pq as _pq

    df = _aniso_df(spark).localCheckpoint()
    M, K = 4, 16
    R, opq_model, errs = _pq.train_opq_rotation(
        df, m=M, k=K, opq_iters=5, lloyd_iters=6, seed=42
    )
    pq_model, _ = _pq.train_pq(df, m=M, k=K, seed=42, max_iter=30)

    # distributed reconstruction error, both codecs
    def mse(codes, model, base, vec_col):
        dec = _pq.decode(codes, model)
        joined = dec.join(base, "vec_id")
        import pyspark.sql.functions as F

        return (
            joined.select(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        F.col("vec").cast("array<double>"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("e")
            )
            .agg(F.avg("e"))
            .collect()[0][0]
        )

    rot = _pq.rotate(df, R).withColumnRenamed("rotated", "embedding")
    opq_codes = _pq.encode(rot, opq_model)
    pq_codes = _pq.encode(df, pq_model)
    e_opq = mse(opq_codes, opq_model, rot.localCheckpoint(), "embedding")
    e_pq = mse(pq_codes, pq_model, df, "embedding")
    # rotation is an isometry, so rotated-space MSE == original-space MSE
    assert e_opq <= e_pq * 1.02, (e_opq, e_pq)

    # end-to-end ADC recall: rotate queries with the SAME R
    queries = df.filter("vec_id < 20")
    truth = _knn.brute_force_knn(queries, df, k=5)
    rot_q = _pq.rotate(queries, R).withColumnRenamed("rotated", "embedding")
    got_opq = _pq.adc_topk(rot_q, opq_codes, opq_model, k=5)
    got_pq = _pq.adc_topk(queries, pq_codes, pq_model, k=5)
    r_opq = _knn.recall_at_k(got_opq, truth, k=5)
    r_pq = _knn.recall_at_k(got_pq, truth, k=5)
    assert r_opq >= r_pq - 0.05, (r_opq, r_pq)
