"""Product-quantization ANN: codebook training determinism, encode
compression, the exact-reconstruction limit (PQ == brute force when
codebooks can represent every sub-vector), recall with exact rerank on
clustered data, and degenerate inputs."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from spatialpandas_spark.operators.pq import (
    pq_encode,
    pq_reconstruct_error,
    pq_topk,
    train_pq,
)
from spatialpandas_spark.operators.similarity import brute_force_topk


def _emb(spark, n=200, dim=16, labels=8, noise=0.15, seed=11):
    """Clustered unit-scale vectors: label prototype + noise."""
    rng = np.random.default_rng(seed)
    protos = rng.standard_normal((labels, dim))
    lab = rng.integers(0, labels, n)
    X = protos[lab] + noise * rng.standard_normal((n, dim))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_train_pq_deterministic_and_shaped(spark):
    emb = _emb(spark)
    b1 = train_pq(emb, m_sub=4, n_codes=16, iters=3)
    b2 = train_pq(emb, m_sub=4, n_codes=16, iters=3)
    assert b1 == b2
    B = np.asarray(b1)
    assert B.shape == (4, 16, 4)


def test_train_pq_dim_guard(spark):
    emb = _emb(spark, dim=10)
    with pytest.raises(ValueError, match="not divisible"):
        train_pq(emb, m_sub=4)


def test_pq_encode_compression_and_nulls(spark):
    emb = _emb(spark, n=50).unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id long, embedding array<double>"
        )
    )
    books = train_pq(emb, m_sub=4, n_codes=8, iters=2)
    rows = {r["vec_id"]: r["code"] for r in pq_encode(emb, books).collect()}
    assert rows[999] is None
    assert all(len(v) == 4 for k, v in rows.items() if k != 999)
    assert all(max(bytes(v)) < 8 for k, v in rows.items() if k != 999)


def test_pq_exact_reconstruction_limit(spark):
    # 12 distinct vectors, n_codes >= corpus size: every sub-vector is its
    # own codeword, reconstruction is exact, so ADC == exact cosine and
    # PQ top-k equals brute force top-k exactly (ids AND ranks).
    emb = _emb(spark, n=12, dim=8, labels=12, noise=0.0, seed=5)
    books = train_pq(emb, m_sub=2, n_codes=12, iters=4)
    codes = pq_encode(emb, books)
    qs = emb.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in pq_topk(qs, codes, books, k=3).collect()
    }
    want = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(qs, emb, k=3).collect()
    }
    assert got == want


def test_pq_rerank_capacity_fork_safe_at_scale(spark, monkeypatch):
    """Round-15 advice fix: the rerank candidate broadcast is forced only
    when the construction-time bound (n_parts x n_queries x n_cand x
    row bytes) fits the budget. Shrinking the budget to zero must (a)
    drop every F.broadcast hint from the plan, routing through the
    global per-query top-n_cand window instead, and (b) leave the
    LOSSLESS-config result exactly equal to brute force — proving the
    fallback path computes the same query."""
    import spatialpandas_spark.operators.similarity as simmod

    emb = _emb(spark, n=12, dim=8, labels=12, noise=0.0, seed=5)
    books = train_pq(emb, m_sub=2, n_codes=12, iters=4)
    codes = pq_encode(emb, books)
    qs = emb.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(simmod, "_CAND_BROADCAST_CAP", 0)
    out = pq_topk(qs, codes, books, k=3, rerank=emb, rerank_factor=2)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "row_number" in plan  # the global top-n_cand reduce is in
    got = {(r["qid"], r["rank"]): r["vec_id"] for r in out.collect()}
    want = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(qs, emb, k=3).collect()
    }
    assert got == want


def test_pq_rerank_recall_clustered(spark):
    emb = _emb(spark, n=300, dim=16, labels=6, noise=0.2, seed=3)
    books = train_pq(emb, m_sub=4, n_codes=32, iters=5)
    codes = pq_encode(emb, books)
    qs = emb.limit(10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k = 10
    approx = pq_topk(qs, codes, books, k=k, rerank=emb, rerank_factor=4)
    exact = brute_force_topk(qs, emb, k=k)
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"recall@{k} = {recall}"
    # with rerank, sims are exact cosines: spot-check one overlap pair
    av = {(r["qid"], r["vec_id"]): r["sim"] for r in approx.collect()}
    ev = {(r["qid"], r["vec_id"]): r["sim"] for r in exact.collect()}
    for key in list(a & e)[:5]:
        assert av[key] == pytest.approx(ev[key], abs=1e-12)


def test_pq_reconstruct_error_decreases_with_codes(spark):
    emb = _emb(spark, n=200, dim=16)
    small = train_pq(emb, m_sub=4, n_codes=4, iters=4)
    big = train_pq(emb, m_sub=4, n_codes=64, iters=4)
    mse_small = pq_reconstruct_error(emb, small).collect()[0]["mse"]
    mse_big = pq_reconstruct_error(emb, big).collect()[0]["mse"]
    assert mse_big < mse_small
    assert mse_big >= 0.0


def test_pq_topk_distributed_fallback_row_identical(spark):
    """Above max_collected_queries the operator must DEGRADE to the
    distributed pair formulation (brute_force_topk's contract, round-4
    verdict item), not raise — identical rows on both sides of the
    boundary, with and without exact rerank."""
    emb = _emb(spark, n=40, dim=8, labels=8, seed=13)
    books = train_pq(emb, m_sub=2, n_codes=16, iters=3)
    codes = pq_encode(emb, books)
    qs = emb.limit(12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    for rr in (None, emb):
        fast = pq_topk(qs, codes, books, k=4, rerank=rr).collect()
        dist = pq_topk(
            qs, codes, books, k=4, rerank=rr, max_collected_queries=5
        ).collect()
        key = lambda r: (r["qid"], r["rank"])
        fast_s, dist_s = sorted(fast, key=key), sorted(dist, key=key)
        assert [(r["qid"], r["vec_id"], r["rank"]) for r in fast_s] == [
            (r["qid"], r["vec_id"], r["rank"]) for r in dist_s
        ]
        for a, b in zip(fast_s, dist_s):
            assert a["sim"] == pytest.approx(b["sim"], abs=1e-12)


def test_pq_string_ids_pass_through(spark):
    emb = _emb(spark, n=30, dim=8).select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    books = train_pq(emb, m_sub=2, n_codes=16, iters=2)
    codes = pq_encode(emb, books)
    qs = emb.limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rows = pq_topk(qs, codes, books, k=2).collect()
    assert rows and all(isinstance(r["vec_id"], str) for r in rows)
    assert all(isinstance(r["qid"], str) for r in rows)


def test_ann_ops_tolerate_null_vectors(spark):
    """Null vectors are unrankable/unindexable: dropped at the DataFrame
    boundary everywhere in the ANN surface (100 TB corpora have nulls;
    a ragged-batch crash is not an acceptable failure mode)."""
    import os
    import tempfile

    from spatialpandas_spark.operators.similarity import (
        brute_force_topk,
        embedding_near_dup_pairs,
        ivf_topk,
    )
    from spatialpandas_spark.operators.similarity_index import (
        append_to_ivfpq_index,
        build_ivf_index,
        build_ivfpq_index,
        query_ivf_index,
        query_ivfpq_index,
    )

    rows = [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(
        rows + [(99, None)], "vec_id long, embedding array<double>"
    )
    qs = df.filter(F.col("vec_id").isin(1, 99)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # flat ops: null corpus row never a candidate, null query dropped
    assert brute_force_topk(qs, df, k=3).filter(F.col("qid") == 99).count() == 0
    assert ivf_topk(qs, df, k=3, n_centroids=4, n_probe=4).count() > 0
    assert embedding_near_dup_pairs(df, dim=4).filter(
        (F.col("id_a") == 99) | (F.col("id_b") == 99)
    ).count() == 0
    # persistent indexes: build, append, probe all null-safe
    base = tempfile.mkdtemp(prefix="nulls_")
    p1 = os.path.join(base, "ivf")
    build_ivf_index(df, p1, n_centroids=4)
    assert query_ivf_index(spark, p1, qs, k=3, n_probe=4).count() > 0
    p2 = os.path.join(base, "ivfpq")
    build_ivfpq_index(df, p2, n_centroids=4, m_sub=2, n_codes=8,
                      store_vectors=True)
    append_to_ivfpq_index(
        spark.createDataFrame(
            [(500, [1.0, 1.0, 1.0, 1.0]), (501, None)],
            "vec_id long, embedding array<double>",
        ),
        p2,
    )
    out = query_ivfpq_index(spark, p2, qs, k=3, n_probe=4, rerank="stored")
    assert out.filter(F.col("qid") == 99).count() == 0
    assert out.count() > 0
    idx_ids = {r["vec_id"] for r in spark.read.parquet(p2).collect()}
    assert 99 not in idx_ids and 501 not in idx_ids and 500 in idx_ids
