"""Similarity search vs numpy brute-force oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

from spatialpandas_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucket_topk,
)

RNG = np.random.default_rng(13)
DIM = 16
N = 300


@pytest.fixture(scope="module")
def emb(spark):
    vecs = RNG.standard_normal((N, DIM)).astype(np.float32)
    # plant near-duplicates: rows 0..9 get a barely-perturbed copy at 100..109
    vecs[100:110] = vecs[0:10] + RNG.standard_normal((10, DIM)).astype(np.float32) * 0.01
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(N)], schema
    )
    return df, vecs


def _cos_matrix(q, c):
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    return qn @ cn.T


def test_brute_force_topk_matches_numpy(spark, emb):
    df, vecs = emb
    qs = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = brute_force_topk(qs, df, k=10).collect()
    sims = _cos_matrix(vecs[:5].astype(np.float64), vecs.astype(np.float64))
    for qid in range(5):
        order = np.lexsort((np.arange(N), -sims[qid]))[:10]
        got_q = sorted((r for r in got if r["qid"] == qid), key=lambda r: r["rank"])
        assert [r["vec_id"] for r in got_q] == order.tolist()
        for r, oi in zip(got_q, order):
            assert r["sim"] == pytest.approx(sims[qid][oi], rel=1e-6)


def test_brute_force_topk_string_ids(spark, emb):
    """String query/corpus ids pass through with their native type
    (regression: qid was hardcoded LongType + int64 coercion)."""
    df, vecs = emb
    sdf = df.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    qs = df.filter(F.col("vec_id") < 5).select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    got = brute_force_topk(qs, sdf, k=3).collect()
    assert got, "no rows"
    assert all(isinstance(r["qid"], str) and isinstance(r["vec_id"], str) for r in got)
    # rank-1 for q-i is its own vector doc-i (cosine 1.0)
    for r in got:
        if r["rank"] == 1:
            assert r["vec_id"] == "doc-" + r["qid"][2:]
            assert r["sim"] == pytest.approx(1.0)


def test_brute_force_topk_distributed_fallback_row_identical(spark, emb):
    """Above max_collected_queries the operator must switch to the
    distributed pair-join formulation and produce identical rows — the
    driver-collect guard (round-3 verdict item 4)."""
    df, vecs = emb
    qs = df.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    fast = brute_force_topk(qs, df, k=5).collect()
    dist = brute_force_topk(qs, df, k=5, max_collected_queries=10).collect()
    key = lambda r: (r["qid"], r["rank"])
    fast_s, dist_s = sorted(fast, key=key), sorted(dist, key=key)
    assert [tuple(r) for r in fast_s] == [tuple(r) for r in dist_s]


def test_brute_force_topk_distributed_plan_has_no_collect(spark, emb):
    """The large-query path is a real distributed plan: the pair join and
    the two-phase partial-top-k (MapInPandas below the ranking Window)
    both appear in the physical plan."""
    from spatialpandas_spark.plans.inspect import physical_plan

    df, _ = emb
    qs = df.limit(20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = physical_plan(
        brute_force_topk(qs, df, k=5, max_collected_queries=10)
    )
    assert "MapInPandas" in plan
    assert "Window" in plan


def test_lsh_topk_high_recall_on_near_dups(spark, emb):
    df, vecs = emb
    qs = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = lsh_bucket_topk(qs, df, k=3, dim=DIM, bits=16, bands=8).collect()
    # the planted near-duplicate (qid+100) must appear in the LSH top-3
    for qid in range(10):
        ids = {r["vec_id"] for r in got if r["qid"] == qid}
        assert qid + 100 in ids, qid


def test_ivf_topk_high_recall_on_near_dups(spark, emb):
    from spatialpandas_spark.operators.similarity import ivf_topk

    df, vecs = emb
    qs = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ivf_topk(qs, df, k=3, n_centroids=8, n_probe=3).collect()
    # the planted near-duplicate lands in the same (or a probed) bucket
    found = 0
    for qid in range(10):
        ids = {r["vec_id"] for r in got if r["qid"] == qid}
        assert ids, qid
        if qid + 100 in ids:
            found += 1
    assert found >= 8  # high recall; probing 3/8 buckets may miss rarely

    # rank-1 must be the query itself when present (cosine 1.0)
    for qid in range(10):
        top = [r for r in got if r["qid"] == qid and r["rank"] == 1]
        if top and top[0]["vec_id"] == qid:
            assert top[0]["sim"] == pytest.approx(1.0)


def test_embedding_near_dup_pairs_finds_planted(spark, emb):
    df, vecs = emb
    pairs = embedding_near_dup_pairs(df, threshold=0.98, dim=DIM, bits=16, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 100) in got, i
    # and nothing reported below threshold
    for r in pairs.collect():
        assert r["sim"] >= 0.98


def test_multimodal_features_deterministic(spark):
    from spatialpandas_spark.operators.multimodal import attach_media_meta, extract_features

    media = spark.range(10).select(
        F.col("id").alias("media_id"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("payload"),
    )
    f1 = {r["media_id"]: r["feature"] for r in extract_features(attach_media_meta(media)).collect()}
    f2 = {r["media_id"]: r["feature"] for r in extract_features(attach_media_meta(media)).collect()}
    assert f1 == f2
    assert all(len(v) == 32 for v in f1.values())

    with pytest.raises(NotImplementedError):
        extract_features(media, decoder="pillow")


def test_ivf_kmeans_refine_recall_vs_brute_force(spark, emb):
    """k-means-refined IVF must reach >= 80% recall@3 against the exact
    brute-force top-3 (VERDICT round-1 item 9)."""
    from spatialpandas_spark.operators.similarity import ivf_topk

    df, vecs = emb
    qs = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = _cos_matrix(vecs[:10], vecs)
    truth = {q: set(np.argsort(-exact[q])[:3]) for q in range(10)}
    got = ivf_topk(qs, df, k=3, n_centroids=8, n_probe=3, kmeans_iters=2).collect()
    hits = total = 0
    for qid in range(10):
        ids = {r["vec_id"] for r in got if r["qid"] == qid}
        hits += len(ids & truth[qid])
        total += 3
    assert hits / total >= 0.8


def test_ivf_default_kmeans_beats_raw_on_skewed_clusters(spark):
    """The kmeans_iters=2 DEFAULT must deliver recall@5 >= 0.9 at
    n_probe=4/16 on moderately-noisy skew-sized clusters — the regime
    where centroid quality matters (md5 sampling allocates centroids by
    cluster mass; k-means re-balances). Measured in the BASELINE.md
    round-4 IVF recall study: raw 0.832 vs kmeans 0.952 (round-3 verdict
    item 1: recall assertion tightened to the >=0.9 target)."""
    from spatialpandas_spark.operators.similarity import ivf_topk

    sizes = [200, 100, 60, 40, 30, 25, 15, 12, 10, 8]
    rng = np.random.default_rng(7)
    dim = 64
    centers = rng.standard_normal((len(sizes), dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for ci, n in enumerate(sizes):
        for v in centers[ci] + 0.25 * rng.standard_normal((n, dim)):
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    bf = {(r["qid"], r["vec_id"]) for r in brute_force_topk(qs, df, k=5).collect()}

    def recall(kmeans_iters):
        got = {
            (r["qid"], r["vec_id"])
            for r in ivf_topk(
                qs, df, k=5, n_centroids=16, n_probe=4, kmeans_iters=kmeans_iters
            ).collect()
        }
        return len(got & bf) / len(bf)

    refined, raw = recall(2), recall(0)
    assert refined >= 0.9, refined
    assert refined > raw, (refined, raw)


def test_kmeans_refine_returns_unit_dim_centroids(spark, emb):
    from spatialpandas_spark.operators.similarity import _centroids, kmeans_refine

    df, _ = emb
    c0 = _centroids(df, "vec_id", "embedding", 8)
    c1 = kmeans_refine(df, c0, iters=1)
    assert len(c1) == 8 and all(len(c) == DIM for c in c1)
    assert c1 != c0  # refinement actually moved the centroids


def test_resize_images_deterministic_plumbing(spark):
    from spatialpandas_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, b"imagebytes-a"), (2, b"imagebytes-b"), (3, None)],
        "media_id long, payload binary",
    )
    out = resize_images(df, 64, 64).collect()
    rows = {r["media_id"]: r for r in out}
    assert rows[1]["width"] == rows[1]["height"] == 64
    assert rows[3]["payload"] is None
    # deterministic and target-dependent
    again = {r["media_id"]: r for r in resize_images(df, 64, 64).collect()}
    assert bytes(rows[1]["payload"]) == bytes(again[1]["payload"])
    other = {r["media_id"]: r for r in resize_images(df, 32, 32).collect()}
    assert bytes(rows[1]["payload"]) != bytes(other[1]["payload"])
    with pytest.raises(NotImplementedError):
        resize_images(df, 8, 8, decoder="pillow")


def test_sample_frames_explode_shape(spark):
    from pyspark.sql import functions as F

    from spatialpandas_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, b"video-a", 35), (2, b"video-b", 5), (3, None, 99)],
        "media_id long, payload binary, n_frames int",
    )
    out = sample_frames(df, every_n=10, max_frames=8).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_id[1]) == [0, 10, 20, 30]
    assert by_id[2] == [0]
    assert 3 not in by_id  # null payload skipped
    # frames deterministic per (payload, idx)
    f1 = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    f2 = {
        (r["media_id"], r["frame_idx"]): bytes(r["frame"])
        for r in sample_frames(df, every_n=10, max_frames=8).collect()
    }
    assert f1 == f2
