"""The shared two-phase top-k skeleton of the vector scans
(operators/similarity.py): every operator that collects a bounded query
side and forks to a distributed path behaves alike on both sides of the
fork.

- A query whose dim differs from the corpus/codec dim raises a
  ``ValueError`` naming both dims, on the collected path and on the
  distributed one (``max_collected_queries=0`` forces the second).
- An all-null query side returns the empty ``(qid, vec_id, sim, rank)``
  frame with its declared types.
- The Spark jobs each path launches, at call time and at ``collect()``,
  stay pinned.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.pq import pq_encode, pq_topk, train_pq
from spatialpandas_spark.operators.similarity import brute_force_topk
from spatialpandas_spark.operators.similarity_index import (
    build_ivfpq_index,
    build_ivfsq8_index,
    query_ivfpq_index,
    query_ivfsq8_index,
)
from spatialpandas_spark.operators.sq import sq8_encode, sq8_topk, train_sq8

DIM, N, NQ = 8, 200, 20


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    rng = np.random.default_rng(17)
    X = rng.standard_normal((N, DIM))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).cache()
    corpus.count()
    books = train_pq(corpus, m_sub=4, n_codes=8, iters=3)
    pq_codes = pq_encode(corpus, books).cache()
    params = train_sq8(corpus)
    sq_codes = sq8_encode(corpus, params).cache()
    pq_codes.count(), sq_codes.count()
    root = tmp_path_factory.mktemp("topk")
    pq_path, sq_path = str(root / "ivfpq"), str(root / "ivfsq8")
    build_ivfpq_index(
        corpus, pq_path, n_centroids=4, kmeans_iters=0, m_sub=4, n_codes=8,
        store_vectors=True,
    )
    build_ivfsq8_index(
        corpus, sq_path, n_centroids=4, kmeans_iters=0, store_vectors=True
    )
    yield {
        "spark": spark, "corpus": corpus, "books": books, "params": params,
        "pq_codes": pq_codes, "sq_codes": sq_codes,
        "pq_path": pq_path, "sq_path": sq_path,
    }
    for df in (corpus, pq_codes, sq_codes):
        df.unpersist()


def _queries(spark, rows):
    return spark.createDataFrame(rows, "qid long, qvec array<double>")


def _run(op, fx, qs, mcq):
    kw = {} if mcq is None else {"max_collected_queries": mcq}
    spark = fx["spark"]
    if op == "brute_force_topk":
        return brute_force_topk(qs, fx["corpus"], k=3, **kw)
    if op == "pq_topk":
        return pq_topk(
            qs, fx["pq_codes"], fx["books"], k=3, rerank=fx["corpus"], **kw
        )
    if op == "sq8_topk":
        return sq8_topk(qs, fx["sq_codes"], fx["params"], k=3, **kw)
    if op == "query_ivfpq_index":
        return query_ivfpq_index(
            spark, fx["pq_path"], qs, k=3, n_probe=2, rerank="stored", **kw
        )
    return query_ivfsq8_index(
        spark, fx["sq_path"], qs, k=3, n_probe=2, rerank="stored", **kw
    )


OPS = [
    "brute_force_topk",
    "pq_topk",
    "sq8_topk",
    "query_ivfpq_index",
    "query_ivfsq8_index",
]
PATHS = {"collected": None, "distributed": 0}


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("op", OPS)
def test_query_dim_mismatch_raises_on_both_paths(fx, op, path):
    """A 16-dim query against 8-dim vectors raises a ValueError naming
    both dims, whichever side of the fork runs. Its first 8 dims equal
    corpus row 3, so a scan of the prefix would find a plausible match:
    the parent's brute_force_topk returned row 3 on its collected path
    and pq_topk scored the prefix on both paths."""
    v = fx["corpus"].filter(F.col("vec_id") == 3).first()["embedding"]
    wide = _queries(fx["spark"], [(0, list(v) + [0.5] * DIM)])
    with pytest.raises(Exception) as ei:
        _run(op, fx, wide, PATHS[path]).collect()
    msg = f"{type(ei.value).__name__}: {ei.value}"
    assert re.search(r"ValueError: query vector dim 16 != \w+ dim 8", msg), msg


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("op", OPS)
def test_all_null_query_side_returns_empty_frame(fx, op, path):
    none = _queries(fx["spark"], [(1, None), (2, None)])
    out = _run(op, fx, none, PATHS[path])
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("qid", "bigint"),
        ("vec_id", "bigint"),
        ("sim", "double"),
        ("rank", "int"),
    ]
    assert out.collect() == []


# (call-time jobs, collect() jobs) per operator and path, measured on
# the parent of the skeleton refactor with this fixture (local[8],
# warm second call)
JOBS = {
    ("brute_force_topk", "collected"): (3, 2),
    ("brute_force_topk", "distributed"): (1, 3),
    ("pq_topk", "collected"): (3, 4),
    ("pq_topk", "distributed"): (1, 5),
    ("sq8_topk", "collected"): (3, 2),
    ("sq8_topk", "distributed"): (1, 3),
    ("query_ivfpq_index", "collected"): (4, 4),
    ("query_ivfpq_index", "distributed"): (5, 5),
    ("query_ivfsq8_index", "collected"): (4, 4),
    ("query_ivfsq8_index", "distributed"): (5, 6),
}


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("op", OPS)
def test_jobs_per_call_and_collect_pinned(fx, op, path):
    """Jobs launched by the call (query collect, probe pins, bucket
    collect) and by ``collect()``, on a warm second call. The counts
    were taken before the operators shared one skeleton; the refactor
    keeps every job."""
    spark = fx["spark"]
    sc = spark.sparkContext
    qs = fx["corpus"].filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    _run(op, fx, qs, PATHS[path]).collect()  # warm: caches, listings
    tag = f"topk-jobs-{op}-{path}"
    out, n_call = _jobs(sc, tag + "-call", lambda: _run(op, fx, qs, PATHS[path]))
    rows, n_collect = _jobs(sc, tag + "-collect", out.collect)
    assert len(rows) == 3 * NQ
    assert (n_call, n_collect) == JOBS[(op, path)]
