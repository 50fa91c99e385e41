"""Persistent IVF index: build once, query many — the production ANN shape.

``ivf_topk`` (operators/similarity.py) recomputes centroid assignments on
every call; real serving workloads amortize that: ``build_ivf_index``
writes the corpus parquet **partitioned by bucket id** (one directory per
IVF bucket) with the centroid table as a JSON sidecar, and
``query_ivf_index`` probes only the n_probe bucket directories its
queries need — Spark's partition pruning turns the probe into a scan of
n_probe/n_centroids of the data, verifiable in the plan's
``PartitionFilters``. This is the same stats-driven-pruning philosophy as
the spatial manifest (SURVEY §2.9): the "index" is layout + metadata, not
a server-side structure.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatialpandas_spark.operators.similarity import (
    _centroids,
    _centroid_sims,
    _ivf_code_topk,
    _topk_rerank,
    _with_centroids,
    bucket_assign_arrow,
    kmeans_refine,
    pair_cosine_arrow,
)

_SIDECAR = "_ivf_centroids.json"


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[float]]:
    """Assign every corpus vector to its max-cosine centroid and write
    ``path`` partitioned by ``bucket``; centroids go to a JSON sidecar.
    Returns the centroid table. One corpus scan + one partitioned write.
    ``kmeans_iters=2`` (default) spends two extra build-time scans on
    spherical-k-means centroid refinement — the quality default; pass 0
    for the deterministic md5-sample path (exact SQL twin, used by the
    correctness gate). See ``ivf_topk`` for measured recall expectations
    on clustered vs isotropic data."""
    cents = _centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if kmeans_iters > 0:
        cents = kmeans_refine(corpus, cents, kmeans_iters, corpus_id, corpus_vec)

    # null vectors are unindexable — drop at the boundary (documented)
    assigned = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        cents,
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    # one file per bucket dir (same small-files lesson as the dedup
    # index): without this, every writing task emits a sliver into every
    # bucket dir and the probe pays per-file open cost 32x over. Row
    # groups keep single files splittable for big buckets at scale.
    assigned.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)

    # sidecar AFTER the data write so a readable index is always complete;
    # pyarrow-fs layer so object-store index paths work (S6)
    from spatialpandas_spark.sources import fs as _fs

    _fs.write_text(
        f"{path.rstrip('/')}/{_SIDECAR}", json.dumps({"centroids": cents})
    )
    return cents


def load_ivf_centroids(path: str, filesystem=None) -> list[list[float]]:
    from spatialpandas_spark.sources import fs as _fs

    return json.loads(
        _fs.read_text(f"{path.rstrip('/')}/{_SIDECAR}", filesystem=filesystem)
    )["centroids"]


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
) -> DataFrame:
    """Top-k by cosine over the union of each query's ``n_probe`` closest
    buckets. The bucket filter is a plain equality on the partition
    column, so Spark prunes unprobed directories at planning time.
    Columns out: (qid, vec_id, sim, rank)."""
    cents = load_ivf_centroids(path)
    q = _with_centroids(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        ).filter(F.col("__qv").isNotNull()),
        cents,
    )
    sims = _centroid_sims(F.col("__qv"))
    ranked = F.sort_array(
        F.zip_with(
            sims,
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        ),
        asc=False,
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    q = q.withColumn("bucket", F.explode(probes)).drop("__cents")

    idx = spark.read.parquet(path)
    # pairs unique by construction (one bucket per indexed vector,
    # distinct probe buckets per query) — no dedup shuffle; Arrow pair
    # cosine + two-phase partial-top-k rerank
    cand = F.broadcast(q).join(idx, "bucket").select(
        "qid", "vec_id", "__qv", F.col("vec").alias("__cv")
    )
    return _topk_rerank(pair_cosine_arrow(cand), k)


# ------------------------------------------------------------- IVF-PQ index
# The composition of the two ANN scale levers (the IVFADC design of
# Jégou, Douze & Schmid, TPAMI 2011, minus the residual encoding — codes
# quantize the normalized vector directly so they are shared with the
# flat-PQ path and the exact-reconstruction tests): IVF partition
# pruning bounds WHICH bytes a probe reads (n_probe/n_centroids of the
# corpus), PQ bounds HOW MANY bytes per row (m_sub instead of 4*dim).
# A probe of a 100 TB corpus at defaults reads 25% of 1/32 of the data:
# ~0.8% of the raw bytes, before any rerank.

_PQ_SIDECAR = "_ivfpq.json"


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    m_sub: int = 8,
    n_codes: int = 256,
    sample_n: int = 4096,
    pq_iters: int = 8,
    store_vectors: bool = False,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> dict:
    """Build a persistent IVF-PQ index: bucket assignment (spherical
    k-means centroids) + PQ codes, written partitioned by ``bucket``;
    centroids AND codebooks go to one JSON sidecar (written after the
    data so a readable index is always complete). ``store_vectors=True``
    also persists the float vectors for self-contained exact rerank —
    at scale leave it False and rerank against the source table.
    Returns the sidecar dict."""
    from spatialpandas_spark.operators.pq import pq_encode, train_pq

    cents = _centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if kmeans_iters > 0:
        cents = kmeans_refine(corpus, cents, kmeans_iters, corpus_id, corpus_vec)
    books = train_pq(
        corpus, m_sub=m_sub, n_codes=n_codes, sample_n=sample_n,
        iters=pq_iters, corpus_id=corpus_id, corpus_vec=corpus_vec,
    )

    assigned = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        cents,
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    codes = pq_encode(corpus, books, corpus_id=corpus_id, corpus_vec=corpus_vec)
    cols = ["vec_id", "bucket", "code"] + (["vec"] if store_vectors else [])
    joined = assigned.join(codes, "vec_id").select(*cols)
    # one file per bucket dir — see build_ivf_index's small-files note
    joined.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)

    from spatialpandas_spark.sources import fs as _fs

    meta = {
        "centroids": cents,
        "codebooks": books,
        "m_sub": m_sub,
        "store_vectors": store_vectors,
    }
    _fs.write_text(f"{path.rstrip('/')}/{_PQ_SIDECAR}", json.dumps(meta))
    return meta


def load_ivfpq_meta(path: str, filesystem=None) -> dict:
    from spatialpandas_spark.sources import fs as _fs

    return json.loads(
        _fs.read_text(f"{path.rstrip('/')}/{_PQ_SIDECAR}", filesystem=filesystem)
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank=None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """Probe an IVF-PQ index: per query, rank centroids, STATICALLY
    filter the scan to the union of probe buckets (the probe set is
    known driver-side, so pruning is a planning-time partition filter —
    same discipline as the dedup index, no reliance on DPP), ADC-score
    only the 8-byte codes in those buckets, and keep each query's
    scores to its own probed buckets. ``rerank`` is ``None`` (ADC sims
    out), a corpus DataFrame (exact-cosine rerank join against the
    source table — the at-scale shape), or ``"stored"`` (rerank against
    vectors persisted with ``store_vectors=True``). Above
    ``max_collected_queries`` the probe degrades to the distributed
    formulation of ``similarity._ivf_code_topk`` instead of raising.
    Columns out: (qid, vec_id, sim, rank)."""
    import numpy as np

    from spatialpandas_spark.operators.pq import _l2_normalize, _pq_codec

    meta = load_ivfpq_meta(path)
    cn = _l2_normalize(np.asarray(meta["centroids"], dtype=np.float64))

    def rank_probes(Q, n):
        # cosine == dot of normalized pairs; the stable argsort breaks
        # ties to the LOWER centroid index
        return np.argsort(-(_l2_normalize(Q) @ cn.T), axis=1, kind="stable")[:, :n]

    return _ivf_code_topk(
        spark, path, meta, "build_ivfpq_index", _pq_codec(meta["codebooks"]),
        rank_probes, queries, k, n_probe, rerank, rerank_factor, query_id,
        query_vec, corpus_id, corpus_vec, max_collected_queries,
    )


def append_to_ivfpq_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Append new vectors to an existing IVF-PQ index under its PINNED
    centroids and codebooks (one scan + one partitioned append; the
    sidecar is untouched, so readers never see a half-updated model).
    Quantization quality for appended data follows the training-time
    distribution — under real drift, rebuild to re-train; the
    ``pq_reconstruct_error`` diagnostic over the appended slice is the
    cheap drift check."""
    from spatialpandas_spark.operators.pq import pq_encode

    meta = load_ivfpq_meta(path)
    assigned = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        meta["centroids"],
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    codes = pq_encode(
        corpus, meta["codebooks"], corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    cols = ["vec_id", "bucket", "code"] + (
        ["vec"] if meta.get("store_vectors") else []
    )
    # one file per bucket dir PER APPEND (small-files note in
    # build_ivf_index); heavy append churn is what compact_spatial_parquet
    # exists for
    assigned.join(codes, "vec_id").select(*cols).repartition(
        "bucket"
    ).write.mode("append").partitionBy("bucket").parquet(path)


# ------------------------------------------------------------ IVF-SQ8 index
# The production middle ground on the quantized-index curve: IVF
# partition pruning bounds WHICH bytes a probe reads (n_probe/n_centroids
# of the corpus, same as the float and PQ indexes), SQ8 bounds HOW MANY
# bytes per row — dim int8 codes instead of 8*dim float64 (8x) or
# 4*dim float32 (4x), with near-float recall because ADC dequantizes
# against the full-precision query (operators/sq.py). Same layout
# contract as the siblings: bucket-partitioned parquet + one JSON
# sidecar holding centroids AND the SQ8 params, written after the data
# so a readable index is always complete.

_SQ_SIDECAR = "_ivfsq8.json"


def build_ivfsq8_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    store_vectors: bool = False,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> dict:
    """Build a persistent IVF-SQ8 index: spherical-k-means bucket
    assignment + per-dimension int8 scalar quantization (GLOBAL lo/hi —
    one corpus scan, 2·dim floats of model state), written partitioned
    by ``bucket``. ``kmeans_iters=0`` pins the deterministic md5-sample
    centroids (the exact SQL twin the correctness gate replays).
    ``store_vectors=True`` also persists the float vectors for
    self-contained exact rerank — at scale leave False and rerank
    against the source table. Returns the sidecar dict."""
    from spatialpandas_spark.operators.sq import sq8_encode, train_sq8

    cents = _centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if kmeans_iters > 0:
        cents = kmeans_refine(corpus, cents, kmeans_iters, corpus_id, corpus_vec)
    params = train_sq8(corpus, corpus_vec=corpus_vec)

    assigned = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        cents,
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    codes = sq8_encode(corpus, params, corpus_id=corpus_id, corpus_vec=corpus_vec)
    cols = ["vec_id", "bucket", "code"] + (["vec"] if store_vectors else [])
    joined = assigned.join(codes, "vec_id").select(*cols)
    # one file per bucket dir — see build_ivf_index's small-files note
    joined.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)

    from spatialpandas_spark.sources import fs as _fs

    meta = {
        "centroids": cents,
        # repr round-trip: exact IEEE doubles in the sidecar (save_sq8's
        # convention), so re-probing loads the EXACT quantizer
        "sq8": {
            "dim": int(params["dim"]),
            "lo": [repr(float(x)) for x in params["lo"]],
            "hi": [repr(float(x)) for x in params["hi"]],
        },
        "store_vectors": store_vectors,
    }
    _fs.write_text(f"{path.rstrip('/')}/{_SQ_SIDECAR}", json.dumps(meta))
    meta["sq8"] = {
        "dim": int(params["dim"]),
        "lo": [float(x) for x in params["lo"]],
        "hi": [float(x) for x in params["hi"]],
    }
    return meta


def load_ivfsq8_meta(path: str, filesystem=None) -> dict:
    from spatialpandas_spark.sources import fs as _fs

    d = json.loads(
        _fs.read_text(f"{path.rstrip('/')}/{_SQ_SIDECAR}", filesystem=filesystem)
    )
    d["sq8"] = {
        "dim": int(d["sq8"]["dim"]),
        "lo": [float(x) for x in d["sq8"]["lo"]],
        "hi": [float(x) for x in d["sq8"]["hi"]],
    }
    return d


def _rank_probes_seq(Q, C, n_probe: int):
    """(n_queries, n_probe) centroid indices by raw cosine DESC with
    ties to the HIGHER index — the probe contract of
    ``query_ivf_index``'s ``sort_array(desc)`` over (sim, index)
    structs and of the gate's ``ORDER BY cos DESC, ci DESC`` replay.
    Cosines use the sequential-fold dot and the
    ``dot / (sqrt(qq) * sqrt(cc))`` op order of the SQL ``cos()`` macro
    — bit-identical, so probe sets can't diverge on near-ties."""
    import numpy as np

    from spatialpandas_spark.operators.similarity import (
        _seq_dot,
        _seq_pair_dot,
    )

    qn = np.sqrt(_seq_pair_dot(Q, Q))
    cn = np.sqrt(_seq_pair_dot(C, C))
    sims = np.empty((Q.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[0]):
        ok = (qn > 0) & (cn[j] > 0)
        sims[:, j] = np.where(ok, _seq_dot(Q, C[j]) / (qn * cn[j]), 0.0)
    # stable argsort over the column-REVERSED matrix: ties keep the
    # lower reversed index = the HIGHER original index first
    order_rev = np.argsort(-sims[:, ::-1], axis=1, kind="stable")[:, :n_probe]
    return (C.shape[0] - 1) - order_rev


def query_ivfsq8_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank=None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """Probe an IVF-SQ8 index: rank centroids per query (driver-side —
    the probed-bucket union becomes a STATIC planning-time partition
    filter, the dedup-index discipline), dequantize-and-score only the
    int8 codes in those buckets (ADC, sequential dim fold — the exact
    arithmetic of ``sq8_topk``), two-phase top-k. ``rerank`` is ``None``
    (ADC sims out), a corpus DataFrame (exact-cosine rerank against the
    source table — the at-scale shape), or ``"stored"`` (vectors
    persisted with ``store_vectors=True``). Above
    ``max_collected_queries`` the probe degrades to the distributed
    formulation of ``similarity._ivf_code_topk`` instead of raising.
    On both paths the rerank joins the global top-``k * rerank_factor``
    candidates per query. Columns out: (qid, vec_id, sim, rank)."""
    import numpy as np

    from spatialpandas_spark.operators.sq import _sq8_codec

    meta = load_ivfsq8_meta(path)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    return _ivf_code_topk(
        spark, path, meta, "build_ivfsq8_index", _sq8_codec(meta["sq8"]),
        lambda Q, n: _rank_probes_seq(Q, cents, n), queries, k, n_probe,
        rerank, rerank_factor, query_id, query_vec, corpus_id, corpus_vec,
        max_collected_queries,
    )


def append_to_ivfsq8_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Append new vectors under the index's PINNED centroids and SQ8
    params (one scan + one partitioned append; sidecar untouched, so
    readers never see a half-updated model). Under real distribution
    drift the dequantization error of appended rows grows — rebuild to
    retrain, as with the PQ index."""
    from spatialpandas_spark.operators.sq import sq8_encode

    meta = load_ivfsq8_meta(path)
    assigned = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("vec"),
        ).filter(F.col("vec").isNotNull()),
        meta["centroids"],
        vec_col="vec",
    ).withColumnRenamed("__bucket", "bucket")
    codes = sq8_encode(
        corpus, meta["sq8"], corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    cols = ["vec_id", "bucket", "code"] + (
        ["vec"] if meta.get("store_vectors") else []
    )
    assigned.join(codes, "vec_id").select(*cols).repartition(
        "bucket"
    ).write.mode("append").partitionBy("bucket").parquet(path)


def compact_vector_index(
    spark: SparkSession, path: str, min_files: int | None = None
) -> int | None:
    """Repack an append-churned vector index (IVF or IVF-PQ) back to one
    file per bucket directory — every ``append_to_ivfpq_index`` adds one
    file per touched bucket, and probe cost grows with file count (the
    small-files note on ``build_ivf_index``).

    Same safe-swap discipline as ``compact_spatial_parquet``: write the
    repacked layout NEXT TO the live one, copy the model sidecar so the
    staged directory is complete, verify row-count equality (parquet
    footers, no Spark job), then move it over the old directory. Returns
    the new data-file count, or None when the index already has <=
    ``min_files`` files (default: one per existing bucket, i.e. already
    compact)."""
    from spatialpandas_spark.sources import fs as _fs

    base = path.rstrip("/")
    files = _fs.list_files(base, ".parquet", recursive=True)
    df = spark.read.parquet(base)
    buckets = df.select("bucket").distinct().count()
    if min_files is None:
        min_files = buckets
    if len(files) <= min_files:
        return None
    n_before = _fs.parquet_num_rows(base)
    tmp = f"{base}.compact.tmp"
    df.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(tmp)
    for sidecar in (_SIDECAR, _PQ_SIDECAR, _SQ_SIDECAR):
        try:
            _fs.write_text(
                f"{tmp}/{sidecar}", _fs.read_text(f"{base}/{sidecar}")
            )
        except (FileNotFoundError, OSError):
            continue
    n_after = _fs.parquet_num_rows(tmp)
    if n_after != n_before:
        raise RuntimeError(
            f"index compaction row-count mismatch ({n_before} -> {n_after});"
            f" repacked copy left at {tmp}, live index untouched"
        )
    _fs.replace_dir(tmp, base)
    return len(_fs.list_files(base, ".parquet", recursive=True))
