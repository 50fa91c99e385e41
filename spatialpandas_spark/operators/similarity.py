"""Similarity search over embedding columns (``array<float>``).

Two paths, per SURVEY-plus scope:
- ``brute_force_topk``: exact cosine top-k. The query side is broadcast; the
  dot products run as JVM higher-order functions; top-k per query is a
  window over (query, -sim) — at 100 TB this is a single scan of the
  embedding table, no shuffle of the big side until the per-query top-k
  aggregation (which is tiny after map-side pre-ranking).
- ``lsh_bucket_topk``: random-hyperplane LSH — each vector gets a b-bit
  sign signature; candidates share a signature band with the query; exact
  cosine re-ranks candidates. Scales the probe cost sub-linearly; recall is
  tunable via bands.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialpandas_spark.materialize import materialize


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either norm is 0 (division-free guard —
    ANSI-safe)."""
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 65536,
) -> DataFrame:
    """Exact top-k by cosine, two-phase (round-1 verdict: ranking the whole
    corpus per query through ``Window.partitionBy(qid)`` ships every
    corpus row to one task — dead at 100 TB):

    1. the query set is broadcast and cosines are computed JVM-side in the
       scan stage (exact, sequential fold — bit-identical to the SQL
       oracle);
    2. an Arrow ``mapInPandas`` pass reduces each *partition* to its local
       top-k per query (float values pass through untouched), emitting at
       most ``n_partitions * n_queries * k`` rows;
    3. the final ranking window runs over that tiny survivor set only.

    The query side is collected to the driver only when it has at most
    ``max_collected_queries`` rows (checked with a bounded ``limit(n+1)``
    collect, never an unbounded one); above that the operator switches to
    the fully distributed pair-join formulation — same exact semantics,
    no driver materialization — because brute force over a large query
    set is inherently O(|Q| x |C|) and belongs on the cluster, not the
    driver. Query/corpus id columns keep their native types (string ids
    pass through untouched).

    Columns out: (qid, vec_id, sim, rank)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    # null vectors are unrankable: drop them at the DataFrame boundary
    # (cheap JVM filter) instead of making every Arrow kernel tolerate
    # ragged batches — at 100 TB some rows WILL be null
    q_sel = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    ).filter(F.col("__cv").isNotNull())

    # the probe set is small by contract; collecting it lets ONE Arrow pass
    # over the corpus compute all query sims per batch — no q x corpus pair
    # table, no interpreted per-row HOF fold (measured 7.3 s -> ~1 s at
    # 1M x 8, BASELINE.md round-3 ANN crossover). The limit(n+1) bound
    # makes the collect safe: an oversized query side costs one truncated
    # fetch, not a driver OOM.
    qrows = q_sel.limit(max_collected_queries + 1).collect()
    if len(qrows) > max_collected_queries:
        cand = c.crossJoin(q_sel).select("qid", "vec_id", "__qv", "__cv")
        return _topk_rerank(pair_cosine_arrow(cand), k)

    # native dtype (int ids -> int64, string ids -> unicode): numpy infers,
    # no int64 coercion — string query ids sort/compare fine in lexsort
    qids = np.asarray([r["qid"] for r in qrows])
    Q = _stack([r["__qv"] for r in qrows])
    qn = np.sqrt(_seq_pair_dot(Q, Q))

    out_schema = StructType(
        [
            StructField("qid", q_sel.schema["qid"].dataType),
            StructField("vec_id", c.schema["vec_id"].dataType),
            StructField("sim", DoubleType()),
        ]
    )

    def _reduce(q, v, s):
        # keep the k best (sim desc, id asc) per qid, fully vectorized
        idx = np.lexsort((v, -s, q))
        q, v, s = q[idx], v[idx], s[idx]
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        sizes = np.diff(np.r_[starts, len(q)])
        rank = np.arange(len(q)) - np.repeat(starts, sizes)
        keep = rank < k
        return q[keep], v[keep], s[keep]

    def sims_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _stack(pdf["__cv"])
            xn = np.sqrt(_seq_pair_dot(X, X))
            vid = pdf["vec_id"].to_numpy()
            for j in range(len(qids)):
                ok = (xn > 0) & (qn[j] > 0)
                s = np.where(ok, _seq_dot(X, Q[j]) / (xn * qn[j]), 0.0)
                acc.append(
                    _reduce(np.full(len(s), qids[j], dtype=qids.dtype), vid, s)
                )
        if acc:
            q, v, s = (np.concatenate([a[i] for a in acc]) for i in range(3))
            q, v, s = _reduce(q, v, s)
            yield pd.DataFrame({"qid": q, "vec_id": v, "sim": s})

    survivors = c.mapInPandas(sims_topk, out_schema)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _topk_rerank(sims: DataFrame, k: int) -> DataFrame:
    """Two-phase exact top-k over a (qid, vec_id, sim) candidate set: an
    Arrow partial top-k per partition, then the ranking window over the
    tiny survivor set — the same shape brute_force_topk uses, factored
    out so every ANN rerank avoids windowing the full candidate volume
    (n_probe/n_centroids of the corpus per query at IVF scale)."""
    from collections.abc import Iterator

    import pandas as pd

    def _reduce(q, v, s):
        idx = np.lexsort((v, -s, q))
        q, v, s = q[idx], v[idx], s[idx]
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        sizes = np.diff(np.r_[starts, len(q)])
        rank = np.arange(len(q)) - np.repeat(starts, sizes)
        keep = rank < k
        return q[keep], v[keep], s[keep]

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list = []
        for pdf in batches:
            acc.append(
                _reduce(
                    pdf["qid"].to_numpy(),
                    pdf["vec_id"].to_numpy(),
                    pdf["sim"].to_numpy(),
                )
            )
        if acc:
            q, v, s = (np.concatenate([a[i] for a in acc]) for i in range(3))
            q, v, s = _reduce(q, v, s)
            yield pd.DataFrame({"qid": q, "vec_id": v, "sim": s})

    survivors = sims.mapInPandas(partial_topk, sims.schema)
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return survivors.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _seq_dot(X: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
    """Row-wise dot(X, y) with a SEQUENTIAL left-to-right fold over
    dimensions (vectorized across rows) — bit-identical to the Catalyst
    ``aggregate(zip_with(...))`` fold and DuckDB's list_dot_product, which
    is what keeps the Arrow fast path hash-equal to the SQL oracles.
    (np.dot would use BLAS pairwise summation: ~1 ulp different.)"""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for i in range(X.shape[1]):
        acc = acc + X[:, i] * y[i]
    return acc


def _seq_pair_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def _stack(col) -> "np.ndarray":
    return np.asarray([np.asarray(v, dtype=np.float64) for v in col])


def bucket_assign_arrow(
    df: DataFrame, cents: list[list[float]], vec_col: str = "__cv"
) -> DataFrame:
    """Max-cosine centroid assignment as one Arrow pass (adds
    ``__bucket``). The interpreted per-row HOF fold costs
    O(n_centroids x dim) element evaluations per corpus row — measured
    9-14x slower than brute force at 1M vectors (BASELINE.md round 3);
    this kernel does the same math vectorized across each record batch
    while keeping the SEQUENTIAL dim fold, so bucket ids and sims stay
    bit-identical to the Catalyst expression and the SQL oracle
    (ties: np.argmax = first max = array_position(.., array_max))."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(cents, dtype=np.float64)
    cnorms = np.sqrt(_seq_pair_dot(C, C))
    # copy the field list — StructType.add would MUTATE the frame's
    # cached schema and make the input frame claim the output column
    out_schema = StructType(
        list(df.schema.fields) + [StructField("__bucket", IntegerType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _stack(pdf[vec_col])
            xn = np.sqrt(_seq_pair_dot(X, X))
            sims = np.empty((len(pdf), len(C)), dtype=np.float64)
            for j in range(len(C)):
                ok = (xn > 0) & (cnorms[j] > 0)
                sims[:, j] = np.where(
                    ok, _seq_dot(X, C[j]) / (xn * cnorms[j]), 0.0
                )
            out = pdf.copy()
            out["__bucket"] = np.argmax(sims, axis=1).astype("int32")
            yield out

    return df.mapInPandas(run, out_schema)


def within_bucket_pairs_arrow(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "__id",
    vec_col: str = "__cv",
    bucket_col: str = "__bucket",
) -> DataFrame:
    """All within-bucket pairs ``(id_a, id_b, sim)`` with ``id_a < id_b``
    and exact cosine ``sim >= threshold`` — the SemDeDup candidate stage
    as ONE grouped Arrow pass instead of a bucket-keyed self-join.

    Why not the self-join (the round-13 shape): the join ships every
    vector twice through the bucket shuffle and then materializes
    |bucket|^2 candidate ROWS each carrying TWO full vectors (~1 KB/row)
    into the pair-cosine kernel — at sf0.1 that is ~125 MB of Arrow
    traffic to compare 2 MB of vectors, and AQE coalesces the tiny-bytes
    exchange to ONE task, serializing the round's heaviest compute
    (round-14 profile: a single 16 s task). Here each bucket's vectors
    cross the boundary ONCE; candidates are found with a blocked
    normalized gram matrix (BLAS — rows/bytes never materialized), and
    only the surviving pairs are re-evaluated with the canonical
    sequential fold, so every emitted ``sim`` is bit-identical to
    ``pair_cosine_arrow`` and the SQL oracle.

    The gram prefilter keeps ``threshold - 1e-9`` — vastly wider than
    the worst-case BLAS-vs-sequential summation gap for unit vectors
    (~dim * ulp ≈ 1e-14 at dim 64), so no exact-qualifying pair can be
    missed; the exact filter then decides membership (which also makes
    the result independent of the block size — BLAS blocking may move a
    gram entry by an ulp, never past the slack). Memory per task is
    bounded: the group's vectors (|bucket| x dim x 8 B — ~0.5 MB at the
    ~1024 mean cluster size ``semantic.auto_n_clusters`` pins, ~50 MB
    for a 10^5-row hot cluster) plus one ``block x |bucket|`` gram slab
    and its boolean mask, with the block sized to keep the slab at
    ~8 M entries (64 MB float64 + 8 MB bool — round-15 advice fix; the
    old 2^26 budget allowed a 512 MB slab per task). At the mean
    cluster size the block still covers the whole bucket in one pass.
    The |bucket|^2 candidate *volume* is inherent to SemDeDup."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    idt = assigned.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", idt),
            StructField("id_b", idt),
            StructField("sim", DoubleType()),
        ]
    )
    thr = float(threshold)
    pre = thr - 1e-9

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col]
        if n >= 2:
            # id_a < id_b must emerge from the upper triangle: order rows
            # by id (pandas string sort == Spark's UTF8 binary order)
            pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
            ids = pdf[id_col]
            X = _stack(pdf[vec_col])
            norms = np.sqrt(_seq_pair_dot(X, X))
            ok = norms > 0
            Xn = np.where(
                ok[:, None], X / np.where(ok, norms, 1.0)[:, None], 0.0
            )
            blk = max(1, (1 << 23) // n)
            ia_parts, ib_parts = [], []
            for s in range(0, n, blk):
                g = Xn[s : s + blk] @ Xn.T
                ii, jj = np.nonzero(g >= pre)
                ii = ii + s
                keep = jj > ii
                if keep.any():
                    ia_parts.append(ii[keep])
                    ib_parts.append(jj[keep])
            if ia_parts:
                ia = np.concatenate(ia_parts)
                ib = np.concatenate(ib_parts)
                # exact re-evaluation: the same sequential kernel (and the
                # same per-row norm arithmetic) pair_cosine_arrow runs
                na, nb = norms[ia], norms[ib]
                okp = (na > 0) & (nb > 0)
                sim = np.where(
                    okp, _seq_pair_dot(X[ia], X[ib]) / (na * nb), 0.0
                )
                keep = sim >= thr
                if keep.any():
                    return pd.DataFrame(
                        {
                            "id_a": ids.to_numpy()[ia[keep]],
                            "id_b": ids.to_numpy()[ib[keep]],
                            "sim": sim[keep],
                        }
                    )
        return pd.DataFrame(
            {
                "id_a": ids.iloc[:0],
                "id_b": ids.iloc[:0],
                "sim": pd.Series([], dtype="float64"),
            }
        )

    return (
        assigned.select(id_col, vec_col, bucket_col)
        .groupBy(bucket_col)
        .applyInPandas(run, out_schema)
    )


def pair_cosine_arrow(
    df: DataFrame,
    a_col: str = "__qv",
    b_col: str = "__cv",
    keep_cols: tuple[str, str] = ("qid", "vec_id"),
) -> DataFrame:
    """(*keep_cols, cosine(a, b)) as one Arrow pass over candidate pairs
    — same sequential-fold bit-exactness contract as
    ``bucket_assign_arrow``."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [df.schema[c] for c in keep_cols] + [StructField("sim", DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A, B = _stack(pdf[a_col]), _stack(pdf[b_col])
            na = np.sqrt(_seq_pair_dot(A, A))
            nb = np.sqrt(_seq_pair_dot(B, B))
            ok = (na > 0) & (nb > 0)
            sim = np.where(ok, _seq_pair_dot(A, B) / (na * nb), 0.0)
            out = {c: pdf[c] for c in keep_cols}
            out["sim"] = sim
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def rp_signatures_arrow(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "__v",
    out_col: str = "__sig",
) -> DataFrame:
    """Packed random-hyperplane sign signature as one Arrow pass (adds
    ``out_col`` long). Same bit-exactness contract: the per-plane dot is
    the sequential dimension fold, so signs — and therefore signatures
    and band keys — equal the Catalyst ``rp_signature`` expression and
    the SQL oracle's replay."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    P = np.asarray(planes, dtype=np.float64)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _stack(pdf[vec_col])
            sig = np.zeros(len(pdf), dtype=np.int64)
            for b in range(P.shape[0]):
                sig = sig | np.where(
                    _seq_dot(X, P[b]) > 0, np.int64(1) << b, np.int64(0)
                )
            out = pdf.copy()
            out[out_col] = sig
            yield out

    return df.mapInPandas(run, out_schema)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def rp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign signature packed into a long (bits = len(planes),
    must be <= 63)."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(w)) for w in plane]))
        sig = sig.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates agree with the query on at least one
    LSH band (band = bits/bands consecutive signature bits), re-ranked by
    exact cosine. Columns out: (qid, vec_id, sim, rank)."""
    planes = _hyperplanes(dim, bits, seed)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    def band_keys(sig: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(sig, b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for b in range(bands)
            ]
        )

    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull()).withColumn(
        "__bk", F.explode(band_keys(rp_signature(F.col("__qv"), planes)))
    )
    # corpus signatures via the Arrow kernel (bit-identical, see
    # rp_signatures_arrow); the query side is tiny — Catalyst is fine
    c = rp_signatures_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        ).filter(F.col("__cv").isNotNull()),
        planes,
        vec_col="__cv",
    ).withColumn("__bk", F.explode(band_keys(F.col("__sig")))).drop("__sig")

    cand = (
        F.broadcast(q)
        .join(c, "__bk", "inner")
        .dropDuplicates(["qid", "vec_id"])  # a pair can hit several bands
        .select("qid", "vec_id", "__qv", "__cv")
    )
    return _topk_rerank(pair_cosine_arrow(cand), k)


def _centroids(corpus: DataFrame, corpus_id: str, corpus_vec: str, n: int):
    """Deterministic centroid sample: the n corpus vectors with smallest
    md5(id) (hex-string order, reproducible in any engine — the gate oracle
    replicates it in SQL). At 100 TB this is one tiny TakeOrdered job;
    ``kmeans_refine`` can sharpen these without changing the query path."""
    rows = (
        corpus.select(F.col(corpus_id).alias("i"), F.col(corpus_vec).cast("array<double>").alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(n)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[list[float]],
    iters: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of IVF centroids by spherical k-means: assign each
    corpus vector to its max-cosine centroid, recompute centroids as the
    per-bucket mean. Each iteration is one linear scan + a 16-row collect —
    the k-means|| shape that scales to 100 TB (no per-row driver loop; the
    only driver state is the centroid table itself). Empty buckets keep
    their previous centroid."""
    dim = len(centroids[0])
    c = corpus.select(
        F.col(corpus_vec).cast("array<double>").alias("__cv")
    ).filter(F.col("__cv").isNotNull())
    for _ in range(iters):
        assigned = bucket_assign_arrow(c, centroids)
        sums = (
            assigned.groupBy("__bucket")
            .agg(
                *[F.sum(F.get(F.col("__cv"), i)).alias(f"s{i}") for i in range(dim)],
                F.count("*").alias("n"),
            )
            .collect()
        )
        new_cents = list(centroids)
        for row in sums:
            b, n = row["__bucket"], row["n"]
            if n > 0:
                new_cents[b] = [row[f"s{i}"] / n for i in range(dim)]
        centroids = new_cents
    return centroids


def _with_centroids(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Attach the centroid table as ONE broadcast array column (a 1-row
    crossJoin), so per-row centroid math runs via ``F.transform`` over the
    array instead of per-centroid literal expressions — the expression
    tree stays O(1) in n_centroids, lifting the assignment path to
    thousands of centroids."""
    spark = df.sparkSession
    cents_df = spark.createDataFrame(
        [(cents,)], "__cents array<array<double>>"
    )
    return df.crossJoin(F.broadcast(cents_df))


def _centroid_sims(vec: Column) -> Column:
    """array of cosine(vec, centroid) per centroid in ``__cents``."""
    return F.transform(F.col("__cents"), lambda cent: cosine(vec, cent))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 2,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are bucketed
    by nearest centroid; each query probes its ``n_probe`` closest
    centroids and exact-reranks only those buckets. Probe cost scales with
    n_probe/n_centroids of the corpus — the ANN scale path alongside
    ``lsh_bucket_topk``. ``kmeans_iters`` runs spherical-k-means Lloyd
    refinement over the sampled centroids (better-balanced buckets) and
    DEFAULTS ON (2 iterations = 2 extra linear scans at build time);
    pass 0 for raw md5-sampled centroids (deterministic, exactly
    replayable in SQL — the correctness-gate path).

    Recall expectations (measured, BASELINE.md round-4 IVF recall
    study): on data with cluster structure recall@5 is ~1.0 at
    n_probe/n_centroids = 4/16; on ISOTROPIC vectors (no structure, e.g.
    random Gaussians) recall for ANY IVF/partition index is
    information-theoretically bounded near the scan fraction — no centroid quality can beat it; raise n_probe or use
    brute_force_topk. Columns out: (qid, vec_id, sim, rank)."""
    cents = _centroids(corpus, corpus_id, corpus_vec, n_centroids)
    if kmeans_iters > 0:
        cents = kmeans_refine(
            corpus, cents, kmeans_iters, corpus_id, corpus_vec
        )

    # corpus bucketing: Arrow kernel (bit-identical to the Catalyst fold)
    c = bucket_assign_arrow(
        corpus.select(
            F.col(corpus_id).alias("vec_id"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        ).filter(F.col("__cv").isNotNull()),
        cents,
    )

    # query-side probe ranking stays in Catalyst (query set is tiny)
    q = _with_centroids(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        ).filter(F.col("__qv").isNotNull()),
        cents,
    )
    dots_q = _centroid_sims(F.col("__qv"))
    # top n_probe centroid indices: sort (sim, idx) structs descending
    ranked = F.sort_array(
        F.zip_with(
            dots_q,
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        ),
        asc=False,
    )
    probes = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    q = q.withColumn("__bucket", F.explode(probes)).drop("__cents")

    # (qid, vec_id) pairs are unique by construction — each corpus row has
    # exactly one bucket and a query's probe buckets are distinct indices —
    # so no dedup shuffle; rerank is the two-phase partial-top-k shape
    cand = F.broadcast(q).join(c, "__bucket", "inner").select(
        "qid", "vec_id", "__qv", "__cv"
    )
    return _topk_rerank(pair_cosine_arrow(cand), k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) via the same random-hyperplane banding self-join.

    Scale note: expected candidate pairs per band is ~n^2 / 2^(bits/bands),
    so band width must grow with log2(n) — bits=16/bands=4 (4-bit keys)
    suits ~10^4 rows; at 10^8+ use bits>=48 with 8-16 bit bands, which
    keeps the banded join linear-ish while AQE splits residual skew."""
    planes = _hyperplanes(dim, bits, seed)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    # ONE signature pass, materialized (round-14, same fix as the MinHash
    # sibling): self-join branches re-resolve their subtree and the AQE
    # stage cache never matches the Arrow nodes, so without the checkpoint
    # the vector scan + hyperplane pass ran once per branch.
    sd = rp_signatures_arrow(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).filter(F.col("__v").isNotNull()),
        planes,
    ).transform(materialize, eager=False)
    # payload-light banding (guide §8): the band self-join and pair dedup
    # decide WHICH id pairs are candidates, so they carry (id, band key)
    # only; the dim-wide vectors move once, in the attach joins below.
    banded = sd.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("__sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    # hint("merge"): the banded SELF-join must shuffle on the band key,
    # never broadcast — Catalyst happily broadcasts the whole banded
    # corpus when its estimate fits the 10 MB threshold, a plan that
    # cannot exist at real scale and that measured 5-6x slower on the
    # sibling semantic-dedup self-join (round-13 b25 forensics,
    # operators/semantic.py + BASELINE.md)
    cand = (
        l.hint("merge")
        .join(
            r,
            (F.col("l.__bk") == F.col("r.__bk")) & (F.col("l.__id") < F.col("r.__id")),
            "inner",
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # the attach joins carry the same merge pin: their build side would be
    # the corpus-sized vector table whose post-Arrow size estimate is the
    # one round-13 proved unreliable — a broadcast here cannot exist at
    # real scale
    pairs = cand.hint("merge").join(
        sd.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")),
        "id_a",
    ).hint("merge").join(
        sd.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")),
        "id_b",
    )
    sims = pair_cosine_arrow(
        pairs, a_col="__va", b_col="__vb", keep_cols=("id_a", "id_b")
    )
    return sims.filter(F.col("sim") >= threshold)
