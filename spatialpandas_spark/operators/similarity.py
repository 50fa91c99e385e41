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

from collections.abc import Callable
from typing import NamedTuple

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

    1. the query set is collected and cosines are computed in one Arrow
       pass over the corpus (exact, sequential fold — bit-identical to
       the SQL oracle);
    2. that pass reduces each *partition* to its local top-k per query
       (float values pass through untouched), emitting at most
       ``n_partitions * n_queries * k`` rows;
    3. the final ranking window runs over that tiny survivor set only.

    The query side is collected to the driver only when it has at most
    ``max_collected_queries`` rows (:func:`_vector_topk`'s bounded
    collect); above that the operator switches to the fully distributed
    pair-join formulation — same exact semantics, no driver
    materialization — because brute force over a large query set is
    inherently O(|Q| x |C|) and belongs on the cluster, not the driver.
    A query whose dim differs from the corpus dim raises ``ValueError``
    on either path. Query/corpus id columns keep their native types
    (string ids pass through untouched).

    Columns out: (qid, vec_id, sim, rank)."""
    # null vectors are unrankable: drop them at the DataFrame boundary
    # (cheap JVM filter) instead of making every Arrow kernel tolerate
    # ragged batches — at 100 TB some rows WILL be null
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    ).filter(F.col("__cv").isNotNull())

    # the probe set is small by contract; collecting it lets ONE Arrow pass
    # over the corpus compute all query sims per batch — no q x corpus pair
    # table, no interpreted per-row HOF fold (measured 7.3 s -> ~1 s at
    # 1M x 8, BASELINE.md round-3 ANN crossover)
    def collected(q_sel, qids, Q, schema):
        qn = np.sqrt(_seq_pair_dot(Q, Q))

        def sims(pdf):
            if len(pdf) == 0:
                return
            X = _stack(pdf["__cv"])
            if X.shape[1] != Q.shape[1]:
                raise ValueError(
                    f"query vector dim {Q.shape[1]} != corpus dim {X.shape[1]}"
                )
            xn = np.sqrt(_seq_pair_dot(X, X))
            vid = pdf["vec_id"].to_numpy()
            for j in range(len(qids)):
                ok = (xn > 0) & (qn[j] > 0)
                s = np.where(ok, _seq_dot(X, Q[j]) / (xn * qn[j]), 0.0)
                yield np.full(len(s), j), vid, s

        return _rank(_scan_topk(c, sims, k, schema, qids), k)

    def distributed(q_sel, schema):
        cand = c.crossJoin(q_sel).select("qid", "vec_id", "__qv", "__cv")
        return _topk_rerank(pair_cosine_arrow(cand), k)

    return _vector_topk(
        queries, query_id, query_vec, max_collected_queries,
        c.schema["vec_id"].dataType, collected, distributed,
    )


# ------------------------------------------------------ two-phase top-k
# Every vector top-k here runs one skeleton. Phase 1 is one Arrow pass
# that reduces each partition to its per-query top-n (:func:`_scan_topk`
# over :func:`_group_topk`); phase 2 ranks only that survivor set with
# one window (:func:`_rank`). :func:`_vector_topk` owns the query side
# and its collect-or-distribute fork, :func:`_rerank_vectors` and
# :func:`_finish_topk` the optional exact rerank of one global
# candidate pool (the ``_rank`` window cut), and
# :func:`_ivf_code_topk` the IVF probe of both quantized codecs. A
# codec (``pq._pq_codec``, ``sq._sq8_codec``) supplies only its scoring.

#: forced candidate-broadcast budget for the exact-rerank joins (guide
#: §3.1: a few hundred MB broadcast is fine, multiple GB is a driver
#: hazard, 8 GB is the hard cap)
_CAND_BROADCAST_CAP = 256 << 20


class _Codec(NamedTuple):
    """The scoring a quantized code column plugs into the skeleton.

    ``scorer(Q)`` takes the collected raw query matrix and returns
    ``score(codes, qs)``: the ``(len(qs), len(codes))`` sims of the
    queries ``qs`` (row indices of ``Q``) against a Series of codes.
    ``pair_score(pdf)`` scores a batch of (qid, __qv, vec_id, code)
    pair rows, one sim per row, with the same arithmetic per (query,
    code) pair. ``dim`` is the query dim the codes were built for."""

    dim: int
    scorer: Callable
    pair_score: Callable


def _check_dim(vecs, dim: int) -> None:
    """Raise when a query vector's length is not the codec's ``dim``: a
    longer one would otherwise score a truncated prefix."""
    bad = next((len(v) for v in vecs if len(v) != dim), None)
    if bad is not None:
        raise ValueError(f"query vector dim {bad} != codec dim {dim}")


def _group_topk(q, v, s, n: int):
    """Keep the ``n`` best (sim desc, id asc) rows per query id, fully
    vectorized — THE one reducer of every two-phase top-k path. One
    definition so tie-break/rank semantics cannot silently diverge
    between paths whose bit-for-bit equivalence the tests pin."""
    idx = np.lexsort((v, -s, q))
    q, v, s = q[idx], v[idx], s[idx]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    sizes = np.diff(np.r_[starts, len(q)])
    rank = np.arange(len(q)) - np.repeat(starts, sizes)
    keep = rank < n
    return q[keep], v[keep], s[keep]


def _scan_topk(df: DataFrame, triples, n: int, schema, qids=None) -> DataFrame:
    """Phase 1: one Arrow pass over ``df``. ``triples(pdf)`` yields
    ``(q, vec_id, sim)`` arrays per batch; each is cut to its per-query
    top-``n`` and the partition's union cut again, so at most
    ``n_queries * n`` rows leave a partition. With ``qids``, ``q``
    holds row indices into it and the output carries the ids."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = [_group_topk(*t, n) for pdf in batches for t in triples(pdf)]
        if acc:
            q, v, s = _group_topk(*(np.concatenate(a) for a in zip(*acc)), n)
            yield pd.DataFrame(
                {"qid": q if qids is None else qids[q], "vec_id": v, "sim": s}
            )

    return df.mapInPandas(run, schema)


def _rank(survivors: DataFrame, n: int) -> DataFrame:
    """Phase 2: the one ranking window, (sim desc, vec_id asc) per
    query, run over the phase-1 survivors only."""
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return survivors.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n
    )


def _topk_rerank(sims: DataFrame, k: int) -> DataFrame:
    """Two-phase exact top-k over a (qid, vec_id, sim) candidate set:
    every ANN rerank avoids windowing the full candidate volume
    (n_probe/n_centroids of the corpus per query at IVF scale)."""

    def triples(pdf):
        yield (
            pdf["qid"].to_numpy(),
            pdf["vec_id"].to_numpy(),
            pdf["sim"].to_numpy(),
        )

    return _rank(_scan_topk(sims, triples, k, sims.schema), k)


def _vector_topk(
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    max_collected_queries: int,
    vec_id_type,
    collected,
    distributed,
    dim: int | None = None,
) -> DataFrame:
    """The query side of every vector top-k, and its one fork.

    Selects (qid, __qv) with null vectors dropped, then collects at most
    ``max_collected_queries + 1`` rows: a bounded fetch, so an oversized
    query side costs one truncated fetch, not a driver OOM. Above the
    bound it returns ``distributed(q_sel, schema)``; an empty query side
    returns the empty (qid, vec_id, sim, rank) frame; otherwise, after
    checking each query's dim against ``dim`` when the caller knows it,
    ``collected(q_sel, qids, Q, schema)`` with the collected ids and the
    raw float64 query matrix. ``schema`` is the (qid, vec_id, sim)
    candidate schema both paths emit."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_sel = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull())
    schema = StructType(
        [
            StructField("qid", q_sel.schema["qid"].dataType),
            StructField("vec_id", vec_id_type),
            StructField("sim", DoubleType()),
        ]
    )
    rows = q_sel.limit(max_collected_queries + 1).collect()
    if len(rows) > max_collected_queries:
        return distributed(q_sel, schema)
    if not rows:
        return q_sel.sparkSession.createDataFrame([], schema).withColumn(
            "rank", F.lit(1).cast("int")
        )
    vecs = [r["__qv"] for r in rows]
    if dim is not None:
        _check_dim(vecs, dim)
    # native dtype (int ids -> int64, string ids -> unicode): numpy
    # infers, no int64 coercion
    qids = np.asarray([r["qid"] for r in rows])
    return collected(q_sel, qids, _stack(vecs), schema)


def _rerank_vectors(
    rerank, corpus_id: str, corpus_vec: str, stored=None, build: str = ""
):
    """The ``(vec_id, __cv)`` frame an exact rerank joins, from a
    ``rerank`` argument: ``None`` (no rerank: ADC sims out), a corpus
    DataFrame, or ``"stored"`` — the ``vec`` column of ``stored``, the
    probed index of an index built by ``build(store_vectors=True)``."""
    if rerank is None:
        return None
    if isinstance(rerank, str):
        if rerank != "stored":
            raise ValueError(f"unknown rerank mode {rerank!r}")
        if stored is None:
            raise ValueError(
                f"rerank='stored' requires {build}(store_vectors=True)"
            )
        return stored.select("vec_id", F.col("vec").alias("__cv"))
    return rerank.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    )


def _finish_topk(
    cand: DataFrame, k: int, q_sel: DataFrame, cv, n_cand: int, bound=None
) -> DataFrame:
    """Phase 2 of a code scan: rank the ADC candidates, or, with the
    rerank vectors ``cv``, cut them to the global top-``n_cand`` per
    query, join that pool back to the float query and corpus vectors
    and rank by exact cosine — ``sim`` out is exact and only the
    candidate CHOICE is approximate (the IVFADC refinement step). The
    pool is the same on every path and at every partition layout of
    the scan: a distributed top-k is exact only when the candidates are
    merged globally before the cut.

    On the collected path ``bound`` is ``(n_queries, dim)``, so the
    pool's size is known at construction time (round-15 advice fix: a
    forced ``F.broadcast`` bypasses the planner's size checks). When
    ``n_queries x n_cand`` rows of query vector and ids fit
    ``_CAND_BROADCAST_CAP``, the pool is broadcast and the float corpus
    streams through a broadcast hash join instead of being shuffled
    (round-14 b20 profile: the old plan shuffle-wrote the entire cached
    vector corpus to equi-join a few hundred rows). Otherwise, and on
    the distributed path (no ``bound``: the query side is large by
    definition), plain joins sized by the planner."""
    if cv is None:
        return _topk_rerank(cand, k)
    ids = _rank(cand, n_cand).select("qid", "vec_id")
    broadcast = False
    if bound is not None:
        n_queries, dim = bound
        # query vector + ids per pool row
        broadcast = n_queries * n_cand * (dim * 8 + 48) <= _CAND_BROADCAST_CAP
    if broadcast:
        with_q = F.broadcast(ids.join(F.broadcast(q_sel), "qid"))
    else:
        with_q = ids.join(q_sel, "qid")
    pairs = with_q.join(cv, "vec_id").select("qid", "vec_id", "__qv", "__cv")
    return _topk_rerank(pair_cosine_arrow(pairs), k)


def _code_scan(
    cds: DataFrame, score, qids, n: int, schema, probes_by_bucket=None
) -> DataFrame:
    """Phase 1 of a collected code scan: ADC-score the code column
    against the collected queries. Flat (``probes_by_bucket`` None):
    every query against every row. IVF: each row only against the
    queries that probe its ``bucket``."""
    everyone = np.arange(len(qids))

    def triples(pdf):
        pdf = pdf[pdf["code"].notna().to_numpy()]
        if len(pdf) == 0:
            return
        vid = pdf["vec_id"].to_numpy()
        if probes_by_bucket is None:
            groups = [(everyone, np.arange(len(pdf)))]
        else:
            bk = pdf["bucket"].to_numpy()
            groups = [
                (np.asarray(probes_by_bucket[int(b)]), np.flatnonzero(bk == b))
                for b in np.unique(bk)
                if int(b) in probes_by_bucket
            ]
        for qs, rows in groups:
            S = score(pdf["code"].iloc[rows], qs)
            yield np.repeat(qs, len(rows)), np.tile(vid[rows], len(qs)), S.ravel()

    return _scan_topk(cds, triples, n, schema, qids)


def _pair_scan(pairs: DataFrame, codec: _Codec, n: int, schema) -> DataFrame:
    """Phase 1 of a distributed code scan over (qid, __qv, vec_id, code)
    pair rows: the codec's pair scorer, same arithmetic per (query,
    code) pair as the collected scan, so a pair scores bit-for-bit the
    same on either path — no driver materialization anywhere."""

    def triples(pdf):
        pdf = pdf[(pdf["code"].notna() & pdf["__qv"].notna()).to_numpy()]
        if len(pdf) == 0:
            return
        _check_dim(pdf["__qv"], codec.dim)
        yield pdf["qid"].to_numpy(), pdf["vec_id"].to_numpy(), codec.pair_score(pdf)

    return _scan_topk(pairs, triples, n, schema)


def _code_topk(
    queries: DataFrame,
    codes: DataFrame,
    codec: _Codec,
    k: int,
    cv,
    n_cand: int,
    query_id: str,
    query_vec: str,
    max_collected_queries: int,
) -> DataFrame:
    """Flat ADC top-k over a (vec_id, code) column: every query scores
    every code, collected or — above ``max_collected_queries`` — as a
    cross-joined pair scan, then :func:`_finish_topk`."""
    cds = codes.select("vec_id", "code")

    def collected(q_sel, qids, Q, schema):
        cand = _code_scan(cds, codec.scorer(Q), qids, n_cand, schema)
        return _finish_topk(
            cand, k, q_sel, cv, n_cand, bound=(len(qids), Q.shape[1])
        )

    def distributed(q_sel, schema):
        pairs = cds.crossJoin(q_sel).select("qid", "__qv", "vec_id", "code")
        return _finish_topk(
            _pair_scan(pairs, codec, n_cand, schema), k, q_sel, cv, n_cand
        )

    return _vector_topk(
        queries, query_id, query_vec, max_collected_queries,
        cds.schema["vec_id"].dataType, collected, distributed,
        codec.dim,
    )


def _ivf_code_topk(
    spark,
    path: str,
    meta: dict,
    build: str,
    codec: _Codec,
    rank_probes,
    queries: DataFrame,
    k: int,
    n_probe: int,
    rerank,
    rerank_factor: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    max_collected_queries: int,
) -> DataFrame:
    """The IVF probe of a bucket-partitioned code index (IVF-PQ,
    IVF-SQ8), given its sidecar ``meta`` and the name of the ``build``
    function (for the ``rerank="stored"`` error). ``rank_probes(Q,
    n_probe)`` ranks each raw query's centroids with the codec's own
    tie-break.

    Collected: the probe set is known driver-side, so the union of probe
    buckets is a STATIC planning-time partition filter (the dedup-index
    discipline, no reliance on DPP) and each row is scored only against
    the queries that probe its bucket.

    Distributed (above ``max_collected_queries`` — degrade, don't
    raise): probe assignment is an Arrow pass over the query frame with
    the same ranking, pinned because it feeds both the DISTINCT
    probed-bucket collect (<= n_centroids rows, so the scan keeps its
    static filter) and the bucket equi-join that builds the (query,
    code) pairs each query probes; the pairs go through the codec's
    pair scorer. Both paths rerank the one pool of
    :func:`_finish_topk`."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    index = spark.read.parquet(path)
    n_cand = k * rerank_factor if rerank is not None else k

    def probed(buckets):
        idx = index.filter(F.col("bucket").isin(buckets))
        cv = _rerank_vectors(
            rerank, corpus_id, corpus_vec,
            idx if meta.get("store_vectors") else None, build,
        )
        return idx.select("bucket", "vec_id", "code"), cv

    def collected(q_sel, qids, Q, schema):
        probes_by_bucket: dict[int, list[int]] = {}
        for qi, row in enumerate(rank_probes(Q, n_probe)):
            for b in row:
                probes_by_bucket.setdefault(int(b), []).append(qi)
        cds, cv = probed(sorted(probes_by_bucket))
        cand = _code_scan(
            cds, codec.scorer(Q), qids, n_cand, schema, probes_by_bucket
        )
        return _finish_topk(
            cand, k, q_sel, cv, n_cand, bound=(len(qids), Q.shape[1])
        )

    def distributed(q_sel, schema):
        probe_schema = StructType(
            [
                StructField("qid", q_sel.schema["qid"].dataType),
                StructField("__qv", q_sel.schema["__qv"].dataType),
                StructField("bucket", IntegerType()),
            ]
        )

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                _check_dim(pdf["__qv"], codec.dim)
                order = rank_probes(_stack(pdf["__qv"]), n_probe)
                n_p = order.shape[1]
                yield pd.DataFrame(
                    {
                        "qid": pdf["qid"].to_numpy().repeat(n_p),
                        "__qv": pdf["__qv"].to_numpy().repeat(n_p),
                        "bucket": order.ravel().astype("int32"),
                    }
                )

        # pinned: the probe frame feeds BOTH the distinct-bucket collect
        # and the bucket equi-join — without it the Arrow assignment pass
        # over the (by definition oversized) query frame runs twice
        probes = materialize(q_sel.mapInPandas(assign, probe_schema), eager=True)
        cds, cv = probed(
            sorted(r["bucket"] for r in probes.select("bucket").distinct().collect())
        )
        pairs = cds.join(probes, "bucket").select("qid", "__qv", "vec_id", "code")
        cand = _pair_scan(pairs, codec, n_cand, schema)
        return _finish_topk(cand, k, q_sel, cv, n_cand)

    return _vector_topk(
        queries, query_id, query_vec, max_collected_queries,
        index.schema["vec_id"].dataType, collected, distributed,
        codec.dim,
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
    ``bucket_assign_arrow``. Vectors of different dims raise instead of
    scoring a prefix."""
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
            if A.shape[1] != B.shape[1]:
                raise ValueError(
                    f"query vector dim {A.shape[1]} != corpus dim {B.shape[1]}"
                )
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
