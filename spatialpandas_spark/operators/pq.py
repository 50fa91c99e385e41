"""Product-quantization (PQ) approximate nearest neighbor — the memory
tier of the ANN stack (ref analog: spatialpandas has no vector surface;
this follows the published IVFADC design of Jégou, Douze & Schmid,
"Product quantization for nearest neighbor search", IEEE TPAMI 2011).

Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code is ``m_sub`` bytes (8 by default — 32x compression). The ADC
(asymmetric distance computation) scan reads ONLY the code column: each
query builds one small lookup table of size ``m_sub x n_codes`` on the
fly, and the approximate similarity of a corpus vector is a sum of
``m_sub`` table entries — pure memory-bandwidth-bound fancy indexing,
no float vector ever touched until the optional exact rerank of the
tiny candidate set.

Division of labor with the rest of the stack:
- ``train_pq``: bounded deterministic sample -> per-subspace k-means
  codebooks on the driver (the sample is a few MB regardless of corpus
  size; one TakeOrdered job, same shape as ``similarity._centroids``).
- ``pq_encode``: one Arrow-batched linear scan, corpus-side, fully
  distributed; emits a ``binary`` code column (m_sub bytes/row).
- ``pq_topk``: ADC scan through the two-phase top-k skeleton of
  ``operators/similarity.py`` (per-partition reduction, window over
  survivors only, optional exact-cosine rerank join against the source
  vectors for ``k * rerank_factor`` candidates per query); this module
  supplies only the ADC scoring (``_pq_codec``).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from .similarity import _Codec, _code_topk, _rerank_vectors, _stack

__all__ = ["train_pq", "pq_encode", "pq_topk", "pq_reconstruct_error"]


def _l2_normalize(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows; zero rows stay zero. PQ approximates the
    inner product, so normalizing corpus and queries makes ADC scores
    approximate cosine directly."""
    n = np.sqrt((X * X).sum(axis=1, keepdims=True))
    return np.divide(X, n, out=np.zeros_like(X), where=n > 0)


def _check_dims(dim: int, m_sub: int) -> int:
    if dim % m_sub != 0:
        raise ValueError(
            f"vector dim {dim} not divisible by m_sub={m_sub}"
        )
    return dim // m_sub


def train_pq(
    corpus: DataFrame,
    m_sub: int = 8,
    n_codes: int = 256,
    sample_n: int = 4096,
    iters: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: one k-means per subspace over a bounded,
    deterministic corpus sample.

    The sample is the ``sample_n`` rows with smallest md5(id) — the same
    reproducible TakeOrdered sample ``similarity._centroids`` uses, so
    training is a single tiny job no matter the corpus size, and two
    runs on the same data give identical codebooks (k-means init is the
    first ``n_codes`` sample rows in that order; Lloyd iterations are
    deterministic numpy). Empty clusters keep their previous codeword.

    Returns nested lists shaped (m_sub, n_codes_eff, dim // m_sub) —
    plain JSON-serializable floats so codebooks can live in an index
    sidecar. ``n_codes`` is capped at the sample size."""
    rows = (
        corpus.select(
            F.col(corpus_id).alias("i"),
            F.col(corpus_vec).cast("array<double>").alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq: corpus has no non-null vectors")
    X = _l2_normalize(np.asarray([list(r["v"]) for r in rows], dtype=np.float64))
    dim = X.shape[1]
    sub = _check_dims(dim, m_sub)
    n_codes = min(n_codes, X.shape[0])
    books = []
    for j in range(m_sub):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[:n_codes].copy()
        for _ in range(iters):
            # (n, k) squared distances via expansion; argmin assignment
            d2 = (
                (S * S).sum(1)[:, None]
                - 2.0 * S @ C.T
                + (C * C).sum(1)[None, :]
            )
            assign = d2.argmin(1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(0)
        books.append(C.tolist())
    return books


def _books_array(codebooks) -> np.ndarray:
    B = np.asarray(codebooks, dtype=np.float64)
    if B.ndim != 3:
        raise ValueError("codebooks must be (m_sub, n_codes, sub_dim)")
    return B


def pq_encode(
    corpus: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Encode corpus vectors to PQ codes: one Arrow-batched linear scan,
    per subspace nearest codeword by L2 over the unit-normalized vector.

    Output: (vec_id, code binary) — ``m_sub`` bytes per row. This is the
    column a 100 TB deployment persists and scans; the float vectors are
    only re-read by the exact rerank. Null vectors get null codes."""
    from collections.abc import Iterator

    import pandas as pd

    B = _books_array(codebooks)
    m_sub, n_codes, sub = B.shape
    if n_codes > 256:
        raise ValueError("n_codes > 256 does not fit uint8 codes")

    out_schema = StructType(
        [
            StructField("vec_id", corpus.schema[corpus_id].dataType),
            StructField("code", BinaryType()),
        ]
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    )
    cc2 = [(B[j] * B[j]).sum(1) for j in range(m_sub)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = pdf["__cv"].notna().to_numpy()
            codes: list = [None] * len(pdf)
            if mask.any():
                X = _l2_normalize(
                    np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["__cv"][mask]]
                    )
                )
                _check_dims(X.shape[1], m_sub)
                out = np.empty((X.shape[0], m_sub), dtype=np.uint8)
                for j in range(m_sub):
                    S = X[:, j * sub : (j + 1) * sub]
                    d2 = -2.0 * S @ B[j].T + cc2[j][None, :]
                    out[:, j] = d2.argmin(1)
                enc = [r.tobytes() for r in out]
                it = iter(enc)
                codes = [next(it) if ok else None for ok in mask]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "code": codes})

    return c.mapInPandas(run, out_schema)


def _pq_codec(codebooks):
    """PQ's scoring for the shared top-k skeleton
    (``similarity._Codec``): per query a lookup table ``lut[q, j, c]`` =
    dot(unit-normalized query subspace j, codeword c), and the ADC sim
    of a code is the sum of its ``m_sub`` table entries. The collected
    scan and the pair scan build the IDENTICAL ``Q_sub @ B[j].T``
    matmul per query, so a given (query, code) pair scores bit-for-bit
    the same on either path."""
    B = _books_array(codebooks)
    m_sub, n_codes, sub = B.shape

    def lut(Q):
        Q = _l2_normalize(Q)
        return np.stack(
            [Q[:, j * sub : (j + 1) * sub] @ B[j].T for j in range(m_sub)], axis=1
        )

    def decode(col):
        return np.frombuffer(
            b"".join(bytes(b) for b in col), dtype=np.uint8
        ).reshape(-1, m_sub)

    def scorer(Q):
        L = lut(Q)

        def score(col, qs):
            C, Lq = decode(col), L[qs]
            S = np.zeros((len(qs), C.shape[0]))
            for j in range(m_sub):
                S += Lq[:, j, :][:, C[:, j]]
            return S

        return score

    def pair_score(pdf):
        import pandas as pd

        # one LUT per distinct query of the batch: inv labels appear in
        # first-seen order, so unique's return_index gives their rows
        inv, _ = pd.factorize(pdf["qid"], sort=False)
        _, first = np.unique(inv, return_index=True)
        L, C = lut(_stack(pdf["__qv"].iloc[first])), decode(pdf["code"])
        s = np.zeros(len(pdf))
        for j in range(m_sub):
            s += L[inv, j, C[:, j]]
        return s

    return _Codec(m_sub * sub, scorer, pair_score)


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    k: int = 10,
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    query_id: str = "qid",
    query_vec: str = "qvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_collected_queries: int = 10_000,
) -> DataFrame:
    """ADC approximate top-k over a PQ code column.

    Per partition of the code table, ONE fancy-indexing pass scores every
    (query, row) pair from the per-query lookup tables (``m_sub x
    n_codes`` partial inner products, built once per query) and reduces
    to the local top-c (``c = k * rerank_factor`` when a rerank frame is
    supplied, else ``k``); the final window ranks only the tiny survivor
    set — the two-phase skeleton of ``brute_force_topk``. With
    ``rerank``, the surviving candidates are joined back to the float
    vectors and re-scored with exact cosine, so ``sim`` in the output is
    exact and only the candidate CHOICE is approximate (the standard
    IVFADC refinement step).

    The query side is bounded exactly like ``brute_force_topk``: a
    ``limit(n+1)`` collect guards the driver, and ABOVE
    ``max_collected_queries`` the operator degrades to the fully
    distributed pair formulation (same ADC arithmetic, candidates from
    an Arrow pair scan, no driver materialization) instead of raising.
    A query whose dim is not the codebooks' ``m_sub x sub_dim`` raises
    ``ValueError`` on either path. Columns out: (qid, vec_id, sim,
    rank)."""
    return _code_topk(
        queries, codes, _pq_codec(codebooks), k,
        _rerank_vectors(rerank, corpus_id, corpus_vec),
        k * rerank_factor if rerank is not None else k,
        query_id, query_vec, max_collected_queries,
    )


def pq_reconstruct_error(
    corpus: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Diagnostic: mean squared reconstruction error of the PQ codes over
    the (normalized) corpus — ONE row out. The number that tells an
    operator whether ``m_sub``/``n_codes`` are adequate before shipping
    an index build at scale."""
    from collections.abc import Iterator

    import pandas as pd

    B = _books_array(codebooks)
    m_sub, n_codes, sub = B.shape
    c = corpus.select(F.col(corpus_vec).cast("array<double>").alias("__cv"))
    cc2 = [(B[j] * B[j]).sum(1) for j in range(m_sub)]

    schema = StructType(
        [StructField("sse", DoubleType()), StructField("n", DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sse, n = 0.0, 0
        for pdf in batches:
            vals = pdf["__cv"].dropna()
            if len(vals) == 0:
                continue
            X = _l2_normalize(
                np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
            )
            for j in range(m_sub):
                S = X[:, j * sub : (j + 1) * sub]
                d2 = (S * S).sum(1)[:, None] - 2.0 * S @ B[j].T + cc2[j][None, :]
                sse += d2.min(1).clip(0).sum()
            n += X.shape[0]
        yield pd.DataFrame({"sse": [sse], "n": [float(n)]})

    parts = c.mapInPandas(run, schema)
    return parts.agg(
        (F.sum("sse") / F.sum("n")).alias("mse"),
        F.sum("n").cast("long").alias("n_vectors"),
    )
