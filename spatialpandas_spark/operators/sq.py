"""SQ8 scalar quantization for embedding columns — the standard 4x
memory point on the ANN curve between raw floats and PQ's 32x
(operators/pq.py). No reference analog: spatialpandas has no vector
surface; this is LLM-pipeline extension surface beside
operators/similarity.py.

Per-dimension affine quantization of the UNIT-NORMALIZED corpus:
``code_j = clip(floor((x_j - lo_j) / scale_j + 0.5), 0, 255)``
(round-half-up — the one-op SQL-replayable form) with
``scale_j = (hi_j - lo_j) / 255`` from a one-scan per-dimension
min/max. Asymmetric distance (ADC): queries stay float, corpus rows
dequantize to ``lo_j + code_j * scale_j`` inside the scan — recall is
far higher than symmetric code-vs-code comparison for the same bytes,
the same reason the PQ module scans ADC.

Spark shapes, all previously proven in this repo:

- **train**: one Arrow pass emits per-PARTITION min/max arrays (one
  row per partition), a dim-exploded groupBy reduces them — the
  collected state is 2·dim floats, never corpus rows;
- **encode**: Arrow-batched linear scan -> ``(vec_id, code binary)``
  (dim bytes per row) — the column a 100 TB deployment persists;
- **topk**: collected queries, per-partition ADC scan + local top-k,
  final window over the tiny survivor set only — the two-phase
  skeleton of similarity.py, so tie-break semantics cannot diverge;
  this module supplies only the scoring (``_sq8_codec``). No query x
  corpus pair table below ``max_collected_queries``.

Correctness evidence (tests/test_sq.py): numpy replay twins for train/
encode/ADC (bit-identical sims — both sides run the same numpy ops in
the same order), dequantization error bound scale/2 per dim, recall@k
vs exact brute force on clustered data, null-vector pass-through.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from spatialpandas_spark.operators.similarity import (
    _Codec,
    _code_topk,
    _seq_pair_dot,
    _stack,
)


def _seq_normalize(X: np.ndarray) -> np.ndarray:
    """Unit-normalize rows with the norm computed as a SEQUENTIAL
    left-to-right fold (similarity.py ``_seq_dot`` discipline) — bit-
    identical to ``x / sqrt(list_dot_product(v, v))`` in the SQL
    oracle, where numpy's pairwise ``(X*X).sum`` would drift ~1 ulp.
    Zero rows stay zero."""
    n = np.sqrt(_seq_pair_dot(X, X))[:, None]
    return np.divide(X, n, out=np.zeros_like(X), where=n > 0)


def train_sq8(
    corpus: DataFrame, corpus_vec: str = "embedding"
) -> dict:
    """Per-dimension (lo, hi) over the unit-normalized corpus in one
    scan. Returns ``{"lo": [..], "hi": [..], "dim": d}`` — 2·dim
    floats, broadcast-sized by construction."""
    from collections.abc import Iterator

    import pandas as pd

    part_schema = StructType(
        [
            StructField("dim", IntegerType()),
            StructField("lo", DoubleType()),
            StructField("hi", DoubleType()),
        ]
    )
    c = corpus.select(
        F.col(corpus_vec).cast("array<double>").alias("__cv")
    ).filter(F.col("__cv").isNotNull())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo = hi = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _seq_normalize(
                np.asarray([np.asarray(v, np.float64) for v in pdf["__cv"]])
            )
            bl, bh = X.min(0), X.max(0)
            lo = bl if lo is None else np.minimum(lo, bl)
            hi = bh if hi is None else np.maximum(hi, bh)
        if lo is not None:
            yield pd.DataFrame(
                {"dim": np.arange(len(lo)), "lo": lo, "hi": hi}
            )

    rows = (
        c.mapInPandas(run, part_schema)
        .groupBy("dim")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    return {
        "lo": [r["lo"] for r in rows],
        "hi": [r["hi"] for r in rows],
        "dim": len(rows),
    }


def _scales(params: dict) -> tuple[np.ndarray, np.ndarray]:
    lo = np.asarray(params["lo"], np.float64)
    hi = np.asarray(params["hi"], np.float64)
    scale = (hi - lo) / 255.0
    scale[scale == 0.0] = 1.0  # constant dim: every code is 0
    return lo, scale


def sq8_encode(
    corpus: DataFrame,
    params: dict,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Encode to ``(vec_id, code binary)`` — dim bytes per row (4x
    smaller than float32, 8x than the float64 transfer form). Null
    vectors get null codes."""
    from collections.abc import Iterator

    import pandas as pd

    lo, scale = _scales(params)
    dim = int(params["dim"])
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = pdf["__cv"].notna().to_numpy()
            codes: list = [None] * len(pdf)
            if mask.any():
                X = _seq_normalize(
                    np.asarray(
                        [np.asarray(v, np.float64) for v in pdf["__cv"][mask]]
                    )
                )
                if X.shape[1] != dim:
                    raise ValueError(
                        f"vector dim {X.shape[1]} != params dim {dim}"
                    )
                # floor(x + 0.5) = round-half-UP: the form SQL
                # replays exactly (np.rint is half-even, which DuckDB
                # cannot express as one op)
                q = np.clip(
                    np.floor((X - lo[None, :]) / scale[None, :] + 0.5),
                    0, 255,
                ).astype(np.uint8)
                enc = [r.tobytes() for r in q]
                it = iter(enc)
                codes = [next(it) if ok else None for ok in mask]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "code": codes})

    return c.mapInPandas(run, out_schema)


def save_sq8(params: dict, path: str, filesystem=None) -> None:
    """Persist trained SQ8 params as a JSON sidecar via the object-store
    fs layer (same convention as the tokenizer/index sidecars): the
    reproducibility anchor — re-encoding and probing load the EXACT
    quantizer. Floats round-trip via repr (exact for IEEE doubles)."""
    import json

    from spatialpandas_spark.sources import fs as _fs

    _fs.write_text(
        path,
        json.dumps(
            {
                "format": "sq8",
                "dim": int(params["dim"]),
                "lo": [repr(float(x)) for x in params["lo"]],
                "hi": [repr(float(x)) for x in params["hi"]],
            }
        ),
        filesystem=filesystem,
    )


def load_sq8(path: str, filesystem=None) -> dict:
    """Params from :func:`save_sq8` output; rejects non-SQ8 sidecars
    loudly."""
    import json

    from spatialpandas_spark.sources import fs as _fs

    d = json.loads(_fs.read_text(path, filesystem=filesystem))
    if d.get("format") != "sq8":
        raise ValueError(f"not an SQ8 sidecar: {path}")
    return {
        "dim": int(d["dim"]),
        "lo": [float(x) for x in d["lo"]],
        "hi": [float(x) for x in d["hi"]],
    }


def _sq8_codec(params: dict):
    """SQ8's scoring for the shared top-k skeleton
    (``similarity._Codec``): dequantize each code to ``lo_j + code_j *
    scale_j`` and fold ``sum_j xhat_j * qn_j`` left to right against
    the sequential-fold-normalized query (similarity.py ``_seq_dot``
    discipline) — batch-shape-independent and bit-identical to a SQL
    fold, where np.dot's BLAS blocking would make sims depend on Arrow
    batch size. The collected scan and the pair scan run the same ops
    per (query, code) pair."""
    lo, scale = _scales(params)
    dim = int(params["dim"])

    def dequantize(col):
        C = np.frombuffer(
            b"".join(bytes(b) for b in col), dtype=np.uint8
        ).reshape(len(col), -1)
        if C.shape[1] != dim:
            raise ValueError(f"code width {C.shape[1]} != params dim {dim}")
        return lo[None, :] + C.astype(np.float64) * scale[None, :]

    def scorer(Q):
        Qn = _seq_normalize(Q)

        def score(col, qs):
            X = dequantize(col)
            S = np.zeros((X.shape[0], len(qs)), dtype=np.float64)
            for j in range(dim):
                S = S + X[:, j : j + 1] * Qn[qs, j][None, :]
            return S.T

        return score

    def pair_score(pdf):
        Qn = _seq_normalize(_stack(pdf["__qv"]))
        return _seq_pair_dot(dequantize(pdf["code"]), Qn)

    return _Codec(dim, scorer, pair_score)


def sq8_topk(
    queries: DataFrame,
    codes: DataFrame,
    params: dict,
    k: int = 10,
    query_id: str = "qid",
    query_vec: str = "qvec",
    max_collected_queries: int = 65536,
) -> DataFrame:
    """Approximate top-k by cosine against the SQ8 codes (ADC:
    dequantized corpus x float query), through the two-phase top-k
    skeleton of ``operators/similarity.py``: per-partition scan + local
    top-k, final window over survivors.

    The query side is collected only when it has at most
    ``max_collected_queries`` rows (bounded ``limit(n+1)`` probe); above
    that the operator switches to the fully distributed pair-join
    formulation (``brute_force_topk``'s discipline) — same dequantize +
    sequential-fold arithmetic per (query, code) pair, no driver
    materialization. Query dims are validated against ``params['dim']``
    on either path (a longer query would otherwise silently score a
    truncated prefix); an empty/all-null query side returns an empty
    frame with the declared schema. Columns out: (qid, vec_id, sim,
    rank)."""
    return _code_topk(
        queries, codes, _sq8_codec(params), k, None, k,
        query_id, query_vec, max_collected_queries,
    )
