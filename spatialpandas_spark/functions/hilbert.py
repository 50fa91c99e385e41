"""2-D Hilbert-curve distance as a vectorized Arrow pandas UDF.

Implements Skilling's transpose algorithm (J. Skilling, "Programming the
Hilbert curve", AIP Conf. Proc. 707, 2004) specialized to 2 dimensions and
vectorized over numpy arrays — the same public algorithm the reference JITs
per-row (ref ``spatialindex/hilbert_curve.py:134-169``,
``spatialindex/rtree.py:50-65``: bbox centers are discretized onto a
``2**p`` grid over the dataset's total bounds, then mapped to curve distance).

This is the engine's spatial clustering key: ``repartitionByRange`` on it +
``sortWithinPartitions`` reproduces the reference's ``pack_partitions``
(ref ``dask.py:177-205``) with Spark's shuffle machinery, and Hilbert-sorted
parquet gives tight row-group min/max stats on bounds columns (the scalable
replacement for the reference's packed R-tree).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def _data2coord(vals: np.ndarray, lo: float, hi: float, side: int) -> np.ndarray:
    """Continuous -> integer grid coordinate in [0, side-1], clipping like the
    reference (``utils.py:16-37``); degenerate range widened by 1.0
    (``rtree.py:54-57``)."""
    if hi == lo:
        hi = lo + 1.0
    with np.errstate(invalid="ignore"):
        res = ((vals - lo) * (side / (hi - lo)))
        res = np.where(np.isfinite(res), res, 0.0)
    # clip before the cast: a centre ~2**63 cells out would cast to INT64_MIN
    return np.clip(res, 0, side - 1).astype(np.int64)


def hilbert_xy2d(p: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Skilling transform: integer grid coords (each in
    [0, 2**p)) -> Hilbert curve distance in [0, 4**p). int64-safe for
    p <= 31."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()

    # Inverse undo excess work
    q = np.int64(1) << (p - 1)
    while q > 1:
        pmask = q - 1
        # dim 0
        c0 = (x & q) != 0
        x = np.where(c0, x ^ pmask, x)
        # dim 1
        c1 = (y & q) != 0
        t = np.where(c1, 0, (x ^ y) & pmask)
        x = np.where(c1, x ^ pmask, x ^ t)
        y = y ^ t
        q >>= 1

    # Gray encode
    y = y ^ x
    t = np.zeros_like(x)
    q = np.int64(1) << (p - 1)
    while q > 1:
        t = np.where((y & q) != 0, t ^ (q - 1), t)
        q >>= 1
    x = x ^ t
    y = y ^ t

    # Interleave bits: x bit b -> distance bit 2b+1, y bit b -> 2b
    h = np.zeros_like(x)
    for b in range(p):
        h |= ((x >> b) & 1) << (2 * b + 1)
        h |= ((y >> b) & 1) << (2 * b)
    return h


def hilbert_from_centers(
    cx: np.ndarray,
    cy: np.ndarray,
    total_bounds: tuple[float, float, float, float],
    p: int,
) -> np.ndarray:
    x0, y0, x1, y1 = total_bounds
    side = 1 << p
    ix = _data2coord(np.asarray(cx, dtype=np.float64), x0, x1, side)
    iy = _data2coord(np.asarray(cy, dtype=np.float64), y0, y1, side)
    return hilbert_xy2d(p, ix, iy)


def hilbert_distance_udf(
    total_bounds: tuple[float, float, float, float], p: int = 15
):
    """Build a pandas UDF ``(cx, cy) -> hilbert distance`` for a known global
    extent. ``total_bounds`` must be computed beforehand (one cheap agg —
    exactly like the reference needing ``total_bounds`` before
    ``hilbert_distance``, ``geometry/base.py:603-615``). Default p=15 matches
    the reference's partitioning resolution (``dask.py:177``)."""

    @F.pandas_udf(LongType())
    def _hd(cx: pd.Series, cy: pd.Series) -> pd.Series:
        out = hilbert_from_centers(
            cx.to_numpy(np.float64), cy.to_numpy(np.float64), total_bounds, p
        )
        return pd.Series(out)

    return _hd


def hilbert_col(bounds: Column, total_bounds, p: int = 15) -> Column:
    """Hilbert distance of a bounds struct column's center point."""
    udf = hilbert_distance_udf(tuple(total_bounds), p)
    cx = (bounds["x0"] + bounds["x1"]) / 2
    cy = (bounds["y0"] + bounds["y1"]) / 2
    return udf(cx, cy)
