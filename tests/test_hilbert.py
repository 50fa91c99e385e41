"""Hilbert codec: vectorized engine vs an independent scalar implementation
(classic quadrant-rotation xy2d with explicit Gray decoding per Skilling's
construction), bijectivity, and locality properties (reference tests this
against the external hilbertcurve package, SURVEY.md §5.2)."""

import numpy as np

from spatialpandas_spark.functions.hilbert import hilbert_from_centers, hilbert_xy2d


def scalar_skilling_xy2d(p: int, x: int, y: int) -> int:
    """Independent transcription of the published Skilling transform
    (AIP Conf. Proc. 707), scalar form."""
    coord = [x, y]
    m = 1 << (p - 1)
    q = m
    while q > 1:
        pm = q - 1
        for i in range(2):
            if coord[i] & q:
                coord[0] ^= pm
            else:
                t = (coord[0] ^ coord[i]) & pm
                coord[0] ^= t
                coord[i] ^= t
        q >>= 1
    for i in range(1, 2):
        coord[i] ^= coord[i - 1]
    t = 0
    q = m
    while q > 1:
        if coord[1] & q:
            t ^= q - 1
        q >>= 1
    coord = [c ^ t for c in coord]
    # interleave MSB-first: x bit b -> 2b+1, y bit b -> 2b
    h = 0
    for b in range(p):
        h |= ((coord[0] >> b) & 1) << (2 * b + 1)
        h |= ((coord[1] >> b) & 1) << (2 * b)
    return h


def test_matches_scalar_reference_impl():
    p = 5
    side = 1 << p
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    xs, ys = xs.ravel(), ys.ravel()
    got = hilbert_xy2d(p, xs, ys)
    for x, y, h in zip(xs[::7], ys[::7], got[::7]):
        assert h == scalar_skilling_xy2d(p, int(x), int(y))


def test_bijective():
    for p in (1, 2, 3, 6):
        side = 1 << p
        xs, ys = np.meshgrid(np.arange(side), np.arange(side))
        h = hilbert_xy2d(p, xs.ravel(), ys.ravel())
        assert sorted(h.tolist()) == list(range(4**p)), p


def test_adjacency():
    """Consecutive distances map to 4-neighbor cells — the defining Hilbert
    property that gives spatial locality to range partitioning."""
    p = 6
    side = 1 << p
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    xs, ys = xs.ravel(), ys.ravel()
    h = hilbert_xy2d(p, xs, ys)
    order = np.argsort(h)
    dx = np.abs(np.diff(xs[order]))
    dy = np.abs(np.diff(ys[order]))
    assert ((dx + dy) == 1).all()


def test_center_discretization_and_degenerate_range():
    # degenerate total bounds widen by 1.0 (ref rtree.py:54-57)
    h = hilbert_from_centers(
        np.array([5.0, 5.0]), np.array([3.0, 3.0]), (5.0, 3.0, 5.0, 3.0), p=4
    )
    assert len(set(h.tolist())) == 1
    # clipping: coords outside bounds clamp to grid edges
    h2 = hilbert_from_centers(
        np.array([-100.0, 100.0]), np.array([0.5, 0.5]), (0.0, 0.0, 1.0, 1.0), p=4
    )
    assert (h2 >= 0).all() and (h2 < 4**4).all()


def test_udf_on_spark(spark):
    from pyspark.sql import functions as F

    from spatialpandas_spark.functions.hilbert import hilbert_distance_udf

    df = spark.createDataFrame(
        [(float(x), float(y)) for x in range(8) for y in range(8)],
        "x double, y double",
    )
    udf = hilbert_distance_udf((0.0, 0.0, 8.0, 8.0), p=3)
    rows = df.withColumn("h", udf(F.col("x"), F.col("y"))).collect()
    hs = sorted(r["h"] for r in rows)
    assert hs == list(range(64))


def test_far_out_centres_clip_to_the_near_grid_edge():
    """A centre far beyond ``total_bounds`` (a stray ``1e30``) clamps to the
    grid edge on its own side; it must not overflow the int64 cast. NaN and
    +-inf still map to cell 0."""
    import warnings

    from spatialpandas_spark.functions.hilbert import _data2coord

    side = 1 << 4
    vals = np.array([1e30, -1e30, 2.0, 0.5, np.nan, np.inf, -np.inf])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = _data2coord(vals, 0.0, 1.0, side)
    assert got.tolist() == [side - 1, 0, side - 1, side // 2, 0, 0, 0]
    far = hilbert_from_centers(
        np.array([1e30, -1e30]), np.array([1e30, -1e30]), (0.0, 0.0, 1.0, 1.0), p=4
    )
    edge = hilbert_xy2d(4, np.array([side - 1, 0]), np.array([side - 1, 0]))
    assert far.tolist() == edge.tolist()
