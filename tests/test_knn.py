"""sjoin_knn vs a brute-force numpy oracle."""

import datetime
import decimal
import json
import logging
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark import st_point
from spatialpandas_spark.operators import knn as knnmod
from spatialpandas_spark.operators.knn import sjoin_knn, sjoin_nearest

KNN_LOG = "spatialpandas_spark.operators.knn"


def _mk(spark, pts, idc, id_type="long"):
    return spark.createDataFrame(
        pts, f"{idc} {id_type}, x double, y double"
    ).select(idc, st_point(F.col("x"), F.col("y")).alias("geom"))


def _oracle(lpts, rpts, k, max_radius=None):
    out = {}
    for lid, lx, ly in lpts:
        # the operator's op order: (a-b)*(a-b), which ** 2 may miss by an ulp
        ds = sorted(
            ((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry), rid)
            for rid, rx, ry in rpts
        )
        if max_radius is not None:
            ds = [(d, rid) for d, rid in ds if d <= max_radius * max_radius]
        if ds[:k]:
            out[lid] = [(rid, d) for d, rid in ds[:k]]
    return out


def multi_round_points():
    """A fixture that takes the kNN level loop through many rounds at
    ``cell_size=0.25``, k=3: three clusters of 40 corpus points in 2x2
    boxes at (0,0), (60,0) and (0,60); 18 queries inside them (five
    resolve at level 0; the rest jump by their k-th distance bound or,
    short of k candidates, quad-step);
    three queries 2.5-3 units off a cluster (empty level-0 neighborhood,
    so they quad-step); two queries in the empty space between the
    clusters, whose neighborhoods stay empty for several rounds.
    Returns ``(left, right)`` as (id, x, y) lists."""
    rng = np.random.default_rng(29)
    centers = [(0.0, 0.0), (60.0, 0.0), (0.0, 60.0)]
    rpts = [
        (c * 40 + i, float(cx + x), float(cy + y))
        for c, (cx, cy) in enumerate(centers)
        for i, (x, y) in enumerate(rng.uniform(0.0, 2.0, (40, 2)))
    ]
    inside = [
        (cx + x, cy + y)
        for cx, cy in centers
        for x, y in rng.uniform(0.0, 2.0, (6, 2))
    ]
    edge = [(5.0, 1.0), (61.0, -3.0), (-2.5, 61.0)]
    isolated = [(30.0, 30.0), (-40.0, 30.0)]
    lpts = [
        (i, float(x), float(y)) for i, (x, y) in enumerate(inside + edge + isolated)
    ]
    return lpts, rpts


def _rounds(caplog):
    """(levels, unresolved) per logged round; unresolved is None for the
    final round, which computes no next level."""
    out = []
    for rec in caplog.records:
        m = re.fullmatch(
            r"sjoin_knn round \d+: levels (\[.*\]), (?:(\d+) unresolved|final)",
            rec.getMessage(),
        )
        if m:
            out.append((json.loads(m[1]), None if m[2] is None else int(m[2])))
    return out


def _both_paths(monkeypatch):
    """Yield once with kNN's first-round rule off (the grid runs round 0)
    and once with it at its default (a small query side sweeps first)."""
    for bound in (0, knnmod._SWEEP_FIRST_PAIRS):
        monkeypatch.setattr(knnmod, "_SWEEP_FIRST_PAIRS", bound)
        yield


def _got(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["lid"], []).append((r["rank"], r["rid"], r["dist2"]))
    return {
        lid: [(rid, d2) for _, rid, d2 in sorted(v)] for lid, v in out.items()
    }


@pytest.mark.parametrize("cell", [0.5, 2.0, 1000.0])
def test_knn_matches_brute_force_random(spark, monkeypatch, cell):
    monkeypatch.setattr(knnmod, "_SWEEP_FIRST_PAIRS", 0)  # the grid rounds
    rng = np.random.default_rng(17)
    lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (40, 2)))]
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 100, (200, 2)))]
    got = _got(sjoin_knn(_mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"), k=5, cell_size=cell))
    assert got == _oracle(lpts, rpts, 5)


def test_knn_sparse_neighborhoods_escalate(spark, monkeypatch):
    # clustered rights far from some lefts: round 0 cannot resolve them
    monkeypatch.setattr(knnmod, "_SWEEP_FIRST_PAIRS", 0)
    lpts = [(0, 0.0, 0.0), (1, 500.0, 500.0)]
    rpts = [(i, 500.0 + i * 0.1, 500.0) for i in range(10)]
    got = _got(sjoin_knn(_mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"), k=3, cell_size=1.0))
    assert got == _oracle(lpts, rpts, 3)


def test_knn_k_larger_than_right(spark, monkeypatch):
    lpts = [(0, 0.0, 0.0)]
    rpts = [(0, 1.0, 0.0), (1, 2.0, 0.0)]
    for _ in _both_paths(monkeypatch):
        got = _got(sjoin_knn(_mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"), k=5, cell_size=1.0))
        assert got == _oracle(lpts, rpts, 5)
        assert len(got[0]) == 2


def test_knn_empty_right(spark):
    lpts = [(0, 0.0, 0.0)]
    df = sjoin_knn(
        _mk(spark, lpts, "lid"),
        _mk(spark, [], "rid").filter(F.lit(False)),
        k=3,
        cell_size=1.0,
    )
    assert df.count() == 0


def test_knn_auto_cell_size_matches_brute_force(spark, monkeypatch):
    # omitted cell_size: estimated from a sampled k-th-NN distance, and
    # the join stays exact regardless of the estimate's quality (the
    # first-round rule is off: a sweep-first call estimates nothing)
    monkeypatch.setattr(knnmod, "_SWEEP_FIRST_PAIRS", 0)
    rng = np.random.default_rng(23)
    lpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 50, (30, 2)))]
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 50, (300, 2)))]
    got = _got(sjoin_knn(_mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"), k=4))
    assert got == _oracle(lpts, rpts, 4)


def test_estimate_cell_size_near_kth_nn_distance(spark):
    # uniform grid with spacing 1.0: true 1st-NN distance is exactly 1.0,
    # the estimate must land within a small constant factor
    from spatialpandas_spark.operators.knn import estimate_knn_cell_size

    pts = [(y * 40 + x, float(x), float(y)) for x in range(40) for y in range(40)]
    est = estimate_knn_cell_size(_mk(spark, pts, "rid"), k=1)
    assert 0.3 <= est <= 3.0


def test_knn_tie_break_by_rid(spark, monkeypatch):
    lpts = [(0, 0.0, 0.0)]
    rpts = [(5, 1.0, 0.0), (2, -1.0, 0.0), (9, 0.0, 1.0)]  # all dist2 = 1
    for _ in _both_paths(monkeypatch):
        got = _got(sjoin_knn(_mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"), k=2, cell_size=1.0))
        assert got[0] == [(2, 1.0), (5, 1.0)]


def test_sjoin_nearest_matches_bruteforce_oracle(spark):
    """sjoin_nearest == python brute-force nearest (ties: min rid),
    with max_distance and left-join semantics."""
    import numpy as np

    from spatialpandas_spark.operators.knn import sjoin_nearest

    rng = np.random.default_rng(17)
    L = rng.uniform(0, 100, (80, 2))
    R = rng.uniform(0, 100, (60, 2))
    left = spark.createDataFrame(
        [(i, {"x": float(x), "y": float(y)}) for i, (x, y) in enumerate(L)],
        "lid long, geom struct<x:double,y:double>",
    )
    right = spark.createDataFrame(
        [(j, {"x": float(x), "y": float(y)}) for j, (x, y) in enumerate(R)],
        "rid long, geom struct<x:double,y:double>",
    )

    d2 = ((L[:, None, :] - R[None, :, :]) ** 2).sum(-1)
    exp_nn = d2.argmin(1)  # numpy argmin = first min = smallest rid tie-break
    exp_d = np.sqrt(d2[np.arange(len(L)), exp_nn])

    got = {r["lid"]: r for r in sjoin_nearest(left, right).collect()}
    assert len(got) == len(L)
    for i in range(len(L)):
        assert got[i]["rid"] == exp_nn[i], i
        assert got[i]["dist"] == pytest.approx(exp_d[i], rel=1e-12)

    # max_distance + inner drops far rows; left keeps them with nulls
    cut = float(np.quantile(exp_d, 0.5))
    inner = sjoin_nearest(left, right, max_distance=cut).collect()
    kept = {r["lid"] for r in inner}
    assert kept == {i for i in range(len(L)) if exp_d[i] <= cut}
    lft = sjoin_nearest(left, right, max_distance=cut, how="left").collect()
    assert len(lft) == len(L)
    nulls = {r["lid"] for r in lft if r["rid"] is None}
    assert nulls == set(range(len(L))) - kept


def test_sjoin_nearest_tie_determinism(spark):
    from spatialpandas_spark.operators.knn import sjoin_nearest

    left = spark.createDataFrame(
        [(0, {"x": 0.0, "y": 0.0})], "lid long, geom struct<x:double,y:double>"
    )
    # two equidistant right points: the smaller rid must win
    right = spark.createDataFrame(
        [(7, {"x": 1.0, "y": 0.0}), (3, {"x": -1.0, "y": 0.0})],
        "rid long, geom struct<x:double,y:double>",
    )
    rows = sjoin_nearest(left, right).collect()
    assert len(rows) == 1 and rows[0]["rid"] == 3


def test_sjoin_knn_max_radius_matches_filtered_bruteforce(spark):
    """sjoin_knn(max_radius=r) == brute-force kNN restricted to d <= r:
    same rows, same dense ranks, for k>1 and sparse/isolated lefts."""
    import numpy as np

    from spatialpandas_spark.operators.knn import sjoin_knn

    rng = np.random.default_rng(5)
    L = rng.uniform(0, 100, (60, 2))
    L[:5] += 500.0  # isolated cluster far outside the corpus
    R = rng.uniform(0, 100, (80, 2))
    left = spark.createDataFrame(
        [(i, {"x": float(x), "y": float(y)}) for i, (x, y) in enumerate(L)],
        "lid long, geom struct<x:double,y:double>",
    )
    right = spark.createDataFrame(
        [(j, {"x": float(x), "y": float(y)}) for j, (x, y) in enumerate(R)],
        "rid long, geom struct<x:double,y:double>",
    )
    r, k = 12.0, 3
    got = sorted(
        (x["lid"], x["rank"], x["rid"], x["dist2"])
        for x in sjoin_knn(left, right, k=k, max_radius=r).collect()
    )
    d2 = ((L[:, None, :] - R[None, :, :]) ** 2).sum(-1)
    exp = []
    for i in range(len(L)):
        order = sorted(range(len(R)), key=lambda j: (d2[i, j], j))
        kept = [j for j in order if d2[i, j] <= r * r][:k]
        exp.extend(
            (i, rk + 1, j, d2[i, j]) for rk, j in enumerate(kept)
        )
    assert got == sorted(exp)
    # the isolated rows must contribute nothing (not k far matches)
    assert not any(lid < 5 for lid, *_ in got)


def test_sjoin_knn_max_radius_validates(spark):
    from spatialpandas_spark.operators.knn import sjoin_knn

    left = spark.createDataFrame(
        [(0, {"x": 0.0, "y": 0.0})], "lid long, geom struct<x:double,y:double>"
    )
    with pytest.raises(ValueError):
        sjoin_knn(left, left.selectExpr("lid as rid", "geom"), k=1,
                  max_radius=0.0)


def test_sjoin_dwithin_matches_bruteforce(spark):
    """Every within-radius pair exactly once, squared distances exact,
    including pairs straddling cell boundaries and boundary-equal
    distances (d == r kept: <=)."""
    import numpy as np

    from spatialpandas_spark.operators.knn import sjoin_dwithin

    rng = np.random.default_rng(23)
    L = rng.uniform(0, 50, (70, 2))
    R = rng.uniform(0, 50, (90, 2))
    left = spark.createDataFrame(
        [(i, {"x": float(x), "y": float(y)}) for i, (x, y) in enumerate(L)],
        "lid long, geom struct<x:double,y:double>",
    )
    right = spark.createDataFrame(
        [(j, {"x": float(x), "y": float(y)}) for j, (x, y) in enumerate(R)],
        "rid long, geom struct<x:double,y:double>",
    )
    r = 4.0
    got = sorted(
        (x["lid"], x["rid"], x["dist2"])
        for x in sjoin_dwithin(left, right, r).collect()
    )
    d2 = ((L[:, None, :] - R[None, :, :]) ** 2).sum(-1)
    exp = sorted(
        (i, j, d2[i, j])
        for i in range(len(L))
        for j in range(len(R))
        if d2[i, j] <= r * r
    )
    assert got == exp and len(exp) > 100
    # no duplicate pairs (report-once by construction)
    assert len({(a, b) for a, b, _ in got}) == len(got)


def test_sjoin_dwithin_boundary_and_validation(spark):
    from spatialpandas_spark.operators.knn import sjoin_dwithin

    left = spark.createDataFrame(
        [(0, {"x": 0.0, "y": 0.0})], "lid long, geom struct<x:double,y:double>"
    )
    right = spark.createDataFrame(
        [(1, {"x": 3.0, "y": 4.0}), (2, {"x": 3.0, "y": 4.001})],
        "rid long, geom struct<x:double,y:double>",
    )
    rows = sjoin_dwithin(left, right, 5.0).collect()  # d=5 exactly kept
    assert [(r["rid"], r["dist2"]) for r in rows] == [(1, 25.0)]
    with pytest.raises(ValueError):
        sjoin_dwithin(left, right, 0.0)


@pytest.mark.parametrize(
    "kwargs, bound, rounds, sweep",
    [
        # grid only: round 2 runs a jump (level 1) beside the quad-step
        # (level 2); the isolated queries quad-step through empty
        # neighborhoods (4, 6), then jump once they have k candidates (8)
        (
            {"residual_bf_rows": 0}, None,
            [([0], 18), ([1, 2], 5), ([4], 2), ([6], 2), ([8], 0)],
            "not run",
        ),
        # the radius-covering level is 5: the last round pins nothing,
        # and the isolated queries, still empty there, are dropped
        (
            {"residual_bf_rows": 0, "max_radius": 8.0}, None,
            [([0], 18), ([1, 2], 5), ([4], 2), ([5], None)],
            "not run",
        ),
        # 23 queries are more than the sweep takes: round 0 runs on the
        # grid, then the residual sweep takes all 18 after round 1
        ({"residual_bf_rows": 20}, None, [([0], 18)], "on 18 rows"),
        # default arguments: 23 x 120 pairs is a small sweep, so every
        # query goes to the residual sweep and no grid round runs
        ({}, None, [], "on 23 rows"),
        # one pair above the first-round bound: the grid runs round 0
        ({}, 23 * 120 - 1, [([0], 18)], "on 18 rows"),
    ],
    ids=["grid", "radius-cutoff", "residual", "sweep-first", "above-bound"],
)
def test_knn_fused_rounds_match_brute_force(
    spark, caplog, monkeypatch, kwargs, bound, rounds, sweep
):
    """Every round is one pinned, ranked frame carrying the resolve verdict
    and the next level, with a placeholder row for lids whose
    neighborhood is empty. Exercised here: level jumps, quad-steps, empty
    neighborhoods, the max_radius cutoff drop, the residual sweep after a
    round and, for a small whole query side, before any round."""
    if bound is not None:
        monkeypatch.setattr(knnmod, "_SWEEP_FIRST_PAIRS", bound)
    caplog.set_level(logging.DEBUG, logger=KNN_LOG)
    lpts, rpts = multi_round_points()
    got = _got(
        sjoin_knn(
            _mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"),
            k=3, cell_size=0.25, **kwargs,
        )
    )
    assert _rounds(caplog) == rounds
    assert caplog.records[-1].getMessage() == (
        f"sjoin_knn: {len(rounds)} rounds, residual sweep {sweep}"
    )
    assert got == _oracle(lpts, rpts, 3, kwargs.get("max_radius"))
    if "max_radius" in kwargs:
        assert len(got) == len(lpts) - 2  # both isolated queries dropped


def test_knn_logs_rounds_and_residual_switch(spark, caplog):
    """DEBUG records name the first-round choice with its inputs, the cell
    size and its source, the level bounds, every round's levels and
    unresolved count, and the residual switch."""
    caplog.set_level(logging.DEBUG, logger=KNN_LOG)
    lpts, rpts = multi_round_points()
    got = _got(
        sjoin_knn(
            _mk(spark, lpts, "lid"), _mk(spark, rpts, "rid"),
            k=3, cell_size=0.25, residual_bf_rows=2,
        )
    )
    assert got == _oracle(lpts, rpts, 3)
    msgs = [r.getMessage() for r in caplog.records if r.name == KNN_LOG]
    assert msgs == [
        "sjoin_knn: first round grid (n_left=23, n_right=120, pairs=2760, "
        "sweep bound 33554432 pairs)",
        "sjoin_knn: cell_size=0.25 (given), max_lvl=10, cutoff_lvl=None",
        "sjoin_knn round 1: levels [0], 18 unresolved",
        "sjoin_knn round 2: levels [1, 2], 5 unresolved",
        "sjoin_knn round 3: levels [4], 2 unresolved",
        "sjoin_knn: 3 rounds, residual sweep on 2 rows",
    ]


def test_radius_covering_calls_run_no_spark_job(spark):
    """With the default cell (= the radius) the level loop has one round,
    which is final: the call builds a plan and launches no job."""
    lpts, rpts = multi_round_points()
    left, right = _mk(spark, lpts, "lid"), _mk(spark, rpts, "rid")
    sc = spark.sparkContext
    group = "knn-radius-covering-call"
    sc.setJobGroup(group, "radius-covering kNN calls")
    try:
        nearest = sjoin_nearest(left, right, max_distance=3.0)
        knn = sjoin_knn(left, right, k=3, max_radius=3.0)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        got = _got(knn)
        # the probe does see jobs once an action runs
        assert sc.statusTracker().getJobIdsForGroup(group)
        near = {r["lid"]: r["rid"] for r in nearest.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    want = _oracle(lpts, rpts, 3, 3.0)
    assert got == want
    assert near == {lid: nb[0][0] for lid, nb in want.items()}


@pytest.mark.parametrize(
    "id_type, make_id",
    [
        ("int", lambda i: i),
        ("decimal(12,2)", lambda i: decimal.Decimal(i) / 4),
        ("date", lambda i: datetime.date(2020, 1, 1) + datetime.timedelta(days=i)),
        ("string", lambda i: f"q{i}"),
    ],
)
def test_knn_keeps_left_id_type_through_residual_sweep(
    spark, caplog, monkeypatch, id_type, make_id
):
    """The residual sweep declares the left id type of its input: the
    output id type equals the caller's, whichever path resolves a row —
    a grid round then the sweep (the output unions both), or the sweep
    alone under the first-round rule."""
    caplog.set_level(logging.DEBUG, logger=KNN_LOG)
    rng = np.random.default_rng(31)
    rpts = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(0, 20, (60, 2)))]
    # the last query is far outside the corpus: round 0 cannot resolve it
    qs = [*rng.uniform(0, 20, (12, 2)), (500.0, 500.0)]
    lpts = [(make_id(i), float(x), float(y)) for i, (x, y) in enumerate(qs)]
    left = _mk(spark, lpts, "lid", id_type)
    for _ in _both_paths(monkeypatch):
        out = sjoin_knn(left, _mk(spark, rpts, "rid"), k=3, cell_size=4.0)
        assert out.schema["lid"].dataType == left.schema["lid"].dataType
        assert _got(out) == _oracle(lpts, rpts, 3)
        assert "residual sweep on" in caplog.records[-1].getMessage()
