"""sjoin vs brute-force oracle: both physical strategies, all join types,
suffix handling (reference compares against geopandas.sjoin for all hows,
SURVEY.md §5.1 / ref tests/tools/test_sjoin.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark import sjoin, st_point
from tests import geomgen, oracles

RNG = np.random.default_rng(11)


@pytest.fixture(scope="module")
def fixtures(spark):
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(RNG.uniform(-60, 60, (250, 2)))]
    polys = geomgen.gen_polygons(RNG, 30)
    left = spark.createDataFrame(pts, "pid long, x double, y double").select(
        "pid", "x", "y", st_point(F.col("x"), F.col("y")).alias("geom")
    )
    right = spark.createDataFrame(polys, "gid long, geom array<array<double>>")
    expect = set()
    for pid, x, y in pts:
        for gid, poly in polys:
            if oracles.point_in_polygon(x, y, poly):
                expect.add((pid, gid))
    return left, right, pts, polys, expect


def test_inner_broadcast(spark, fixtures):
    left, right, pts, polys, expect = fixtures
    j = sjoin(left, right, left_geom="geom", right_geom="geom",
              left_type="point", right_type="polygon")
    # same-name geometry columns must be suffixed independently
    assert j.columns.count("geom_left") == 1
    assert j.columns.count("geom_right") == 1
    got = {(r["pid"], r["gid"]) for r in j.collect()}
    assert got == expect


def test_inner_grid(spark, fixtures):
    left, right, pts, polys, expect = fixtures
    j = sjoin(left, right, left_geom="geom", right_geom="geom",
              left_type="point", right_type="polygon",
              strategy="grid", cell_size=20.0)
    got = {(r["pid"], r["gid"]) for r in j.collect()}
    assert got == expect


def test_left_join_keeps_unmatched(spark, fixtures):
    left, right, pts, polys, expect = fixtures
    j = sjoin(left, right, left_geom="geom", right_geom="geom",
              left_type="point", right_type="polygon", how="left")
    rows = j.collect()
    matched_pids = {p for p, _ in expect}
    got_pairs = {(r["pid"], r["gid"]) for r in rows if r["gid"] is not None}
    got_null_pids = {r["pid"] for r in rows if r["gid"] is None}
    assert got_pairs == expect
    assert got_null_pids == {p for p, _, _ in pts} - matched_pids


def test_right_join_keeps_unmatched_polys(spark, fixtures):
    left, right, pts, polys, expect = fixtures
    j = sjoin(left, right, left_geom="geom", right_geom="geom",
              left_type="point", right_type="polygon", how="right")
    rows = j.collect()
    matched_gids = {g for _, g in expect}
    got_pairs = {(r["pid"], r["gid"]) for r in rows if r["pid"] is not None}
    got_null_gids = {r["gid"] for r in rows if r["pid"] is None}
    assert got_pairs == expect
    assert got_null_gids == {g for g, _ in polys} - matched_gids


def test_colliding_payload_columns_suffixed(spark):
    left = spark.createDataFrame(
        [(1, 0.5, 0.5, 100)], "id long, x double, y double, v long"
    ).select("id", "v", st_point(F.col("x"), F.col("y")).alias("geom"))
    right = spark.createDataFrame(
        [(7, [[0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 0.0]], 200)],
        "id long, poly array<array<double>>, v long",
    )
    j = sjoin(left, right, left_geom="geom", right_geom="poly",
              left_type="point", right_type="polygon")
    row = j.first()
    assert row["v_left"] == 100 and row["v_right"] == 200
    assert row["id_left"] == 1 and row["id_right"] == 7


def test_invalid_args_raise(spark, fixtures):
    left, right, *_ = fixtures
    with pytest.raises(ValueError):
        sjoin(left, right, how="full")
    with pytest.raises(ValueError):
        sjoin(left, right, op="within")
    with pytest.raises(ValueError):
        sjoin(left, right, strategy="grid")  # missing cell_size


def test_point_point_equality_join(spark):
    a = spark.createDataFrame([(1, 1.0, 2.0), (2, 3.0, 4.0)], "aid long, x double, y double")
    a = a.select("aid", st_point(F.col("x"), F.col("y")).alias("geom"))
    b = spark.createDataFrame([(9, 1.0, 2.0)], "bid long, x double, y double")
    b = b.select("bid", st_point(F.col("x"), F.col("y")).alias("geom"))
    j = sjoin(a, b, left_geom="geom", right_geom="geom",
              left_type="point", right_type="point")
    rows = j.collect()
    assert [(r["aid"], r["bid"]) for r in rows] == [(1, 9)]


def test_grid_outer_joins_match_broadcast(spark):
    """Grid-strategy left/right joins (inner + anti-join recovery) produce
    exactly the broadcast strategy's result."""
    import numpy as np

    from spatialpandas_spark import sjoin, st_make_diamond, st_point

    rng = np.random.default_rng(7)
    pts_rows = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(0, 100, (800, 2)))
    ]
    pts = spark.createDataFrame(pts_rows, "pid long, x double, y double").select(
        "pid", st_point(F.col("x"), F.col("y")).alias("geom")
    )
    dias = spark.range(6).select(
        F.col("id").alias("did"),
        st_make_diamond(
            (F.col("id") * 18 + 8).cast("double"),
            (F.col("id") * 13 + 11).cast("double"),
            F.lit(7.5),
        ).alias("poly"),
    )

    def norm(df):
        return {
            (r["pid"], r["did"])
            for r in df.select("pid", "did").collect()
        }

    for how in ("left", "right"):
        b = sjoin(
            pts, dias, left_geom="geom", right_geom="poly",
            left_type="point", right_type="polygon", how=how,
        )
        g = sjoin(
            pts, dias, left_geom="geom", right_geom="poly",
            left_type="point", right_type="polygon", how=how,
            strategy="grid", cell_size=20.0,
        )
        assert norm(g) == norm(b), how
        assert g.count() == b.count(), how


def test_sjoin_point_multipolygon_matches_oracle(spark):
    """Point × multipolygon through both strategies equals a plain-Python
    diamond-membership oracle: a point is in a multipolygon when it lies
    in either of its two disjoint diamonds (|x-cx| + |y-cy| <= r)."""
    from spatialpandas_spark import st_make_diamond

    rng = np.random.default_rng(13)
    pts_rows = [
        (i, float(x), float(y))
        for i, (x, y) in enumerate(rng.uniform(0, 100, (1500, 2)))
    ]
    pts = spark.createDataFrame(pts_rows, "pid long, x double, y double").select(
        "pid", st_point(F.col("x"), F.col("y")).alias("geom")
    )
    # piece a lies in x < 45, piece b in x > 50: never overlapping
    rad = 4.5
    parts = [
        (d, 5.0 + 5 * d, 10.0 + 11 * d, 55.0 + 5 * d, 90.0 - 11 * d)
        for d in range(8)
    ]
    mp = spark.createDataFrame(
        parts, "did long, ax double, ay double, bx double, by double"
    ).select(
        "did",
        F.array(
            st_make_diamond(F.col("ax"), F.col("ay"), F.lit(rad)),
            st_make_diamond(F.col("bx"), F.col("by"), F.lit(rad)),
        ).alias("poly"),
    )
    expect = {
        (pid, did)
        for pid, x, y in pts_rows
        for did, ax, ay, bx, by in parts
        if abs(x - ax) + abs(y - ay) <= rad or abs(x - bx) + abs(y - by) <= rad
    }
    assert expect
    for strat, cs in (("broadcast", None), ("grid", 7.0)):
        j = sjoin(pts, mp, left_geom="geom", right_geom="poly",
                  left_type="point", right_type="multipolygon",
                  strategy=strat, cell_size=cs)
        got = {(r["pid"], r["did"]) for r in j.collect()}
        assert got == expect, strat


def test_auto_strategy_small_side_broadcasts(spark, fixtures, tmp_path):
    """auto needs a REAL size estimate to choose broadcast, so the right
    side comes from parquet (file-size stats); in-memory frames have a
    worthless huge default estimate and conservatively grid instead —
    the safe choice, covered by the next test."""
    from spatialpandas_spark.plans.inspect import physical_plan

    left, right, pts, polys, expect = fixtures
    p = str(tmp_path / "right.parquet")
    right.write.parquet(p)
    right_pq = spark.read.parquet(p)
    j = sjoin(left, right_pq, left_geom="geom", right_geom="geom",
              left_type="point", right_type="polygon", strategy="auto")
    assert "BroadcastNestedLoopJoin" in physical_plan(j)
    got = {(r["pid"], r["gid"]) for r in j.collect()}
    assert got == expect


def test_auto_strategy_big_side_grids(spark, fixtures):
    from spatialpandas_spark.plans.inspect import physical_plan

    left, right, pts, polys, expect = fixtures
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        j = sjoin(left, right, left_geom="geom", right_geom="geom",
                  left_type="point", right_type="polygon", strategy="auto")
        plan = physical_plan(j)
        # the grid plan is a hash equi-join on cells, never a BNLJ
        assert "BroadcastNestedLoopJoin" not in plan, plan
        got = {(r["pid"], r["gid"]) for r in j.collect()}
        assert got == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_auto_grid_estimates_cell_size_for_points(spark, fixtures):
    """Degenerate right-side bounds (points) fall back to the sampled
    extent — the estimator never returns a zero/NaN cell."""
    left, right, pts, polys, expect = fixtures
    ptsr = spark.createDataFrame(
        pts, "gid long, x double, y double"
    ).select("gid", st_point(F.col("x"), F.col("y")).alias("geom"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        j = sjoin(left, ptsr, left_geom="geom", right_geom="geom",
                  left_type="point", right_type="point", strategy="auto")
        got = {(r["pid"], r["gid"]) for r in j.collect()}
        want = {(pid, pid) for pid, _, _ in pts}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_grid_keeps_caller_cell_and_runs_no_job(spark, fixtures, monkeypatch):
    """A caller's grid cell is used as given: even with a huge size
    estimate the call samples nothing (it builds a plan and launches no
    Spark job), and the result is the same for any cell size."""
    import importlib

    sjmod = importlib.import_module("spatialpandas_spark.operators.sjoin")
    monkeypatch.setattr(sjmod, "_plan_size_bytes", lambda df: 1 << 40)
    left, right, pts, polys, expect = fixtures

    def run(cell_size):
        return sjoin(left, right, left_geom="geom", right_geom="geom",
                     left_type="point", right_type="polygon",
                     strategy="grid", cell_size=cell_size)

    def pairs(j):
        return {(r["pid"], r["gid"]) for r in j.collect()}

    sc = spark.sparkContext
    group = "sjoin-grid-caller-cell"
    sc.setJobGroup(group, "grid sjoin with a caller cell")
    try:
        j = run(1000.0)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        got = pairs(j)
        # the probe does see jobs once an action runs
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == expect
    for cell_size in (20.0, 2.5):
        assert pairs(run(cell_size)) == expect, cell_size
