"""Spark jobs per call of the join operators that perfbench's ``join``
workload drives, on a smaller seeded copy of its inputs: query points
(plus far outliers no first grid round resolves) against a point corpus,
and small and large diamonds for ``sjoin``.

Each case pins ``(jobs at call time, jobs at collect())`` on a warm
second call. Counts before kNN's first-round rule → with it:

- ``sjoin_knn`` (default arguments, 204k pairs, the sweep path):
  call 7 → 3 (statistics 2, left collect 1; the grid added the cell
  estimator's sample 1 and round 0's eager pin 3), collect 2 → 2;
- ``sjoin_knn`` with ``residual_bf_rows=0`` (the grid, every round):
  call 12 → 12, collect 1 → 1;
- ``sjoin_nearest`` (radius-covering, no statistics job): call 0 → 0,
  collect 5 → 5;
- ``sjoin_dwithin``: call 0 → 0, collect 2 → 2;
- ``sjoin`` broadcast: call 0 → 0, collect 2 → 2;
- ``sjoin`` grid: call 0 → 0, collect 2 → 2.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark import sjoin, st_make_diamond, st_point, with_bounds
from spatialpandas_spark.operators.knn import sjoin_dwithin, sjoin_knn, sjoin_nearest

EXTENT = 200.0


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(41)
    n, n_small, n_big, n_q = 2_000, 400, 10, 100

    def points(ids, x, y, id_col):
        df = spark.createDataFrame(pd.DataFrame({id_col: ids, "x": x, "y": y}))
        return df.select(id_col, st_point(F.col("x"), F.col("y")).alias("geom"))

    def diamonds(ids, x, y, r):
        df = spark.createDataFrame(pd.DataFrame({"did": ids, "x": x, "y": y, "r": r}))
        poly = st_make_diamond(F.col("x"), F.col("y"), F.col("r")).alias("poly")
        return with_bounds(df.select("did", poly), "poly", "polygon")

    pts = points(np.arange(n), *rng.uniform(0, EXTENT, (2, n)), "id")
    far = np.array([-100.0, -60.0])
    qs = points(
        np.arange(n_q + len(far)) + 10_000,
        np.concatenate([rng.uniform(0, EXTENT, n_q), far]),
        np.concatenate([rng.uniform(0, EXTENT, n_q), far]),
        "qid",
    )
    return {
        "pts": pts,
        "qs": qs,
        "corpus": with_bounds(pts, "geom", "point"),
        "small": diamonds(
            np.arange(n_small), *rng.uniform(0, EXTENT, (2, n_small)),
            rng.uniform(0.5, 3.0, n_small),
        ),
        "big": diamonds(
            np.arange(n_big), *rng.uniform(20, 180, (2, n_big)),
            rng.uniform(5.0, 15.0, n_big),
        ),
    }


SJOIN_KW = dict(
    left_geom="geom", right_geom="poly", left_type="point", right_type="polygon"
)

CALLS = {
    "sjoin_knn-sweep": lambda f: sjoin_knn(
        f["qs"], f["pts"], k=5, left_id="qid", right_id="id"
    ),
    "sjoin_knn-grid": lambda f: sjoin_knn(
        f["qs"], f["pts"], k=5, left_id="qid", right_id="id", residual_bf_rows=0
    ),
    "sjoin_nearest": lambda f: sjoin_nearest(
        f["qs"], f["pts"], max_distance=6.0, how="left", left_id="qid", right_id="id"
    ),
    "sjoin_dwithin": lambda f: sjoin_dwithin(
        f["qs"], f["pts"], 3.0, left_id="qid", right_id="id"
    ),
    "sjoin-broadcast": lambda f: sjoin(
        f["corpus"], f["big"], strategy="broadcast", **SJOIN_KW
    ),
    "sjoin-grid": lambda f: sjoin(
        f["corpus"], f["small"], strategy="grid", cell_size=10.0, **SJOIN_KW
    ),
}

# (jobs at call time, jobs at collect()), see the module docstring
JOBS = {
    "sjoin_knn-sweep": (3, 2),
    "sjoin_knn-grid": (12, 1),
    "sjoin_nearest": (0, 5),
    "sjoin_dwithin": (0, 2),
    "sjoin-broadcast": (0, 2),
    "sjoin-grid": (0, 2),
}


@pytest.mark.parametrize("op", sorted(CALLS))
def test_join_jobs_per_call_and_collect_pinned(frames, op, jobs_in):
    CALLS[op](frames).collect()  # warm: plan caches, Python workers
    out, n_call = jobs_in(f"join-jobs-{op}-call", lambda: CALLS[op](frames))
    rows, n_collect = jobs_in(f"join-jobs-{op}-collect", out.collect)
    assert rows
    assert (n_call, n_collect) == JOBS[op]
