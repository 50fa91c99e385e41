"""Exact k-nearest-neighbor spatial join for point sets.

``sjoin_knn(left, right, k)`` pairs every left point with its ``k``
nearest right points by euclidean distance (ties broken by right id —
fully deterministic). The scale design is a *level-doubling grid join*:

- round j buckets both sides into cells of width ``cell_size * 2^j`` and
  joins each unresolved left point against the 3×3 cell neighborhood —
  constant fan-out (9 cells) per left per round, a plain hash equi-join
  on the cell key;
- a left row is RESOLVED at round j when its k-th candidate distance is
  <= the cell width: the 3×3 neighborhood provably contains every point
  within one cell width, so nothing closer can live outside it (the
  standard grid-ring guarantee);
- unresolved rows (sparse neighborhoods) escalate to the next level,
  where cells are twice as wide. Levels are logarithmic in
  (extent / cell_size); the final level covers the whole extent, so
  every row terminates — worst case it degrades to brute force exactly
  for the rows that need it, never for the bulk.

Each round shuffles only the still-unresolved lefts (typically a
vanishing fraction after round 0 when ``cell_size`` is near the k-th
neighbor distance) plus one re-bucketing pass over the right side. The
per-left candidate ranking uses a window keyed by left id over
neighborhood-bounded candidates — never the whole corpus.

Round shape: the candidate join plus one placeholder row per unresolved
left (so a left with an empty neighborhood still reaches the window) is
ranked, and the same window yields each left's resolve verdict and next
level. A non-final round runs exactly one Spark job, the eager pin of
that ranked frame; the unresolved count and the next active levels are
read from an ``Observation`` of that job, the round's results and the
next unresolved set are filters on the pinned frame. The final round
(every row at the last level, where each resolves or is cut off) pins
nothing: its results stay lazy for the caller's action, so a
radius-covering call launches no job at all. Level choices, round
counts and the residual switch are logged at DEBUG.

Out-of-distribution queries (far from every corpus point) are the
level-doubling plan's bad case: by the time the cell width reaches
their isolation distance, a 3x3 neighborhood IS the whole corpus, and
those candidates would flow through a shuffle + window (measured 294 s
for 11k far queries x 60k corpus at sf0.01). So once the unresolved
residual is small, the operator switches to a *vectorized brute-force
sweep*: the residual queries ride into an Arrow ``mapInPandas`` over
the corpus, each partition emits its local top-k per query (numpy block
distances, identical IEEE op order to the grid path so ``dist2`` stays
bit-exact), and only ``n_partitions * n_residual * k`` survivor rows
reach the final ranking window. Same exact semantics, one corpus scan,
no candidate shuffle.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spatialpandas_spark.materialize import materialize

log = logging.getLogger(__name__)


def estimate_knn_cell_size(
    right: DataFrame,
    k: int,
    right_geom: str = "geom",
    sample_rows: int = 8192,
    n_queries: int = 128,
    n: int | None = None,
) -> float:
    """Estimate the k-th-NN distance of ``right`` by sampling, for use as
    ``sjoin_knn``'s round-0 ``cell_size``.

    Scale design: never collects more than ``sample_rows`` (x,y) pairs.
    A bounded sample of the corpus (fraction ``f``) is pulled to the
    driver; for ``n_queries`` of those points we compute their
    ``k' = max(1, round(k*f))``-th NN distance *within the sample* with
    one numpy distance block, then rescale by the 2-D Poisson relation
    ``r_k ~ sqrt(k / density)``: the sample has density ``f * d_full``,
    so ``r_full(k) = r_sample(k') * sqrt(k * f / k')``. The median over
    query points makes the estimate robust to local density spikes.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    import numpy as np

    xy = right.select(
        F.col(right_geom)["x"].alias("x"), F.col(right_geom)["y"].alias("y")
    )
    if n is None:
        n = xy.count()
    if n < 2:
        raise ValueError("need at least 2 right rows to estimate cell_size")
    f = min(1.0, sample_rows / n)
    # slight oversample, truncate driver-side: a .limit() here costs an
    # incremental multi-stage job (profiled: 5 jobs on b16), while a
    # plain sampled scan is ONE job and toPandas rides the Arrow fast
    # path instead of row-pickled collect (round-14: the Row->numpy
    # conversion was the single largest driver gap in the b16 profile)
    samp = xy.sample(fraction=min(1.0, f * 1.2), seed=7)
    pts = samp.toPandas().to_numpy(dtype=np.float64)[:sample_rows]
    m = len(pts)
    if m < 2:
        pts = xy.limit(sample_rows).toPandas().to_numpy(dtype=np.float64)
        m = len(pts)
    f_eff = m / n
    kp = max(1, int(round(k * f_eff)))
    kp = min(kp, m - 1)
    rng = np.random.default_rng(7)
    qidx = rng.choice(m, size=min(n_queries, m), replace=False)
    q = pts[qidx]  # (q, 2)
    # chunked (q, m) squared-distance blocks: peak driver allocation is
    # bounded by chunk*m doubles (~2 MB) instead of n_queries*m (the
    # round-14 profile caught the one-shot 120 MB block dominating the
    # call during a memory-bandwidth-degraded machine phase)
    kth = np.empty(len(q))
    for s in range(0, len(q), 32):
        qc = q[s : s + 32]
        d2 = (qc[:, None, 0] - pts[None, :, 0]) ** 2 + (
            qc[:, None, 1] - pts[None, :, 1]
        ) ** 2
        # k'-th *neighbor* excludes self (distance 0 at position 0)
        kth[s : s + 32] = np.sqrt(np.partition(d2, kp, axis=1)[:, kp])
    r_sample = float(np.median(kth))
    r_full = r_sample * math.sqrt(k * f_eff / kp)
    return max(r_full, 1e-12)


def _residual_bruteforce(r0: DataFrame, rows, k: int, lid_type) -> DataFrame:
    """Exact top-k for a small collected residual query set: one Arrow
    pass over the corpus, per-partition partial top-k (numpy), survivors
    ranked by a window over at most n_partitions * n_queries * k rows.

    ``rows`` are collected (__lid, __lx, __ly) Rows — bounded by the
    caller's residual threshold — and ``lid_type`` is their ``__lid``
    Spark type, so the sweep's output unions with the grid path's
    without widening or a failed Arrow conversion. Distance arithmetic
    matches the grid path op-for-op ((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)),
    elementwise IEEE double sub/mul/add, so ``dist2`` is bit-identical
    whichever path resolves a row."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    lids = np.asarray([r["__lid"] for r in rows])
    lx = np.asarray([r["__lx"] for r in rows], dtype=np.float64)
    ly = np.asarray([r["__ly"] for r in rows], dtype=np.float64)
    schema = StructType(
        [
            StructField("__lid", lid_type),
            StructField("__rid", r0.schema["__rid"].dataType),
            StructField("__d2", DoubleType()),
        ]
    )

    def _reduce(q, v, d):
        idx = np.lexsort((v, d, q))
        q, v, d = q[idx], v[idx], d[idx]
        starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        sizes = np.diff(np.r_[starts, len(q)])
        rank = np.arange(len(q)) - np.repeat(starts, sizes)
        keep = rank < k
        return q[keep], v[keep], d[keep]

    # bound each distance block to chunk x partition_rows doubles
    chunk = 128

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rx = pdf["__rx"].to_numpy(dtype=np.float64)
            ry = pdf["__ry"].to_numpy(dtype=np.float64)
            rid = pdf["__rid"].to_numpy()
            for s in range(0, len(lids), chunk):
                qx, qy = lx[s : s + chunk], ly[s : s + chunk]
                dx = qx[:, None] - rx[None, :]
                dy = qy[:, None] - ry[None, :]
                d2 = dx * dx + dy * dy  # (chunk, n) — same ops as grid path
                kk = min(k, d2.shape[1])
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                qi = np.repeat(np.arange(d2.shape[0]), kk)
                acc.append(
                    (
                        lids[s : s + chunk][qi],
                        rid[part.ravel()],
                        d2[qi, part.ravel()],
                    )
                )
        if acc:
            q, v, d = (np.concatenate([a[i] for a in acc]) for i in range(3))
            q, v, d = _reduce(q, v, d)
            yield pd.DataFrame({"__lid": q, "__rid": v, "__d2": d})

    survivors = r0.mapInPandas(part_topk, schema=schema)
    wnd = Window.partitionBy("__lid").orderBy(
        F.col("__d2").asc(), F.col("__rid").asc()
    )
    return (
        survivors.withColumn("__rk", F.row_number().over(wnd))
        .filter(F.col("__rk") <= k)
    )


def sjoin_knn(
    left: DataFrame,
    right: DataFrame,
    k: int,
    cell_size: float | None = None,
    left_id: str = "lid",
    right_id: str = "rid",
    left_geom: str = "geom",
    right_geom: str = "geom",
    extent: float | None = None,
    residual_bf_rows: int = 65536,
    residual_bf_budget: float = 5e9,
    max_radius: float | None = None,
) -> DataFrame:
    """Exact kNN join of two point frames (struct<x,y> geometry columns).

    Output: (left_id, right_id, dist2, rank) — squared distance (exact
    double arithmetic, no sqrt) and 1-based rank per left row; rows with
    rank <= min(k, |right|). ``cell_size`` tunes round-0 selectivity:
    pick ~ the expected k-th neighbor distance, or omit it to have it
    estimated from a bounded sample (``estimate_knn_cell_size``).
    ``extent`` (max of the data's x/y span) bounds the level count;
    computed from the right side when omitted (one tiny agg job).

    ``max_radius`` bounds the search: the result becomes "the k nearest
    within ``max_radius``" (possibly fewer than k rows per left row,
    none for isolated rows) and — the scale point — the level-doubling
    loop STOPS once the cell width reaches the radius, because a 3x3
    neighborhood at width >= r provably contains every point within r.
    Without it, a single isolated left row forces expansion to the full
    extent; with it, sparse-region queries cost a constant number of
    rounds regardless of how empty their neighborhood is. Exactness is
    unchanged: candidates beyond the radius are filtered, candidates
    within it are guaranteed found.

    Right rows with a null ``right_id`` are ignored."""
    if k <= 0:
        raise ValueError("k must be positive")
    if max_radius is not None and not max_radius > 0:
        raise ValueError("max_radius must be positive")

    l0 = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_geom)["x"].alias("__lx"),
        F.col(left_geom)["y"].alias("__ly"),
    )
    # a null __rid marks a left row's no-candidate placeholder in the
    # level loop, so right rows without an id take no part
    r0 = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_geom)["x"].alias("__rx"),
        F.col(right_geom)["y"].alias("__ry"),
    ).filter(F.col("__rid").isNotNull())

    # ONE agg job yields the corpus count (feeds the cell-size estimator
    # and the residual-budget check) AND, when the level loop will need
    # an extent, the min/max bounds of the UNION of both point sets —
    # the separate left-side bounds job this replaces was a full extra
    # job chain per call (round-14 b16 profile). The union bounds are
    # exactly min/max over both sides, and an empty left side degrades
    # to right-only bounds automatically. The left scan is skipped
    # whenever the extent provably won't be used: caller passed one, or
    # the radius-covering level is 0 (cell_size defaulting to
    # max_radius, or an explicit cell_size >= max_radius).
    # radius-covering calls need NO statistics job at all: with cell
    # width >= max_radius the 3x3 neighborhood covers the cutoff disc, so
    # the loop below terminates after round 0 for every input — rows with
    # candidates resolve (lvl >= max_lvl = 0), rows with an empty
    # neighborhood are provably isolated and cutoff-dropped — and the
    # residual sweep (the only n_right consumer) is unreachable. An empty
    # corpus degrades to the same empty result through the same round.
    # Round-14: the up-front count+bounds aggregation was ~25% of
    # b27_sjoin_nearest's wall for a value the call never used.
    radius_covers = max_radius is not None and (
        cell_size is None or cell_size >= max_radius
    )
    cell_source = "given"
    if not radius_covers:
        # the narrow (id, x, y) projections are read several times per
        # call — the statistics aggregation, the estimator's sample,
        # every round's bucketing, the residual sweep (round-14 profile:
        # b16 executed the corpus scan+project subtree 4x) — so pin each
        # to one lazily materialized RDD. The radius-covering path reads
        # each side exactly once (round 0 only), where a pin would
        # be pure overhead.
        l0 = materialize(l0, eager=False)
        r0 = materialize(r0, eager=False)
    if radius_covers:
        n_right = None
        if cell_size is None:
            # radius-bounded default: at cell = max_radius the 3x3 covers
            # the whole cutoff disc, so EVERY row resolves in round 0 —
            # one join, no sampling-estimator job, no residual sweep.
            # Candidate volume is 9 * density * r^2 per query — the
            # inherent cost of a radius query; pass an explicit cell_size
            # if the radius is large relative to the point density
            # (measured on b27: 19k queries x 600k corpus, 8.9 s ->
            # 3.1 s, identical output).
            cell_size = float(max_radius)
            cell_source = "max_radius"
    else:
        need_lb = extent is None
        sides = r0.select(
            F.lit(1).alias("__isr"),
            F.col("__rx").alias("__x"),
            F.col("__ry").alias("__y"),
        )
        if need_lb:
            sides = sides.unionByName(
                l0.select(
                    F.lit(0).alias("__isr"),
                    F.col("__lx").alias("__x"),
                    F.col("__ly").alias("__y"),
                )
            )
        ustat = sides.agg(
            F.sum("__isr").alias("n"),
            F.max("__x").alias("x1"), F.min("__x").alias("x0"),
            F.max("__y").alias("y1"), F.min("__y").alias("y0"),
        ).first()
        n_right = ustat["n"] or 0
        if n_right == 0:
            return l0.sparkSession.createDataFrame(
                [], f"{left_id} long, {right_id} long, dist2 double, rank int"
            )
        if cell_size is None:
            # the estimator returns the MEDIAN k-th-NN distance, but a row
            # only resolves in round 0 when its k-th candidate is within ONE
            # cell width — at cell = median, ~half the rows miss that bound
            # and force a second full join round. 2.5x makes round-0
            # resolution the common case at ~O(100) candidates/row for small
            # k (measured on b16: 19k x 600k, 6.8 s -> 2.1-2.9 s, identical
            # output); explicit cell_size callers keep full control. The
            # sample reads the checkpointed projection (struct rebuilt so
            # the estimator's x/y field access resolves), not the caller's
            # subtree a third time.
            cell_source = "estimated"
            cell_size = 2.5 * estimate_knn_cell_size(
                r0.select(
                    F.struct(
                        F.col("__rx").alias("x"), F.col("__ry").alias("y")
                    ).alias(right_geom)
                ),
                k,
                right_geom=right_geom,
                n=n_right,
            )
    if cell_size <= 0:
        raise ValueError("cell_size must be positive")

    cutoff_lvl = None
    if max_radius is not None:
        # smallest level whose cell width covers the radius: at
        # width >= max_radius the 3x3 neighborhood contains every point
        # within max_radius, so searching wider proves nothing more
        cutoff_lvl = max(
            0, math.ceil(math.log2(max(max_radius, 1e-300) / cell_size))
        )

    if extent is None and cutoff_lvl == 0:
        # the radius-covering level is 0: the loop can never expand, so
        # a max_lvl fed by real bounds would already be pinned at 0
        extent = cell_size
    elif extent is None:
        # the last level's 3x3 must cover the farthest possible (left,
        # right) pair: the up-front union aggregation already spans
        # both point sets (right-only when the left side is empty)
        extent = max(
            ustat["x1"] - ustat["x0"], ustat["y1"] - ustat["y0"], cell_size
        )

    max_lvl = max(0, math.ceil(math.log2(extent / cell_size)) + 1)
    if cutoff_lvl is not None:
        max_lvl = min(max_lvl, cutoff_lvl)
    log.debug(
        "sjoin_knn: cell_size=%r (%s), max_lvl=%d, cutoff_lvl=%s",
        cell_size, cell_source, max_lvl, cutoff_lvl,
    )

    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    # every row carries its OWN grid level. Round 0 runs everyone at
    # level 0; afterwards each unresolved row jumps straight to the level
    # that provably resolves it: a row with >= k candidates knows an
    # upper bound sqrt(maxd2) on its true k-th distance, and at
    # lvl = ceil(log2(sqrt(maxd2)/cell)) the 3x3 neighborhood contains
    # every point within one cell width >= that bound — guaranteed
    # resolution in ONE more join round. Rows with < k candidates
    # (isolated) have no bound and quad-step (+2 levels); the residual
    # brute-force sweep usually absorbs them first.
    unresolved = l0.withColumn("__lvl", F.lit(0))
    results = []
    rounds = 0
    active = [0]
    n_residual = 0
    while True:
        rounds += 1
        # every row of a round at level >= max_lvl resolves (or, with an
        # empty neighborhood at the radius-covering level, is dropped), so
        # the final round computes no next level and pins nothing
        final = min(active) >= max_lvl
        # right side bucketed once per ACTIVE level (few), level in the key
        rj = r0.select(
            "__rid", "__rx", "__ry",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lvl).alias("lvl"),
                            F.floor(F.col("__rx") / F.lit(float(cell_size * 2**lvl))).alias("cx"),
                            F.floor(F.col("__ry") / F.lit(float(cell_size * 2**lvl))).alias("cy"),
                        )
                        for lvl in active
                    ]
                )
            ).alias("__cell"),
        )
        # each left row explodes its 3x3 neighborhood at its own level
        wexpr = F.lit(float(cell_size)) * F.pow(F.lit(2.0), F.col("__lvl").cast("double"))
        lj = unresolved.select(
            "__lid", "__lx", "__ly", "__lvl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col("__lvl").cast("int").alias("lvl"),
                            (F.floor(F.col("__lx") / wexpr) + dx).alias("cx"),
                            (F.floor(F.col("__ly") / wexpr) + dy).alias("cy"),
                        )
                        for dx, dy in offsets
                    ]
                )
            ).alias("__cell"),
        )
        # explicit products, not pow(): bit-identical to `(a-b)*(a-b)` in
        # any engine, so SQL oracles reproduce dist2 exactly
        ddx = F.col("__lx") - F.col("__rx")
        ddy = F.col("__ly") - F.col("__ry")
        d2 = ddx * ddx + ddy * ddy
        cand = lj.join(rj, "__cell").select(
            "__lid", "__lx", "__ly", "__lvl", "__rid", d2.alias("__d2")
        )
        if not final:
            # one placeholder row per unresolved lid (null __rid/__d2) so
            # a lid whose 3x3 neighborhood is empty still reaches the
            # window and gets its next level there. The candidate join
            # stays INNER: a left join would force the corpus to be the
            # build side, and AQE could no longer broadcast the tiny
            # late-round unresolved set.
            cand = cand.unionByName(unresolved, allowMissingColumns=True)
        wnd = Window.partitionBy("__lid").orderBy(
            F.col("__d2").asc_nulls_last(), F.col("__rid").asc_nulls_last()
        )
        # the per-row top-k survivors (<= |unresolved| * k rows — tiny)
        # carry the resolve verdict and the next level as window
        # aggregates over the partitioning the ranking window already
        # shuffled by: no extra exchange, and both the kept results and
        # the next unresolved set are plain filters on this one frame.
        # A placeholder is kept only at rank 1, i.e. for a lid with no
        # candidate at all (__n = 0).
        agg_w = Window.partitionBy("__lid")
        ranked = (
            cand.withColumn("__rk", F.row_number().over(wnd))
            .filter(
                (F.col("__rk") <= k)
                & (F.col("__rid").isNotNull() | (F.col("__rk") == 1))
            )
            .withColumn("__n", F.count("__rid").over(agg_w))
            .withColumn("__maxd2", F.max("__d2").over(agg_w))
            .withColumn(
                "__ok",
                (F.col("__lvl") >= max_lvl)
                | ((F.col("__n") >= k) & (F.col("__maxd2") <= wexpr * wexpr)),
            )
        )
        if not final:
            # the next level, on each unresolved lid's rank-1 row only
            # (null on resolved rows, so its count is the unresolved
            # count): jump — bounded rows go straight to their resolving
            # level, unbounded (isolated, __n < k) rows quad-step; clamp
            # to max_lvl. A lid with an empty neighborhood at level >=
            # max_lvl is __ok: at the radius-covering level it provably
            # has no neighbor within the radius, so it is dropped instead
            # of carried into another round or a residual sweep whose
            # matches the radius filter discards (round-14: on b27 this
            # removes the whole residual job chain).
            nxt = F.least(
                F.lit(max_lvl),
                F.when(
                    (F.col("__n") >= k) & (F.col("__maxd2") > 0),
                    F.greatest(
                        F.ceil(F.log2(F.sqrt("__maxd2") / F.lit(float(cell_size)))),
                        F.lit(1),
                    ),
                ).otherwise(F.lit(2 * rounds)),
            ).cast("int")
            # ONE job per non-final round: the eager pin. The unresolved
            # count and the next round's active levels ride along on an
            # observation of that same job.
            obs = Observation()
            ranked = materialize(
                ranked.withColumn(
                    "__next", F.when((F.col("__rk") == 1) & ~F.col("__ok"), nxt)
                ).observe(
                    obs,
                    F.count("__next").alias("cnt"),
                    F.collect_set("__next").alias("active"),
                ),
                eager=True,
            )
        results.append(
            ranked.filter(F.col("__ok") & F.col("__rid").isNotNull()).select(
                "__lid", "__rid", "__d2", "__rk"
            )
        )
        if final:
            log.debug("sjoin_knn round %d: levels %s, final", rounds, active)
            break
        observed = obs.get
        cnt = observed["cnt"]
        log.debug(
            "sjoin_knn round %d: levels %s, %d unresolved", rounds, active, cnt
        )
        if cnt == 0:
            break
        active = sorted(observed["active"])
        unresolved = ranked.filter(F.col("__next").isNotNull()).select(
            "__lid", "__lx", "__ly", F.col("__next").alias("__lvl")
        )
        # residual switch: once the unresolved set is small, one vectorized
        # corpus sweep beats joining at levels so wide that 3x3 covers
        # everything (candidates = residual x corpus through shuffle+window).
        # Trigger on either a bounded total flop budget or on width
        # degeneracy (every row's next cell is a big fraction of the extent
        # — the window path would see near-all-corpus candidates anyway).
        if cnt <= residual_bf_rows:
            if n_right is None:
                # unreachable for radius-covering calls (the loop exits
                # after round 0); counted lazily here for any other path
                # that skipped the up-front statistics job
                n_right = r0.count()
            degenerate = cell_size * (2 ** min(active)) >= extent / 4
            if cnt * n_right <= residual_bf_budget or degenerate:
                res_rows = unresolved.collect()
                r_sweep = r0
                if max_radius is not None:
                    # radius-bounded residual: only corpus points inside
                    # some residual query's 3x3 at cell width =
                    # max_radius can be within the radius — semi-join
                    # the corpus to that (tiny, broadcast) cell set so
                    # the Arrow sweep scans the pruned corpus, not all
                    # of it. Post-sweep d2 <= r^2 filtering is
                    # unchanged, so results are identical.
                    w = float(max_radius)
                    cells = sorted(
                        {
                            (
                                math.floor(r["__lx"] / w) + dx,
                                math.floor(r["__ly"] / w) + dy,
                            )
                            for r in res_rows
                            for dx in (-1, 0, 1)
                            for dy in (-1, 0, 1)
                        }
                    )
                    cdf = r0.sparkSession.createDataFrame(
                        cells, "__ccx long, __ccy long"
                    )
                    r_sweep = r0.join(
                        F.broadcast(cdf),
                        (F.floor(F.col("__rx") / F.lit(w)) == F.col("__ccx"))
                        & (F.floor(F.col("__ry") / F.lit(w)) == F.col("__ccy")),
                        "leftsemi",
                    )
                results.append(
                    _residual_bruteforce(
                        r_sweep, res_rows, k, unresolved.schema["__lid"].dataType
                    )
                )
                n_residual = len(res_rows)
                break
    log.debug(
        "sjoin_knn: %d rounds, residual sweep %s", rounds,
        f"on {n_residual} rows" if n_residual else "not run",
    )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if max_radius is not None:
        # the cutoff-resolved rows may carry neighbors beyond the radius
        # (found inside their covering 3x3); per lid the kept rows are a
        # d2-ordered PREFIX of the ranks, so ranks stay dense — no
        # re-rank shuffle needed
        m2 = float(max_radius) * float(max_radius)
        out = out.filter(F.col("__d2") <= F.lit(m2))
    return out.select(
        F.col("__lid").alias(left_id),
        F.col("__rid").alias(right_id),
        F.col("__d2").alias("dist2"),
        F.col("__rk").cast("int").alias("rank"),
    )


def sjoin_nearest(
    left: DataFrame,
    right: DataFrame,
    max_distance: float | None = None,
    how: str = "inner",
    distance_col: str = "dist",
    left_id: str = "lid",
    right_id: str = "rid",
    left_geom: str = "geom",
    right_geom: str = "geom",
    **knn_kwargs,
) -> DataFrame:
    """Nearest-neighbor spatial join — the ``geopandas.sjoin_nearest``
    surface (ref analog: spatialpandas has no nearest join; this is
    parity-plus for its geopandas-bridge audience) as a k=1 wrapper over
    the exact grid kNN join (:func:`sjoin_knn`, so the 100 TB shape —
    level-jump grid candidates, bounded residual sweep — comes free).

    Each left row gains its single nearest right match (ties broken by
    smallest ``right_id`` — deterministic, where geopandas returns ALL
    ties) plus ``distance_col`` (euclidean). ``max_distance`` drops
    matches beyond it BEFORE the join-back; ``how='left'`` keeps
    unmatched left rows with nulls, ``'inner'`` drops them. Output:
    every left column + (right_id, distance_col)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    for col in (right_id, distance_col):
        if col in left.columns and col != left_id:
            raise ValueError(
                f"left frame already has a column named {col!r}; pass a "
                "different right_id/distance_col to avoid an ambiguous "
                "duplicate in the joined output"
            )
    if max_distance is not None:
        # push the cutoff INTO the grid search (bounds the level loop —
        # an isolated left row stops at the radius instead of expanding
        # to the full extent); sjoin_knn also applies the dist2 filter.
        # A caller-supplied max_radius may TIGHTEN but never widen the
        # documented max_distance cutoff (min, not setdefault — a larger
        # explicit max_radius would silently return matches beyond it).
        caller_r = knn_kwargs.get("max_radius")
        knn_kwargs["max_radius"] = (
            float(max_distance)
            if caller_r is None
            else min(float(caller_r), float(max_distance))
        )
    nn = sjoin_knn(
        left, right, k=1,
        left_id=left_id, right_id=right_id,
        left_geom=left_geom, right_geom=right_geom,
        **knn_kwargs,
    ).filter(F.col("rank") == 1)
    matches = nn.select(
        F.col(left_id),
        F.col(right_id),
        F.sqrt(F.col("dist2")).alias(distance_col),
    )
    return left.join(matches, left_id, how)


def sjoin_dwithin(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "lid",
    right_id: str = "rid",
    left_geom: str = "geom",
    right_geom: str = "geom",
) -> DataFrame:
    """Distance join: every (left, right) pair within euclidean
    ``radius`` — the PostGIS ``ST_DWithin`` / geopandas
    ``sjoin(predicate='dwithin')`` surface for point frames (ref
    analog: spatialpandas has no distance join; parity-plus beside
    :func:`sjoin_nearest`).

    Scale shape: ONE hash equi-join. Both sides bucket into cells of
    width = ``radius``; each RIGHT point lands in exactly one cell,
    each LEFT point probes its 3x3 neighborhood (constant fan-out 9).
    Any pair within the radius shares that neighborhood, so the join
    is exact; each qualifying pair is produced exactly once (the right
    side is not replicated — no dedup pass), and the ``d2`` filter
    runs inside the join stage. No windows, no driver loop, no
    collect; skewed cells are AQE's standard skew-join case.

    Output: ``(left_id, right_id, dist2)`` — squared distance, the
    family's exact-arithmetic convention (same IEEE op order as
    ``sjoin_knn``, so oracles replay it bit-exactly)."""
    if not radius > 0:
        raise ValueError("radius must be positive")
    w = float(radius)
    l0 = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_geom)["x"].alias("__lx"),
        F.col(left_geom)["y"].alias("__ly"),
    )
    r0 = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_geom)["x"].alias("__rx"),
        F.col(right_geom)["y"].alias("__ry"),
    )
    rj = r0.select(
        "__rid", "__rx", "__ry",
        F.struct(
            F.floor(F.col("__rx") / F.lit(w)).alias("cx"),
            F.floor(F.col("__ry") / F.lit(w)).alias("cy"),
        ).alias("__cell"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    lj = l0.select(
        "__lid", "__lx", "__ly",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.floor(F.col("__lx") / F.lit(w)) + dx).alias("cx"),
                        (F.floor(F.col("__ly") / F.lit(w)) + dy).alias("cy"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("__cell"),
    )
    ddx = F.col("__lx") - F.col("__rx")
    ddy = F.col("__ly") - F.col("__ry")
    d2 = ddx * ddx + ddy * ddy
    return (
        lj.join(rj, "__cell")
        .withColumn("__d2", d2)
        .filter(F.col("__d2") <= F.lit(w * w))
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.col("__d2").alias("dist2"),
        )
    )
