"""Spatial join (ref ``tools/sjoin.py:26-272``).

The reference builds an R-tree on the left side, probes it with each right
row's bbox, refines candidates with the exact ``intersects`` kernel, then
re-attaches payload via pandas merges. On Spark the same filter-refine
discipline is expressed as a join whose condition is

    bbox_overlap(left.bounds, right.bounds)  AND  exact_predicate

with two physical strategies:

- ``broadcast`` (small side fits in memory — the common case; the analog of
  the per-row R-tree probe): BroadcastNestedLoopJoin where the bbox
  conjunct runs codegen-native before the exact test. Never shuffles the big
  side.
- ``grid`` (large × large): both sides explode their bbox onto a fixed grid,
  shuffle equi-join on the cell key (hash join, AQE-skew-aware), then
  post-filter bbox + exact. Duplicate pairs from multi-cell bboxes are
  eliminated *without* a dropDuplicates shuffle via the report-once trick:
  a pair is only emitted in the cell containing the top-left corner of the
  bbox intersection. This is the standard distributed spatial join of the
  GeoSpark/Sedona literature (SURVEY.md §2.3 J1).

Only ``op='intersects'`` exists, like the reference (``sjoin.py:64-70``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.functions.measures import st_bounds
from spatialpandas_spark.functions.predicates import bbox_overlap
from spatialpandas_spark.materialize import materialize

_SUPPORTED_HOW = ("inner", "left", "right")


def _exact_predicate(
    lgeom: Column, ltype: str, rgeom: Column, rtype: str
) -> Column:
    """Exact `intersects` refinement for any (left, right) type pair —
    parity-plus: the reference supports the point family only
    (``geometry/point.py:212-255``; ``base.py:634-651`` raises for the
    rest). Delegates to the general ``st_intersects`` dispatch."""
    from spatialpandas_spark.functions.predicates import st_intersects

    return st_intersects(lgeom, ltype, rgeom, rtype)


def _prepare(
    df: DataFrame,
    geom: str,
    gtype: str,
    side: str,
    other_cols: set[str],
    suffix: str,
    bounds_col: str | None = None,
):
    """Ensure a bounds column; suffix payload columns colliding with the other
    side (ref ``sjoin.py:215`` lsuffix/rsuffix). A precomputed bounds
    column (``with_bounds``) is reused instead of re-deriving per row —
    on stored tables it is also what parquet stats prune on."""
    bcol = f"__bounds_{side}"
    if bounds_col is not None and bounds_col in df.columns:
        df = df.withColumn(bcol, F.col(bounds_col))
    else:
        df = df.withColumn(bcol, st_bounds(F.col(geom), gtype))
    renames = {}
    for c in df.columns:
        if c in other_cols and c != geom and not c.startswith("__bounds"):
            renames[c] = f"{c}_{suffix}"
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df, bcol


def sjoin(
    left: DataFrame,
    right: DataFrame,
    *,
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_type: str = "point",
    right_type: str = "polygon",
    how: str = "inner",
    op: str = "intersects",
    lsuffix: str = "left",
    rsuffix: str = "right",
    strategy: str = "broadcast",
    cell_size: float | None = None,
    left_bounds: str | None = "bounds",
    right_bounds: str | None = "bounds",
) -> DataFrame:
    """``strategy`` is ``"broadcast"`` (small dim side), ``"grid"``
    (big x big, explode-to-cells hash equi-join; needs ``cell_size``,
    used as given), or ``"auto"`` — pick broadcast when the build side's
    Catalyst size estimate fits the session broadcast threshold, else
    grid with a sampled cell-size estimate (no hand-tuning). Non-file
    frames carry a huge default size estimate, so auto conservatively
    grids them — the safe failure mode; pass ``strategy="broadcast"``
    explicitly for small in-memory frames.

    The exact predicate is folded into the join condition behind the
    bbox conjunct. Results do not depend on ``cell_size``: report-once
    emits each intersecting pair from exactly one cell."""
    if op != "intersects":
        raise ValueError(f"Only op='intersects' is supported, got {op!r}")
    if how not in _SUPPORTED_HOW:
        raise ValueError(f"how must be one of {_SUPPORTED_HOW}, got {how!r}")

    lcols, rcols = set(left.columns), set(right.columns)
    left, lb = _prepare(left, left_geom, left_type, "l", rcols, lsuffix, left_bounds)
    right, rb = _prepare(right, right_geom, right_type, "r", lcols, rsuffix, right_bounds)

    if strategy == "auto":
        # pick by the build side's optimizer size estimate (driver-only
        # stats call, no job): under the session's broadcast threshold
        # -> broadcast; otherwise the grid shuffle plan, with the cell
        # size taken from a bounded bounds sample when not given. This
        # is the no-hand-tuning entry point: at 100 TB the dimension
        # side is usually broadcastable and the big x big case must
        # never silently BNLJ the full volume.
        bcast_side = left if how == "right" else right
        size = _plan_size_bytes(bcast_side)
        if 0 <= size <= _broadcast_threshold(left.sparkSession):
            strategy = "broadcast"
        else:
            strategy = "grid"
            if cell_size is None:
                cell_size = _estimate_cell_size(right, rb)

    # geometry columns may share a name across sides; qualify via DataFrame
    lgeom = left[left_geom]
    rgeom = right[right_geom]
    cond = bbox_overlap(left[lb], right[rb]) & _exact_predicate(
        lgeom, left_type, rgeom, right_type
    )

    if strategy == "broadcast":
        # broadcast the side that is NOT preserved by an outer join
        if how == "right":
            joined = F.broadcast(left).join(right, cond, how)
        else:
            joined = left.join(F.broadcast(right), cond, how)
    elif strategy == "grid":
        if cell_size is None:
            raise ValueError("grid strategy requires cell_size")
        joined = _grid_join(left, right, lb, rb, cond, how, cell_size)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if left_geom == right_geom:
        # keep both geometry columns by suffixing, like payload collisions;
        # positional rename (toDF) because both sides share the name
        names = [
            f"{c}_{lsuffix}" if c == left_geom else c for c in left.columns
        ] + [f"{c}_{rsuffix}" if c == right_geom else c for c in right.columns]
        joined = joined.toDF(*names)
    return joined.drop(lb, rb)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (file-size based for scans)
    — a driver-only stats lookup, no job. Returns -1 if unavailable."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # pragma: no cover - stats API drift
        return -1


def _broadcast_threshold(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (accepts the
    '10MB' / '10485760b' spellings; -1 disables broadcasting)."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("b", 1)):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(raw) * mult
    except ValueError:  # pragma: no cover - malformed conf
        return 10 << 20


def _estimate_cell_size(right: DataFrame, rb: str, sample_n: int = 2048) -> float:
    """Grid cell size from a bounded sample of right-side bounds: twice
    the median bbox side (cells a bit larger than typical geometries keep
    per-geometry cell counts ~1-4). Degenerate sides (points) fall back
    to 1/256 of the sampled extent. One limit() collect, never unbounded."""
    rows = right.select(F.col(rb).alias("b")).limit(sample_n).collect()
    import numpy as np

    b = [r["b"] for r in rows if r["b"] is not None]
    if not b:
        return 1.0
    w = np.asarray([x["x1"] - x["x0"] for x in b], dtype=np.float64)
    h = np.asarray([x["y1"] - x["y0"] for x in b], dtype=np.float64)
    w, h = w[np.isfinite(w)], h[np.isfinite(h)]
    base = max(
        float(np.median(w)) if len(w) else 0.0,
        float(np.median(h)) if len(h) else 0.0,
    )
    if base <= 0:
        x0 = np.asarray([x["x0"] for x in b], dtype=np.float64)
        y0 = np.asarray([x["y0"] for x in b], dtype=np.float64)
        x0, y0 = x0[np.isfinite(x0)], y0[np.isfinite(y0)]
        ext = max(
            float(x0.max() - x0.min()) if len(x0) else 0.0,
            float(y0.max() - y0.min()) if len(y0) else 0.0,
        )
        return ext / 256.0 if ext > 0 else 1.0
    return 2.0 * base


def _cells(b: Column, cell_size: float) -> Column:
    """Array of struct<ix,iy> grid cells covered by a bounds struct."""
    cs = F.lit(float(cell_size))
    ix0 = F.floor(b["x0"] / cs).cast("long")
    ix1 = F.floor(b["x1"] / cs).cast("long")
    iy0 = F.floor(b["y0"] / cs).cast("long")
    iy1 = F.floor(b["y1"] / cs).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(
                F.sequence(iy0, iy1),
                lambda iy: F.struct(ix.alias("ix"), iy.alias("iy")),
            ),
        )
    )


def _grid_join(
    left: DataFrame,
    right: DataFrame,
    lb: str,
    rb: str,
    cond: Column,
    how: str,
    cell_size: float,
) -> DataFrame:
    if how != "inner":
        # outer grid join = inner pairs + anti-join recovery of unmatched
        # preserved-side rows (stamped with a per-scan row id). Costs one
        # extra shuffle of the preserved side keyed by that id — the
        # documented price of outer semantics without a broadcastable side.
        preserved, other = (left, right) if how == "left" else (right, left)
        # materialize at the fork: __rowid is partition-layout-dependent
        # (monotonically_increasing_id = pid << 33 | offset) and the
        # stamped frame is consumed by TWO plans (the inner join and the
        # anti-join recovery). If `preserved` carries a sampled exchange
        # (repartitionByRange seeds its reservoir per execution — e.g. a
        # pack_partitions output) the two executions could stamp DIFFERENT
        # ids and the recovery would silently emit matched rows as missing
        # (or drop unmatched ones). Same bug class as the round-6 rank
        # fork (operators/rank.py module docstring); one
        # materialization of a side that was about to shuffle anyway.
        pid = materialize(
            preserved.withColumn("__rowid", F.monotonically_increasing_id()),
            eager=True,
        )
        inner = _grid_join(
            pid if how == "left" else left,
            pid if how == "right" else right,
            lb,
            rb,
            cond,
            "inner",
            cell_size,
        )
        matched = inner.select("__rowid").distinct()
        missing = pid.join(matched, "__rowid", "left_anti")
        null_other = [
            F.lit(None).cast(other.schema[c].dataType).alias(c)
            for c in other.columns
        ]
        if how == "left":
            missing_rows = missing.select(
                *[missing[c] for c in preserved.columns], *null_other
            )
        else:
            missing_rows = missing.select(
                *null_other, *[missing[c] for c in preserved.columns]
            )
        # positional union, NOT unionByName: when both sides share a
        # geometry column name the joined frame legitimately carries
        # duplicate names until sjoin()'s suffixing toDF — by-name
        # resolution would raise COLUMN_ALREADY_EXISTS. Column order is
        # identical by construction (preserved/other columns in join
        # order on both branches).
        return inner.drop("__rowid").union(missing_rows)
    cs = float(cell_size)
    lx = left.withColumn("__cell", F.explode(_cells(F.col(lb), cs)))
    rx = right.withColumn("__cell", F.explode(_cells(F.col(rb), cs)))
    # report-once: emit the pair only from the cell holding the top-left
    # corner of the bbox intersection -> no global dedup shuffle needed
    ref_ix = F.floor(
        F.greatest(lx[lb]["x0"], rx[rb]["x0"]) / F.lit(cs)
    ).cast("long")
    ref_iy = F.floor(
        F.greatest(lx[lb]["y0"], rx[rb]["y0"]) / F.lit(cs)
    ).cast("long")
    once = (lx["__cell"]["ix"] == ref_ix) & (lx["__cell"]["iy"] == ref_iy)
    joined = lx.join(
        rx, (lx["__cell"] == rx["__cell"]) & cond & once, "inner"
    )
    return joined.drop("__cell")
