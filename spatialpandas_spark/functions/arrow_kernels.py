"""Arrow-native vectorized geometry kernels (the bulk fast path).

The JVM higher-order-function expressions in ``measures.py`` are fully
composable Column expressions but evaluate interpreted (~0.5 µs/segment).
For bulk scans these kernels process whole Arrow record batches with numpy
``reduceat`` over the flat coordinate buffer — the vectorized equivalent of
the reference's numba kernels over Arrow offsets/values
(ref ``geometry/_algorithms/measures.py:9-58``, ``baselist.py:293-333``),
without a JIT dependency. Zero-copy from Arrow to numpy; one Python
invocation per batch, not per row.

``with_measures`` appends any of area/length/bounds to a DataFrame in a
single ``mapInArrow`` pass, preserving all other columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from spatialpandas_spark.functions.measures import NESTING


def _level_offsets(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """One list level -> (absolute offsets normalized to 0, child values).
    Null entries behave as empty lists. Handles array slices."""
    assert pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    lengths = np.asarray(pa.compute.list_value_length(arr).fill_null(0))
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return offsets, pa.compute.list_flatten(arr)


def _decompose(geom: pa.Array, nesting: int):
    """Nested list array -> (flat float64 coords, [offsets per level]).
    offsets[0] is per-geometry into the next level, the last level indexes
    into the flat coord array."""
    levels = []
    cur = geom
    for _ in range(nesting):
        offs, cur = _level_offsets(cur)
        levels.append(offs)
    values = np.asarray(cur, dtype=np.float64)
    return values, levels


def _compose_point_offsets(levels: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(ring_point_offsets, geom_ring_offsets) for 2-level polygons/
    multilines; for 1-level lines geom_ring_offsets is identity."""
    if len(levels) == 1:
        ring_pts = levels[0] // 2
        geom_rings = np.arange(len(levels[0]), dtype=np.int64)
        return ring_pts, geom_rings
    if len(levels) == 2:
        return levels[1] // 2, levels[0]
    if len(levels) == 3:
        # multipolygon: collapse poly level -> rings per geometry
        geom_rings = levels[1][levels[0]]
        return levels[2] // 2, geom_rings
    raise ValueError("unsupported nesting")


def _segment_sums(per_seg: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Sum per_seg over segments [starts[i], starts[i+1]); empty -> 0."""
    n = len(starts) - 1
    if len(per_seg) == 0:
        return np.zeros(n)
    out = np.zeros(n)
    nonempty = starts[:-1] < starts[1:]
    idx = np.minimum(starts[:-1], len(per_seg) - 1)
    sums = np.add.reduceat(per_seg, idx)
    out[nonempty] = sums[nonempty]
    return out


def with_measures(
    df: DataFrame,
    geom: str,
    geom_type: str,
    area: str | None = None,
    length: str | None = None,
    bounds: str | None = None,
) -> DataFrame:
    """Append area/length/bounds columns computed by Arrow-batch numpy
    kernels in one mapInPandas pass; all input columns pass through."""
    nesting = NESTING[geom_type]
    if nesting == 0:
        raise ValueError("use point_bounds/struct access for point columns")

    fields = list(df.schema.fields)
    if area:
        fields.append(StructField(area, DoubleType()))
    if length:
        fields.append(StructField(length, DoubleType()))
    if bounds:
        fields.append(
            StructField(
                bounds,
                StructType(
                    [
                        StructField("x0", DoubleType()),
                        StructField("y0", DoubleType()),
                        StructField("x1", DoubleType()),
                        StructField("y1", DoubleType()),
                    ]
                ),
            )
        )
    out_schema = StructType(fields)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            garr = batch.column(batch.schema.get_field_index(geom))
            values, levels = _decompose(garr, nesting)
            # missing geometry -> NaN measures (ref NaN-row semantics,
            # polygon.py:200-207); empty lists stay 0.0
            nulls = np.asarray(pa.compute.is_null(garr), dtype=bool)
            cols = list(batch.columns)
            names = list(batch.schema.names)
            if area:
                a = _np_area(values, levels)
                a[nulls] = np.nan
                cols.append(pa.array(a, pa.float64()))
                names.append(area)
            if length:
                ln = _np_length(values, levels)
                ln[nulls] = np.nan
                cols.append(pa.array(ln, pa.float64()))
                names.append(length)
            if bounds:
                bx0, by0, bx1, by1 = _np_bounds(values, levels)
                cols.append(
                    pa.StructArray.from_arrays(
                        [
                            pa.array(bx0, pa.float64()),
                            pa.array(by0, pa.float64()),
                            pa.array(bx1, pa.float64()),
                            pa.array(by1, pa.float64()),
                        ],
                        ["x0", "y0", "x1", "y1"],
                    )
                )
                names.append(bounds)
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(run, out_schema)


def _np_area(values: np.ndarray, levels: list[np.ndarray]) -> np.ndarray:
    ring_pts, geom_rings = _compose_point_offsets(levels)
    x, y = values[0::2], values[1::2]
    n_rings = len(ring_pts) - 1
    n_geoms = len(geom_rings) - 1
    if len(x) == 0 or n_rings == 0:
        return np.zeros(n_geoms)
    s, e = ring_pts[:-1], ring_pts[1:]
    # cross products for consecutive point pairs (global), slot i = pair (i, i+1)
    cross = np.zeros(len(x))
    cross[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    # overwrite each ring's final slot (pair spanning to next ring) with the
    # ring's wrap-around term
    nonempty = e > s
    vs, ve = s[nonempty], e[nonempty] - 1
    cross[ve] = x[ve] * y[vs] - x[vs] * y[ve]
    ring_area = _segment_sums(cross, ring_pts) / 2.0
    ring_area[(e - s) < 3] = 0.0  # degenerate rings (ref measures.py:40-42)
    return _segment_sums(ring_area, geom_rings)


def _np_length(values: np.ndarray, levels: list[np.ndarray]) -> np.ndarray:
    ring_pts, geom_rings = _compose_point_offsets(levels)
    x, y = values[0::2], values[1::2]
    n_geoms = len(geom_rings) - 1
    if len(x) == 0:
        return np.zeros(n_geoms)
    dx = np.zeros(len(x))
    dy = np.zeros(len(x))
    dx[:-1] = x[1:] - x[:-1]
    dy[:-1] = y[1:] - y[:-1]
    seg = np.sqrt(dx * dx + dy * dy)
    finite = np.isfinite(x) & np.isfinite(y)
    okpair = np.zeros(len(x), dtype=bool)
    okpair[:-1] = finite[:-1] & finite[1:]
    seg = np.where(okpair, seg, 0.0)
    # zero the cross-ring boundary slots (last point of each ring)
    e = ring_pts[1:]
    nonzero = e > ring_pts[:-1]
    seg[e[nonzero] - 1] = 0.0
    ring_len = _segment_sums(seg, ring_pts)
    return _segment_sums(ring_len, geom_rings)


def _np_bounds(values: np.ndarray, levels: list[np.ndarray]):
    # fully flatten: per-geometry point ranges
    ring_pts, geom_rings = _compose_point_offsets(levels)
    geom_pts = ring_pts[geom_rings]
    x, y = values[0::2].copy(), values[1::2].copy()
    n = len(geom_pts) - 1
    finx, finy = np.isfinite(x), np.isfinite(y)
    xmin_src = np.where(finx, x, np.inf)
    xmax_src = np.where(finx, x, -np.inf)
    ymin_src = np.where(finy, y, np.inf)
    ymax_src = np.where(finy, y, -np.inf)

    def seg_reduce(op, src, empty_val):
        out = np.full(n, empty_val)
        if len(src) == 0:
            return out
        nonempty = geom_pts[:-1] < geom_pts[1:]
        idx = np.minimum(geom_pts[:-1], len(src) - 1)
        red = op.reduceat(src, idx)
        out[nonempty] = red[nonempty]
        return out

    x0 = seg_reduce(np.minimum, xmin_src, np.inf)
    x1 = seg_reduce(np.maximum, xmax_src, -np.inf)
    y0 = seg_reduce(np.minimum, ymin_src, np.inf)
    y1 = seg_reduce(np.maximum, ymax_src, -np.inf)
    for a in (x0, y0, x1, y1):
        a[~np.isfinite(a)] = np.nan
    return x0, y0, x1, y1


# ---------------------------------------------------------------- cx filter
def _seg_edge_intersect_vec(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
    """Vectorized twin of predicates._segments_intersect (segments a are
    arrays, edge b is scalar): proper crossing, collinear-with-bbox-overlap,
    or endpoint touch — identical float ops, identical semantics."""

    def tri(ax, ay, bx, by, cx, cy):
        return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))

    d1 = tri(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = tri(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = tri(bx0, by0, bx1, by1, ax0, ay0)
    d4 = tri(bx0, by0, bx1, by1, ax1, ay1)
    proper = (d1 != d2) & (d3 != d4)
    collinear = (d1 == 0) & (d2 == 0) & (d3 == 0) & (d4 == 0)
    boxes = (
        (np.minimum(ax0, ax1) <= max(bx0, bx1))
        & (np.maximum(ax0, ax1) >= min(bx0, bx1))
        & (np.minimum(ay0, ay1) <= max(by0, by1))
        & (np.maximum(ay0, ay1) >= min(by0, by1))
    )

    def between(px, py, qx, qy, rx, ry):
        return (
            (px >= np.minimum(qx, rx))
            & (px <= np.maximum(qx, rx))
            & (py >= np.minimum(qy, ry))
            & (py <= np.maximum(qy, ry))
        )

    touch = (
        ((d1 == 0) & between(bx0, by0, ax0, ay0, ax1, ay1))
        | ((d2 == 0) & between(bx1, by1, ax0, ay0, ax1, ay1))
        | ((d3 == 0) & between(ax0, ay0, bx0, by0, bx1, by1))
        | ((d4 == 0) & between(ax1, ay1, bx0, by0, bx1, by1))
    )
    return proper | (collinear & boxes) | touch


def _cx_mask(geom: pa.Array, geom_type: str, rect) -> np.ndarray:
    """Per-row boolean: geometry exactly intersects rect. Vectorized twin
    of ``predicates.st_intersects_bounds`` for the nested types (same
    per-type rules: any vertex inside, any segment crossing a rect edge,
    and for polygons the rect-corner-in-polygon even-odd ray cast)."""
    nesting = NESTING[geom_type]
    n = len(geom)
    x0, y0, x1, y1 = rect
    if x1 < x0:
        x0, x1 = x1, x0
    if y1 < y0:
        y0, y1 = y1, y0
    if x0 == x1 or y0 == y1:
        if geom_type in ("line", "ring", "multiline", "polygon", "multipolygon"):
            return np.zeros(n, dtype=bool)

    values, levels = _decompose(geom, nesting)
    xs, ys = values[0::2], values[1::2]
    npts = len(xs)

    # offsets in POINTS of the innermost (ring) level, and each ring's
    # owning geometry / polygon
    if nesting == 1:
        ring_offs = levels[0] // 2
        ring_geom = np.arange(n)
        ring_poly = None
    elif nesting == 2:
        ring_offs = levels[1] // 2
        ring_geom = np.repeat(np.arange(n), np.diff(levels[0]))
        ring_poly = ring_geom if geom_type == "polygon" else None
        poly_geom = np.arange(n)
    else:  # multipolygon
        ring_offs = levels[2] // 2
        poly_of_ring = np.repeat(
            np.arange(len(levels[1]) - 1), np.diff(levels[1])
        )
        geom_of_poly = np.repeat(np.arange(n), np.diff(levels[0]))
        ring_geom = geom_of_poly[poly_of_ring]
        ring_poly = poly_of_ring
        poly_geom = geom_of_poly

    nrings = len(ring_offs) - 1
    pt_ring = np.repeat(np.arange(nrings), np.diff(ring_offs))
    pt_geom = ring_geom[pt_ring] if nrings else np.empty(0, dtype=np.int64)

    out = np.zeros(n, dtype=bool)

    # 1. any vertex inside the rect
    vin = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
    if npts:
        out |= np.bincount(pt_geom[vin], minlength=n).astype(bool)
    if geom_type == "multipoint":
        return out

    # segments: consecutive point pairs within the same ring
    if npts > 1:
        same_ring = pt_ring[:-1] == pt_ring[1:]
        sx0, sy0 = xs[:-1], ys[:-1]
        sx1, sy1 = xs[1:], ys[1:]
        seg_geom = pt_geom[:-1]
        edges = [
            (x0, y0, x1, y0),
            (x1, y0, x1, y1),
            (x1, y1, x0, y1),
            (x0, y1, x0, y0),
        ]
        hit = np.zeros(npts - 1, dtype=bool)
        for ex0, ey0, ex1, ey1 in edges:
            hit |= _seg_edge_intersect_vec(
                sx0, sy0, sx1, sy1, ex0, ey0, ex1, ey1
            )
        hit &= same_ring
        out |= np.bincount(seg_geom[hit], minlength=n).astype(bool)

    if geom_type in ("polygon", "multipolygon") and npts > 1:
        # 3. rect corner (x0, y0) inside the polygon: even-odd ray cast
        # summed over each polygon's rings (holes subtract by parity)
        straddles = (sy0 > y0) != (sy1 > y0)
        cross = (sx1 - sx0) * (y0 - sy0) - (x0 - sx0) * (sy1 - sy0)
        crossed = straddles & ((cross > 0) == (sy1 > sy0)) & same_ring
        seg_poly = ring_poly[pt_ring[:-1]]
        npolys = len(poly_geom)
        crossings = np.bincount(
            seg_poly[crossed], minlength=npolys
        )
        poly_odd = (crossings % 2).astype(bool)
        out |= np.bincount(poly_geom[poly_odd], minlength=n).astype(bool)

    if geom.null_count:
        out &= ~np.asarray(geom.is_null())
    return out


def cx_filter_arrow(
    df: DataFrame,
    geom: str,
    geom_type: str,
    rect,
    bounds_col: str | None = "bounds",
) -> DataFrame:
    """Bulk ``.cx`` filter: the pushable bbox conjunct runs JVM-side (with
    the covered-rows shortcut), and the exact refinement runs as ONE
    vectorized Arrow kernel pass over the bbox survivors — ~10-20× the
    interpreted HOF expression on line/polygon-heavy scans. Result is
    row-identical to ``cx_filter``."""
    from pyspark.sql import functions as F

    from spatialpandas_spark.functions.measures import st_bounds
    from spatialpandas_spark.functions.predicates import (
        _orient,
        bbox_intersects_bounds,
    )
    from spatialpandas_spark.operators.cx import _covered

    if NESTING[geom_type] == 0:
        from spatialpandas_spark.operators.cx import cx_filter

        return cx_filter(df, geom, geom_type, rect, bounds_col)

    rect = _orient(rect)
    b = (
        F.col(bounds_col)
        if bounds_col is not None and bounds_col in df.columns
        else st_bounds(F.col(geom), geom_type)
    )
    pre = df.filter(bbox_intersects_bounds(b, rect))
    covered = pre.filter(_covered(b, rect))
    maybe = pre.filter(~_covered(b, rect))

    idx = maybe.schema.fieldNames().index(geom)

    def run(batches):
        for batch in batches:
            mask = _cx_mask(batch.column(idx), geom_type, rect)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(i).filter(pa.array(mask))
                    for i in range(batch.num_columns)
                ],
                schema=batch.schema,
            )

    refined = maybe.mapInArrow(run, maybe.schema)
    return covered.unionByName(refined)
