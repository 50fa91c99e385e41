"""Spatial parquet IO with a partition-bounds manifest.

Reference behavior being re-expressed (ref ``io/parquet.py``):
- ``to_parquet_dask`` embeds per-partition bounding boxes as JSON custom
  metadata in ``_common_metadata`` (``io/parquet.py:143-182``).
- ``read_parquet_dask(bounds=...)`` drops partitions whose bbox doesn't
  intersect the query bounds before any data is read (``:411-447``).

Spark-first design: data is written Hilbert-packed with materialized
``bounds`` struct columns, so parquet row-group min/max stats already give
fine-grained skipping to any engine. The manifest (one tiny JSON sidecar,
built from file *footers* only) adds exact file-level pruning — the analog of
the reference's partition-bounds metadata — letting a read at 100 TB open
only the files whose bbox overlaps the query before Spark even lists row
groups.
"""

from __future__ import annotations

import json
import os
import posixpath

from pyspark.sql import DataFrame, SparkSession

from spatialpandas_spark.operators.pack import pack_partitions
from spatialpandas_spark.sources import fs as _fs

MANIFEST_NAME = "_spatial_manifest.json"


def write_spatial_parquet(
    df: DataFrame,
    path: str,
    bounds_col: str = "bounds",
    pack: bool = True,
    npartitions: int | None = None,
    p: int = 15,
    total_bounds: tuple[float, float, float, float] | None = None,
    compression: str = "snappy",
) -> dict:
    """Hilbert-pack (optional) + write parquet + write bounds manifest.

    Pass ``total_bounds`` (and ``npartitions``) when known to skip the
    extra scan jobs ``pack_partitions`` would otherwise run — the write
    then costs exactly one shuffle (the range partition).

    Returns the manifest dict {file_name: [x0, y0, x1, y1]}.
    """
    if pack:
        df = pack_partitions(
            df,
            bounds_col=bounds_col,
            npartitions=npartitions,
            p=p,
            total_bounds=total_bounds,
        )
    df.write.mode("overwrite").option("compression", compression).parquet(path)
    manifest = build_manifest(path, bounds_col)
    _fs.write_text(
        f"{path.rstrip('/')}/{MANIFEST_NAME}",
        json.dumps({"bounds_col": bounds_col, "files": manifest}),
    )
    return manifest


def refresh_manifest(
    path: str, bounds_col: str = "bounds", filesystem=None
) -> dict:
    """Rebuild the bounds manifest from the current file set's footers
    (no data IO) and rewrite the sidecar — call after any out-of-band
    file addition/removal."""
    manifest = build_manifest(path, bounds_col, filesystem=filesystem)
    _fs.write_text(
        f"{path.rstrip('/')}/{MANIFEST_NAME}",
        json.dumps({"bounds_col": bounds_col, "files": manifest}),
        filesystem=filesystem,
    )
    return manifest


def append_spatial_parquet(
    df: DataFrame,
    path: str,
    bounds_col: str = "bounds",
    pack: bool = True,
    npartitions: int | None = None,
    p: int = 15,
    total_bounds: tuple[float, float, float, float] | None = None,
    compression: str = "snappy",
) -> dict:
    """Append rows to an existing spatial dataset and refresh the
    manifest (ingest path for a continuously-growing lake).

    The appended batch is Hilbert-packed WITHIN ITSELF (tight footer
    stats, so the new files prune exactly like the originals), but the
    dataset-wide layout is no longer one global Hilbert order — each
    append adds its own pruning units. That is the right trade at 100 TB:
    appends stay O(batch), reads stay manifest-pruned, and a periodic
    `write_spatial_parquet` repack (compaction) restores the single
    global order when file counts warrant it."""
    if pack:
        df = pack_partitions(
            df,
            bounds_col=bounds_col,
            npartitions=npartitions,
            p=p,
            total_bounds=total_bounds,
        )
    df.write.mode("append").option("compression", compression).parquet(path)
    return refresh_manifest(path, bounds_col)


def compact_spatial_parquet(
    spark,
    path: str,
    bounds_col: str = "bounds",
    npartitions: int | None = None,
    p: int = 15,
    total_bounds: tuple[float, float, float, float] | None = None,
    compression: str = "snappy",
    min_files: int = 2,
) -> dict | None:
    """Repack an append-fragmented spatial dataset into one global
    Hilbert order — the compaction half of the append story
    (``append_spatial_parquet`` keeps each batch packed within itself;
    after many appends the per-batch pruning units overlap and file
    counts grow, and this restores the single global order).

    Safe swap discipline: the repacked layout is written NEXT TO the
    live one (``<path>.compact.tmp``), verified (row count equality,
    from the parquet footers: no Spark job), then moved over the old
    directory — a reader mid-swap sees either the old complete dataset
    or the new complete dataset, never a partial write. Directory moves through the pyarrow-fs layer so
    object-store paths behave (copy + delete where rename isn't
    atomic — documented, same caveat as any non-transactional lake).

    Returns the new manifest, or None when the dataset already has
    fewer than ``min_files`` data files (nothing to compact)."""
    base = path.rstrip("/")
    old = json.loads(_fs.read_text(f"{base}/{MANIFEST_NAME}"))
    if len(old["files"]) < min_files:
        return None
    df = spark.read.parquet(base)
    n_before = _fs.parquet_num_rows(base)
    tmp = f"{base}.compact.tmp"
    manifest = write_spatial_parquet(
        df,
        tmp,
        bounds_col=bounds_col,
        pack=True,
        npartitions=npartitions,
        p=p,
        total_bounds=total_bounds,
        compression=compression,
    )
    n_after = _fs.parquet_num_rows(tmp)
    if n_after != n_before:
        raise RuntimeError(
            f"compaction row-count mismatch ({n_before} -> {n_after}); "
            f"repacked copy left at {tmp}, live dataset untouched"
        )
    _fs.replace_dir(tmp, base)
    return manifest


def build_manifest(path: str, bounds_col: str = "bounds", filesystem=None) -> dict:
    """Per-file bbox from parquet footer statistics only (no data IO) —
    row-group min/max of the four bounds fields. Footer reads go through
    the pyarrow filesystem layer, so object-store paths work."""
    filesystem, _ = _fs.resolve(path, filesystem)
    manifest: dict[str, list[float]] = {}
    for fp in _fs.list_files(path, ".parquet", filesystem=filesystem):
        md = _fs.read_parquet_metadata(fp, filesystem=filesystem)
        want = {f"{bounds_col}.{k}": k for k in ("x0", "y0", "x1", "y1")}
        mins: dict[str, float] = {}
        maxs: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                chunk = row_group.column(ci)
                key = want.get(chunk.path_in_schema)
                if key is None:
                    continue
                st = chunk.statistics
                if st is None or not st.has_min_max:
                    continue
                mins[key] = min(mins.get(key, float("inf")), st.min)
                maxs[key] = max(maxs.get(key, float("-inf")), st.max)
        if all(k in mins for k in ("x0", "y0")) and all(
            k in maxs for k in ("x1", "y1")
        ):
            manifest[posixpath.basename(fp)] = [
                mins["x0"], mins["y0"], maxs["x1"], maxs["y1"]
            ]
    return manifest


def read_spatial_parquet(
    spark: SparkSession,
    path: str,
    bounds: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Read a spatial parquet dataset; with ``bounds`` given, prune
    non-intersecting files via the manifest (partition pruning parity with
    ``read_parquet_dask(bounds=...)``). Row-level refinement is the caller's
    choice, as in the reference (bounds= prunes partitions only).

    Files absent from the manifest (no footer stats — i.e. every row's
    bounds null) are treated as non-intersecting: null geometry never
    intersects a rect, so a bounds= read may drop all-null files."""
    mpath = f"{path.rstrip('/')}/{MANIFEST_NAME}"
    if bounds is None or not _fs.exists(mpath):
        return spark.read.parquet(path)
    meta = json.loads(_fs.read_text(mpath))
    qx0, qy0, qx1, qy1 = bounds
    if qx1 < qx0:
        qx0, qx1 = qx1, qx0
    if qy1 < qy0:
        qy0, qy1 = qy1, qy0
    keep = [
        os.path.join(path, name)
        for name, (x0, y0, x1, y1) in meta["files"].items()
        if x0 <= qx1 and x1 >= qx0 and y0 <= qy1 and y1 >= qy0
    ]
    if not keep:
        return spark.read.parquet(path).limit(0)
    return spark.read.parquet(*keep)


def read_spatial_parquet_cx(
    spark: SparkSession,
    path: str,
    geom: str,
    geom_type: str,
    rect: tuple[float, float, float, float],
    bounds_col: str = "bounds",
) -> DataFrame:
    """Manifest-pruned ``.cx`` read with covered-file passthrough (the
    reference's covered-partition shortcut, ref ``dask.py:616-638``):

    - files disjoint from ``rect`` are never opened;
    - files whose bbox lies fully INSIDE ``rect`` are read with NO row
      filter (every row must intersect — the filter would be pure waste);
    - only boundary-straddling files evaluate the row-level cx filter.

    On Hilbert-packed data the covered set is most files of an interior
    viewport, so the exact predicate runs on a thin shell. Falls back to
    a plain filtered read when no manifest exists."""
    # nested types refine through the vectorized Arrow kernel;
    # cx_filter_arrow dispatches points to the plain pushable filter
    from spatialpandas_spark.functions.arrow_kernels import (
        cx_filter_arrow as cx_filter,
    )

    qx0, qy0, qx1, qy1 = rect
    if qx1 < qx0:
        qx0, qx1 = qx1, qx0
    if qy1 < qy0:
        qy0, qy1 = qy1, qy0
    mpath = f"{path.rstrip('/')}/{MANIFEST_NAME}"
    if not _fs.exists(mpath):
        return cx_filter(
            spark.read.parquet(path), geom, geom_type, rect, bounds_col
        )
    meta = json.loads(_fs.read_text(mpath))
    covered, straddle = [], []
    for name, (x0, y0, x1, y1) in meta["files"].items():
        if x0 > qx1 or x1 < qx0 or y0 > qy1 or y1 < qy0:
            continue
        fp = os.path.join(path, name)
        if x0 >= qx0 and x1 <= qx1 and y0 >= qy0 and y1 <= qy1:
            covered.append(fp)
        else:
            straddle.append(fp)
    parts = []
    if covered:
        parts.append(spark.read.parquet(*covered))
    if straddle:
        parts.append(
            cx_filter(
                spark.read.parquet(*straddle),
                geom,
                geom_type,
                (qx0, qy0, qx1, qy1),
                bounds_col,
            )
        )
    if not parts:
        return spark.read.parquet(path).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
