"""pack_partitions ordering invariants + spatial parquet manifest pruning
(ref tests/test_parquet.py:39-405 round-trip and ordering checks)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialpandas_spark import cx_filter, pack_partitions, point_bounds, st_point, with_bounds
from spatialpandas_spark.sources import build_manifest, read_spatial_parquet, write_spatial_parquet

RNG = np.random.default_rng(3)


@pytest.fixture(scope="module")
def points(spark):
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(RNG.uniform(0, 100, (2000, 2)))]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    return df.select("id", st_point(F.col("x"), F.col("y")).alias("geom")).withColumn(
        "bounds", point_bounds(F.col("geom"))
    )


def test_pack_hilbert_monotone_across_partitions(spark, points):
    packed = pack_partitions(points, npartitions=8, p=10)
    parts = packed.select(
        F.spark_partition_id().alias("pid"), "hilbert_distance"
    ).groupBy("pid").agg(
        F.min("hilbert_distance").alias("lo"), F.max("hilbert_distance").alias("hi")
    ).orderBy("lo").collect()
    assert len(parts) == 8
    # ranges are disjoint and ordered: partition i's max <= partition i+1's min
    for a, b in zip(parts, parts[1:]):
        assert a["hi"] <= b["lo"]


def test_roundtrip_and_manifest(spark, points, tmp_path):
    path = str(tmp_path / "pts")
    manifest = write_spatial_parquet(points, path, npartitions=6)
    assert len(manifest) == 6
    assert os.path.exists(os.path.join(path, "_spatial_manifest.json"))
    back = read_spatial_parquet(spark, path)
    assert back.count() == points.count()
    assert set(back.columns) >= {"id", "geom", "bounds", "hilbert_distance"}
    assert build_manifest(path) == manifest


def test_pruned_read_preserves_query_result(spark, points, tmp_path):
    path = str(tmp_path / "pts")
    write_spatial_parquet(points, path, npartitions=6)
    rect = (10.0, 10.0, 25.0, 25.0)
    full = read_spatial_parquet(spark, path)
    pruned = read_spatial_parquet(spark, path, bounds=rect)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    a = {r["id"] for r in cx_filter(full, "geom", "point", rect).collect()}
    b = {r["id"] for r in cx_filter(pruned, "geom", "point", rect).collect()}
    assert a == b and a


def test_pruned_read_empty_bounds(spark, points, tmp_path):
    path = str(tmp_path / "pts")
    write_spatial_parquet(points, path, npartitions=4)
    assert read_spatial_parquet(spark, path, bounds=(1e6, 1e6, 2e6, 2e6)).count() == 0


def test_unpacked_write(spark, points, tmp_path):
    path = str(tmp_path / "raw")
    write_spatial_parquet(points, path, pack=False)
    back = read_spatial_parquet(spark, path)
    assert back.count() == points.count()
    assert "hilbert_distance" not in back.columns


def test_cx_read_covered_passthrough(spark, points, tmp_path):
    """Covered-file passthrough (ref dask.py:616-638): the result matches a
    full-scan cx filter, covered files are read with no Filter node, and
    disjoint files are never opened."""
    from spatialpandas_spark.plans import physical_plan
    from spatialpandas_spark.sources import read_spatial_parquet_cx

    path = str(tmp_path / "pts")
    manifest = write_spatial_parquet(points, path, npartitions=8)
    # viewport that fully covers at least one file and straddles another
    import json

    boxes = sorted(manifest.values(), key=lambda b: (b[0], b[1]))
    cov = boxes[2]
    rect = (cov[0] - 0.5, cov[1] - 0.5, cov[2] + 0.5, cov[3] + 0.5)

    out = read_spatial_parquet_cx(spark, path, "geom", "point", rect)
    full = read_spatial_parquet(spark, path)
    expect = {r["id"] for r in cx_filter(full, "geom", "point", rect).collect()}
    assert {r["id"] for r in out.collect()} == expect and expect

    n_cov = sum(
        1
        for b in manifest.values()
        if b[0] >= rect[0] and b[2] <= rect[2] and b[1] >= rect[1] and b[3] <= rect[3]
    )
    n_overlap = sum(
        1
        for b in manifest.values()
        if not (b[0] > rect[2] or b[2] < rect[0] or b[1] > rect[3] or b[3] < rect[1])
    )
    assert n_cov >= 1
    opened = {os.path.basename(f) for f in out.inputFiles()}
    assert len(opened) == n_overlap < len(manifest)

    plan = physical_plan(out)
    # two scan branches; only the straddling branch filters rows
    n_scans = plan.count("FileScan parquet") or plan.count("Scan parquet")
    assert n_scans == 2
    assert plan.count("Filter ") <= 1


def test_cx_read_all_covered_has_no_filter(spark, points, tmp_path):
    from spatialpandas_spark.plans import physical_plan
    from spatialpandas_spark.sources import read_spatial_parquet_cx

    path = str(tmp_path / "pts")
    write_spatial_parquet(points, path, npartitions=4)
    out = read_spatial_parquet_cx(
        spark, path, "geom", "point", (-1.0, -1.0, 101.0, 101.0)
    )
    assert out.count() == points.count()
    # no row-level Filter node anywhere (scan attributes like
    # "DataFilters: []" don't count)
    assert "Filter (" not in physical_plan(out)


def test_append_refreshes_manifest_and_prunes(spark, tmp_path):
    """Append path: new batch packs within itself, manifest refresh makes
    both generations prunable; bounds-read sees the union."""
    from pyspark.sql import functions as F

    from spatialpandas_spark import st_point, with_bounds
    from spatialpandas_spark.sources import (
        append_spatial_parquet,
        read_spatial_parquet,
        write_spatial_parquet,
    )

    def pts(offset):
        return with_bounds(
            spark.range(200).select(
                (F.col("id") + offset * 1000).alias("id"),
                st_point(
                    (F.col("id") % 20 + offset * 100).cast("double"),
                    (F.col("id") % 10).cast("double"),
                ).alias("geom"),
            ),
            "geom",
            "point",
        )

    path = str(tmp_path / "appendable")
    write_spatial_parquet(pts(0), path, npartitions=2, p=8)
    m1 = append_spatial_parquet(pts(1), path, npartitions=2, p=8)
    assert len(m1) > 2  # manifest now covers both generations' files

    allrows = read_spatial_parquet(spark, path)
    assert allrows.count() == 400

    # viewport covering only generation 0 must prune generation 1 files
    gen0 = read_spatial_parquet(spark, path, bounds=(0.0, 0.0, 30.0, 30.0))
    assert gen0.count() == 200
    gen1 = read_spatial_parquet(
        spark, path, bounds=(100.0, 0.0, 130.0, 30.0)
    )
    assert gen1.count() == 200


#: Spark jobs of one compaction call on ``_fragmented`` (local[8]); 9
#: when the live and the staged rows were each counted by a Spark job
COMPACT_JOBS = 4


def _fragmented(spark, path):
    """A spatial dataset of ids 0..999 in 8 files: a write, two appends."""
    from spatialpandas_spark.sources.spatial_parquet import append_spatial_parquet

    def pts(lo, hi):
        df = spark.range(lo, hi).select(
            F.col("id"),
            st_point(
                (F.col("id") % 100).cast("double"),
                (F.col("id") % 97).cast("double"),
            ).alias("geom"),
        )
        return with_bounds(df, "geom", "point")

    tb = (0, 0, 99, 96)
    write_spatial_parquet(pts(0, 500), path, npartitions=4, total_bounds=tb)
    append_spatial_parquet(pts(500, 800), path, npartitions=2, total_bounds=tb)
    append_spatial_parquet(pts(800, 1000), path, npartitions=2, total_bounds=tb)


def test_compact_jobs_pinned(spark, tmp_path, jobs_in):
    """Compaction reads its row-identity check from the parquet footers:
    the call launches only the repack's own jobs (sampling, the packed
    write), none to count the live or the staged rows."""
    from spatialpandas_spark.sources.spatial_parquet import compact_spatial_parquet

    path = str(tmp_path / "ds")
    _fragmented(spark, path)
    _, n_jobs = jobs_in(
        "compact-jobs",
        lambda: compact_spatial_parquet(
            spark, path, npartitions=4, total_bounds=(0, 0, 99, 96)
        ),
    )
    assert n_jobs == COMPACT_JOBS
    assert spark.read.parquet(path).count() == 1000


def test_compact_short_staged_copy_raises(spark, tmp_path, monkeypatch):
    """A staged copy that lost a row fails the footer row check: the
    call raises, the staged copy stays for inspection, and the live
    dataset keeps its files and rows."""
    import spatialpandas_spark.sources.spatial_parquet as sp

    path = str(tmp_path / "ds")
    _fragmented(spark, path)
    files = sorted(os.listdir(path))
    real_write = sp.write_spatial_parquet

    def lossy_write(df, *args, **kwargs):
        return real_write(df.filter(F.col("id") != 7), *args, **kwargs)

    monkeypatch.setattr(sp, "write_spatial_parquet", lossy_write)
    with pytest.raises(RuntimeError, match=r"row-count mismatch \(1000 -> 999\)"):
        sp.compact_spatial_parquet(
            spark, path, npartitions=4, total_bounds=(0, 0, 99, 96)
        )
    assert sorted(os.listdir(path)) == files
    assert spark.read.parquet(path).count() == 1000
    assert os.path.isdir(f"{path}.compact.tmp")


def test_compact_restores_single_pack(spark, tmp_path):
    """append-fragmented dataset -> compact -> one global Hilbert order,
    same rows, manifest rebuilt, reads still prune."""
    from spatialpandas_spark.sources.spatial_parquet import (
        MANIFEST_NAME,
        compact_spatial_parquet,
    )
    import json as _json

    path = str(tmp_path / "ds")
    _fragmented(spark, path)
    before = _json.loads(open(f"{path}/{MANIFEST_NAME}").read())
    assert len(before["files"]) == 8

    manifest = compact_spatial_parquet(
        spark, path, npartitions=4, total_bounds=(0, 0, 99, 96)
    )
    after = _json.loads(open(f"{path}/{MANIFEST_NAME}").read())
    assert manifest is not None and len(after["files"]) == 4
    got = spark.read.parquet(path)
    assert got.count() == 1000
    assert sorted(r["id"] for r in got.select("id").collect()) == list(range(1000))
    # reads still prune through the refreshed manifest
    pruned = read_spatial_parquet(spark, path, bounds=(0.0, 0.0, 10.0, 10.0))
    assert 0 < pruned.count() < 1000
    # tiny dataset short-circuit
    assert compact_spatial_parquet(spark, path, min_files=99) is None
