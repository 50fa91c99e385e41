"""S6 evidence: sidecar/manifest IO has no POSIX assumption.

The reference proves its object-store path with a moto-backed S3 test
(ref tests/test_parquet_s3.py:25-99). No S3 stub is installable here, so
the equivalent claim is proven one layer down: every sidecar read/write
goes through spatialpandas_spark.sources.fs, and this module exercises
that layer — manifest build from parquet footers included — on
pyarrow's in-memory (non-POSIX) filesystem, plus scheme routing
(file://, s3a aliasing) for the URI forms Spark deployments use."""

import json

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest

from spatialpandas_spark.sources import fs as _fs


@pytest.fixture()
def memfs():
    return pafs._MockFileSystem()


def test_text_roundtrip_on_memory_fs(memfs):
    _fs.write_text("idx/dir/_sidecar.json", '{"k": 1}', filesystem=memfs)
    assert _fs.exists("idx/dir/_sidecar.json", filesystem=memfs)
    assert not _fs.exists("idx/dir/missing.json", filesystem=memfs)
    assert json.loads(_fs.read_text("idx/dir/_sidecar.json", filesystem=memfs)) == {
        "k": 1
    }


def test_list_files_on_memory_fs(memfs):
    memfs.create_dir("d", recursive=True)
    for name in ("b.parquet", "a.parquet", "_manifest.json"):
        with memfs.open_output_stream(f"d/{name}") as f:
            f.write(b"x")
    assert _fs.list_files("d", ".parquet", filesystem=memfs) == [
        "d/a.parquet",
        "d/b.parquet",
    ]


def test_build_manifest_on_memory_fs(memfs):
    """Footer-stats manifest build runs entirely through the fs layer."""
    from spatialpandas_spark.sources.spatial_parquet import build_manifest

    memfs.create_dir("data", recursive=True)
    for i, (x0, x1) in enumerate([(0.0, 10.0), (10.0, 25.0)]):
        t = pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "bounds": pa.array(
                    [
                        {"x0": x0, "y0": 0.0, "x1": x1 - 1, "y1": 5.0},
                        {"x0": x0 + 1, "y0": 1.0, "x1": x1, "y1": 7.0},
                    ],
                    pa.struct(
                        [(k, pa.float64()) for k in ("x0", "y0", "x1", "y1")]
                    ),
                ),
            }
        )
        pq.write_table(t, f"data/part-{i}.parquet", filesystem=memfs)
    manifest = build_manifest("data", filesystem=memfs)
    assert manifest == {
        "part-0.parquet": [0.0, 0.0, 10.0, 7.0],
        "part-1.parquet": [10.0, 0.0, 25.0, 7.0],
    }


def test_parquet_num_rows_counts_what_spark_reads(memfs):
    """Footer row counts over the files Spark would read: partition
    directories are descended into; ``_``/``.``-prefixed files and
    directories (sidecars, staging, checksums) are not read at all —
    they hold no parquet here, so reading one would raise."""
    def put(path, n):
        pq.write_table(pa.table({"v": pa.array(range(n), pa.int64())}),
                       path, filesystem=memfs)

    for d in ("ix/bucket=0", "ix/bucket=1", "ix/_temporary/0"):
        memfs.create_dir(d, recursive=True)
    put("ix/bucket=0/part-0.parquet", 3)
    put("ix/bucket=0/part-1.parquet", 4)
    put("ix/bucket=1/part-0.parquet", 5)
    put("ix/_temporary/0/part-9.parquet", 100)
    for name in ("ix/_ivfpq.json", "ix/_SUCCESS", "ix/bucket=0/.part-0.crc"):
        with memfs.open_output_stream(name) as f:
            f.write(b"not parquet")
    assert _fs.parquet_num_rows("ix", filesystem=memfs) == 12
    assert _fs.parquet_num_rows("ix/bucket=1", filesystem=memfs) == 5


def test_ivf_sidecar_on_memory_fs(memfs):
    from spatialpandas_spark.operators.similarity_index import (
        load_ivf_centroids,
    )

    cents = np.arange(6, dtype=float).reshape(2, 3).tolist()
    _fs.write_text(
        "ivf/_ivf_centroids.json",
        json.dumps({"centroids": cents}),
        filesystem=memfs,
    )
    assert load_ivf_centroids("ivf", filesystem=memfs) == cents


def test_scheme_routing():
    fs_, p = _fs.resolve("/tmp/x")
    assert isinstance(fs_, pafs.LocalFileSystem) and p == "/tmp/x"
    fs_, p = _fs.resolve("file:///tmp/x")
    assert isinstance(fs_, pafs.LocalFileSystem) and p == "/tmp/x"
    assert _fs.strip_scheme("s3a://bucket/key") == "bucket/key"
    # s3a (Hadoop spelling) must alias to pyarrow's s3 handler; resolving
    # may fail without credentials/region only AFTER scheme translation
    try:
        fs_, p = _fs.resolve("s3a://bucket/key")
    except OSError:
        pass  # no S3 config in this container — alias path still taken
    else:
        assert p == "bucket/key"


def test_file_uri_spatial_read_roundtrip(spark, tmp_path):
    """End-to-end: write + manifest-pruned read through a file:// URI —
    the same code path an s3a:// deployment takes, on the local store."""
    from pyspark.sql import functions as F

    from spatialpandas_spark import st_point, with_bounds
    from spatialpandas_spark.sources import (
        read_spatial_parquet,
        write_spatial_parquet,
    )

    df = with_bounds(
        spark.range(200).select(
            F.col("id"),
            st_point(
                (F.col("id") % 20).cast("double"),
                (F.col("id") % 10).cast("double"),
            ).alias("geom"),
        ),
        "geom",
        "point",
    )
    uri = f"file://{tmp_path}/pts"
    write_spatial_parquet(df, uri, npartitions=4, p=8)
    assert _fs.exists(f"{uri}/_spatial_manifest.json")
    pruned = read_spatial_parquet(spark, uri, bounds=(0.0, 0.0, 5.0, 5.0))
    expect = df.filter(
        (F.col("geom.x") <= 5.0) & (F.col("geom.y") <= 5.0)
    ).count()
    assert pruned.count() >= expect  # file-level pruning only
    assert pruned.count() < 200  # but some files were pruned
