"""Filesystem abstraction for sidecar/manifest IO (S6 evidence).

Spark reads and writes the *data* files through its Hadoop FileSystem
layer (``s3a://``, ``hdfs://``, ``file://`` all inherited), but the
engine's JSON manifests / index sidecars and parquet-footer reads happen
driver-side in Python; raw ``open()``/``glob`` silently break the first
time a dataset lives on an object store. All such IO routes through
``pyarrow.fs`` via this module: ``FileSystem.from_uri`` covers
S3/GCS/Azure/HDFS/local, and callers (and tests) can inject any
``pyarrow.fs.FileSystem`` to prove no POSIX assumption leaks in.

Reference analog: the reference proves its S3 path with a moto-backed
end-to-end test (``/root/reference/spatialpandas/tests/test_parquet_s3.py:25-99``);
here the sidecar IO layer itself is exercised on a non-POSIX in-memory
filesystem (``tests/test_fs_abstraction.py``).
"""

from __future__ import annotations

import posixpath
import re

import pyarrow.fs as pafs

# Spark's Hadoop S3 connector spells the scheme s3a://; pyarrow wants s3://
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")


def strip_scheme(path: str) -> str:
    m = _SCHEME_RE.match(path)
    return path[m.end() :] if m else path


def resolve(
    path: str, filesystem: pafs.FileSystem | None = None
) -> tuple[pafs.FileSystem, str]:
    """Return (filesystem, fs-local path) for a possibly-schemed path.
    An explicitly injected filesystem wins (path is de-schemed for it)."""
    if filesystem is not None:
        return filesystem, strip_scheme(path)
    m = _SCHEME_RE.match(path)
    if not m:
        return pafs.LocalFileSystem(), path
    scheme = m.group(1)
    alias = _SCHEME_ALIASES.get(scheme)
    if alias:
        path = alias + path[len(scheme) :]
    return pafs.FileSystem.from_uri(path)


def write_text(
    path: str, text: str, filesystem: pafs.FileSystem | None = None
) -> None:
    fs, p = resolve(path, filesystem)
    parent = posixpath.dirname(p)
    if parent:
        fs.create_dir(parent, recursive=True)
    with fs.open_output_stream(p) as f:
        f.write(text.encode("utf-8"))


def read_text(path: str, filesystem: pafs.FileSystem | None = None) -> str:
    fs, p = resolve(path, filesystem)
    with fs.open_input_stream(p) as f:
        return f.read().decode("utf-8")


def exists(path: str, filesystem: pafs.FileSystem | None = None) -> bool:
    fs, p = resolve(path, filesystem)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def replace_dir(
    src: str, dst: str, filesystem: pafs.FileSystem | None = None
) -> None:
    """Replace directory ``dst`` with ``src`` (compaction swap). Uses
    the filesystem's move where available — atomic on POSIX when src
    and dst share a device; object stores emulate move as copy+delete
    (pyarrow does this internally), so the swap window there is
    best-effort, the same caveat as any non-transactional lake."""
    fs, s = resolve(src, filesystem)
    _, d = resolve(dst, filesystem)
    old = None
    if fs.get_file_info(d).type != pafs.FileType.NotFound:
        old = d.rstrip("/") + ".old"
        if fs.get_file_info(old).type != pafs.FileType.NotFound:
            fs.delete_dir(old)
        fs.move(d, old)
    try:
        fs.move(s, d)
    except Exception:
        if old is not None:  # restore the live dataset on a failed swap
            fs.move(old, d)
        raise
    if old is not None:
        fs.delete_dir(old)


def list_files(
    path: str,
    suffix: str = ".parquet",
    filesystem: pafs.FileSystem | None = None,
    recursive: bool = False,
) -> list[str]:
    """Sorted fs-local paths of the children with ``suffix`` (direct
    children by default; ``recursive=True`` descends into partition
    directories like ``bucket=N``)."""
    fs, p = resolve(path, filesystem)
    sel = pafs.FileSelector(p, recursive=recursive, allow_not_found=True)
    return sorted(
        info.path
        for info in fs.get_file_info(sel)
        if info.type == pafs.FileType.File and info.path.endswith(suffix)
    )


def read_parquet_metadata(
    path: str, filesystem: pafs.FileSystem | None = None
):
    import pyarrow.parquet as pq

    fs, p = resolve(path, filesystem)
    return pq.read_metadata(p, filesystem=fs)


def parquet_num_rows(
    path: str, filesystem: pafs.FileSystem | None = None
) -> int:
    """Rows of the parquet dataset at ``path``, summed from the footers'
    ``num_rows`` over the files Spark would read: names starting with
    ``_`` or ``.`` (sidecars, ``_SUCCESS``, checksums, ``_temporary``)
    are skipped at every level, and partition directories such as
    ``bucket=N`` are descended into. No Spark job."""
    fs, p = resolve(path, filesystem)
    root = p.rstrip("/") + "/"
    sel = pafs.FileSelector(p, recursive=True)
    total = 0
    for info in fs.get_file_info(sel):
        parts = info.path[len(root) :].split("/")
        if info.type != pafs.FileType.File or any(
            part.startswith(("_", ".")) for part in parts
        ):
            continue
        total += read_parquet_metadata(info.path, filesystem=fs).num_rows
    return total
