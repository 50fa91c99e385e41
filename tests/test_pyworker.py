"""The library's Python worker daemon (``spatialpandas_spark/_pyworker.py``):
a task's ``importlib.invalidate_caches()`` keeps an unchanged zip archive's
index, still re-reads a rewritten one, and still sees files shipped with
``addPyFile`` mid-session."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest


def test_unchanged_archive_indexes_survive_invalidate_in_a_task(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib as il
        import zipimport as zi

        before = dict(zi._zip_directory_cache)
        il.invalidate_caches()
        il.invalidate_caches()
        after = zi._zip_directory_cache
        out = ",".join(
            f"{k}={after.get(k) is v}" for k, v in sorted(before.items())
        )
        return pd.Series([out] * len(s))

    got = {r[0] for r in spark.range(2).repartition(2).select(probe("id")).collect()}
    entries = [e for line in got for e in line.split(",") if e]
    if not entries:
        pytest.skip("no zip archive on the Python worker path")
    assert all(e.endswith("=True") for e in entries), entries


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    from spatialpandas_spark import _pyworker

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pyworker._invalidate_caches
    )
    uid = uuid.uuid4().hex[:8]
    first, second = f"pw_first_{uid}", f"pw_second_{uid}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, [first])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).NAME == first
        importlib.invalidate_caches()  # first sight: read and stamp
        files = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()  # unchanged: index kept
        assert zipimport._zip_directory_cache[archive] is files

        _write_zip(archive, [first, second])
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not files
        assert importlib.import_module(second).NAME == second
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _pyworker._stamps.pop(archive, None)


def test_add_py_file_mid_session_imports_in_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    uid = uuid.uuid4().hex[:8]
    zipped, plain = f"pw_zipped_{uid}", f"pw_plain_{uid}"
    # run Python tasks first, so the workers' finders are already warm
    assert spark.range(4).select(F.pandas_udf(lambda s: s, "long")("id")).count() == 4

    archive = tmp_path / f"{zipped}.zip"
    _write_zip(archive, [zipped])
    (tmp_path / f"{plain}.py").write_text(f"NAME = {plain!r}\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(tmp_path / f"{plain}.py"))

    @F.pandas_udf("string")
    def names(s: pd.Series) -> pd.Series:
        import importlib as il

        got = il.import_module(zipped).NAME + "," + il.import_module(plain).NAME
        return pd.Series([got] * len(s))

    rows = spark.range(4).repartition(4).select(names("id")).collect()
    assert {r[0] for r in rows} == {f"{zipped},{plain}"}
