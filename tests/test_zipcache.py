"""Zip-archive re-read skip for Spark Python workers (``_zipcache``):
an unchanged archive's directory is read once, a rewritten one is
read again, and the stock method stays outside a task or on
Python >= 3.13."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ingestor_etl_spark import _zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """The skip installed on the class for this test only, with an
    empty read record, and a counter of directory reads."""
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(_zipcache, "_READ_AT", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache.invalidate_if_changed)
    return reads


def test_unchanged_archive_is_read_once(tmp_path, patched):
    archive = tmp_path / "a.zip"
    _write_zip(archive, {"zc_one": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    patched.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert patched == [str(archive)]
    assert "zc_one.py" in importer._files


def test_rewritten_archive_is_read_again(tmp_path, patched, monkeypatch):
    archive = tmp_path / "b.zip"
    _write_zip(archive, {"zc_old": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zc_old", "zc_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_old").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"zc_old": "X = 1\n", "zc_new": "Y = 2\n"})
    patched.clear()
    importlib.invalidate_caches()
    assert str(archive) in patched
    assert importlib.import_module("zc_new").Y == 2


def test_stock_method_outside_a_task(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache._STOCK)
    assert _zipcache.install_in_worker() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._STOCK


def test_installs_in_a_task_before_python_313_only(monkeypatch):
    from pyspark import TaskContext

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipcache._STOCK)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert _zipcache.install_in_worker() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._STOCK
    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    assert _zipcache.install_in_worker() is True
    assert zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_if_changed


def test_engine_udf_worker_has_skip_driver_stock(spark):
    """A worker that ran an engine UDF carries the skip (before 3.13);
    the driver keeps the stock method."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ingestor_etl_spark.protocols import map_rows

    def report(_):
        yield (zipimport.zipimporter.invalidate_caches is _zipcache.invalidate_if_changed,)

    schema = StructType([StructField("patched", BooleanType())])
    got = map_rows(spark.range(0, 4, 1, 4), schema, report).collect()
    assert len(got) == 4
    assert {r.patched for r in got} == {sys.version_info < (3, 13)}
    assert zipimport.zipimporter.invalidate_caches is _zipcache._STOCK
