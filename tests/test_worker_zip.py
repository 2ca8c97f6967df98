"""Zip importers in Spark Python workers re-read only an archive that changed
(``polars_ruby_spark/_worker_zip.py``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from polars_ruby_spark import _worker_zip


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def archive_reads(monkeypatch):
    """The helper's wrapper on ``zipimporter.invalidate_caches`` for this
    test, and the list of archives ``zipimport._read_directory`` read."""
    stock = zipimport.zipimporter.invalidate_caches
    assert stock.__module__ == "zipimport"
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker_zip._wrap(stock))
    return reads


def test_archive_is_reread_only_when_changed(tmp_path, monkeypatch, archive_reads):
    """An unchanged archive is not re-read; a rewritten one that gains a
    module is, and the new module imports (``addPyFile`` keeps working); a
    missing one falls back to the stock re-read, which empties the index."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"plrs_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("plrs_zip_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)
        archive_reads.clear()
        importlib.invalidate_caches()  # first call for this importer
        assert archive_reads.count(archive) == 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive_reads.count(archive) == 1

        _write_zip(archive, {"plrs_zip_a": "X = 1\n", "plrs_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert archive_reads.count(archive) == 2
        assert importlib.import_module("plrs_zip_b").Y == 2
        importlib.invalidate_caches()
        assert archive_reads.count(archive) == 2

        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive_reads.count(archive) == 4
        assert importer._files == {}
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("plrs_zip_a", "plrs_zip_b"):
            sys.modules.pop(name, None)


def test_install_wraps_once_and_only_in_a_task(monkeypatch):
    """Without a task context (the driver) install leaves the stock method;
    in a task it wraps it, and a second install does not wrap it again."""
    from pyspark import TaskContext

    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    monkeypatch.setattr(cls, "invalidate_caches", stock)  # restored after
    assert _worker_zip.install() is False
    assert cls.invalidate_caches is stock
    monkeypatch.setattr(TaskContext, "get", staticmethod(lambda: object()))
    assert _worker_zip.install() and _worker_zip.install()
    assert cls.invalidate_caches.__module__ == _worker_zip.__name__
    assert cls.invalidate_caches.__wrapped__ is stock


def test_installed_in_python_workers_only(spark):
    """A ``mapInArrow`` kernel sees the helper installed in its worker, where
    Spark's per-task ``importlib.invalidate_caches()`` then reads no archive
    again; the driver keeps the stock method."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import polars_ruby_spark  # noqa: F401 — as an engine kernel's unpickle does

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "importers": [importers], "reads": [len(reads)]})

    rows = (spark.range(0, 4, 1, 2)
            .mapInArrow(probe, "module string, importers long, reads long").collect())
    assert len(rows) == 2
    for r in rows:
        assert r["module"] == _worker_zip.__name__
        assert r["importers"] > 0 and r["reads"] == 0
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
