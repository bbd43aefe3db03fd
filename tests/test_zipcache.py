"""zipcache: ``importlib.invalidate_caches()`` re-reads a zip archive's
directory only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from divolte_collector_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipcache is a no-op from Python 3.13 on"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path):
    """A zip on sys.path, loaded by the STOCK importer (the package import
    already installed the shim in this process, so undo that here);
    sys.path, the hooks and the importer cache are restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    saved_path = list(sys.path)
    saved_hooks = list(sys.path_hooks)
    saved_cache = dict(sys.path_importer_cache)
    sys.path_hooks[:] = [
        zipimport.zipimporter if h is zipcache.StatZipImporter else h
        for h in saved_hooks
    ]
    sys.path.insert(0, path)
    importlib.import_module("zc_mod_a")
    try:
        yield path
    finally:
        sys.path[:] = saved_path
        sys.path_hooks[:] = saved_hooks
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def _reads_during_invalidate(monkeypatch, archive: str) -> int:
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    monkeypatch.setattr(zipimport, "_read_directory", stock)
    return reads.count(archive)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter
    assert _reads_during_invalidate(monkeypatch, archive) == 1  # stock

    zipcache.install()
    assert type(sys.path_importer_cache[archive]) is zipcache.StatZipImporter
    assert _reads_during_invalidate(monkeypatch, archive) == 0
    assert _reads_during_invalidate(monkeypatch, archive) == 0


def test_rewritten_archive_is_reread(archive, monkeypatch):
    zipcache.install()
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    assert _reads_during_invalidate(monkeypatch, archive) == 1
    assert importlib.import_module("zc_mod_b").Y == 2
    assert _reads_during_invalidate(monkeypatch, archive) == 0


def test_deleted_archive_empties_the_directory(archive, tmp_path):
    zipcache.install()
    importer = sys.path_importer_cache[archive]
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert importer._files == {}  # as the stock class leaves it


def test_install_is_idempotent(archive):
    zipcache.install()
    hooks = list(sys.path_hooks)
    importer = sys.path_importer_cache[archive]
    zipcache.install()
    assert sys.path_hooks == hooks
    assert hooks.count(zipcache.StatZipImporter) == 1
    assert zipimport.zipimporter not in hooks
    assert sys.path_importer_cache[archive] is importer


def test_install_does_nothing_from_python_3_13(archive, monkeypatch):
    hooks = list(sys.path_hooks)
    importer = sys.path_importer_cache[archive]
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache[archive] is importer


def test_worker_tasks_do_not_reread_zip_archives(spark):
    """Inside a Python worker, after the package import, the per-task
    ``importlib.invalidate_caches()`` reads no zip directory."""

    def probe(batches):
        import divolte_collector_spark  # noqa: F401  what unpickling a task does

        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"zips": [zips], "reads": [len(reads)]})

    rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "zips long, reads long").collect()
    assert len(rows) == 4
    if not any(r.zips for r in rows):
        pytest.skip("no zip archive on the workers' path")
    assert [r.reads for r in rows] == [0, 0, 0, 0]
