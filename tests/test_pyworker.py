"""The zip-import invalidation that sparkocr installs in its Python
workers (sparkocr/pyworker.py): an unchanged archive is not re-read, a
changed one is read once for all its importers, a missing or corrupt one
gives the stock result, and inside real Spark workers the per-task
``importlib.invalidate_caches()`` stops re-reading pyspark.zip."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sparkocr import pyworker

before_313 = sys.version_info < (3, 13)
needs_fix = pytest.mark.skipif(not before_313, reason="CPython >= 3.13 invalidates lazily")


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = str(path) + ".new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a new inode, as a deployment would produce


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with two importers: one for the archive root and
    one for the package inside it. Yields (path, importers, reads, mods):
    ``reads`` lists the archives ``zipimport._read_directory`` was called
    on since the fixture started counting, ``mods`` the archive's files."""
    path = str(tmp_path / "mods.zip")
    mods = {
        "pwk_pkg/__init__.py": "",
        "pwk_pkg/a.py": "X = 1\n",
    }
    _write_zip(path, mods)
    monkeypatch.syspath_prepend(path)
    importlib.invalidate_caches()
    importlib.import_module("pwk_pkg.a")
    importers = [
        sys.path_importer_cache[p]
        for p in (path, os.path.join(path, "pwk_pkg"))
    ]
    assert all(isinstance(i, zipimport.zipimporter) for i in importers)

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, importers, reads, mods
    for p in (path, os.path.join(path, "pwk_pkg")):
        sys.path_importer_cache.pop(p, None)
    for m in [m for m in sys.modules if m == "pwk_pkg" or m.startswith("pwk_pkg.")]:
        del sys.modules[m]
    zipimport._zip_directory_cache.pop(path, None)
    pyworker._read_at.pop(path, None)


@needs_fix
def test_package_import_installs_the_fix():
    import sparkocr  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches


@needs_fix
def test_unchanged_archive_is_not_reread(archive):
    path, importers, reads, _ = archive
    importlib.invalidate_caches()  # primes the stamp
    assert reads.count(path) == 1  # one read for both importers
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 0
    files = zipimport._zip_directory_cache[path]
    assert all(i._files is files for i in importers)


@needs_fix
def test_changed_archive_is_read_once_for_all_importers(archive):
    path, importers, reads, mods = archive
    importlib.invalidate_caches()
    del reads[:]
    _write_zip(path, {**mods, "pwk_pkg/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("pwk_pkg.b").Y == 2
    files = zipimport._zip_directory_cache[path]
    assert "pwk_pkg/b.py" in files
    assert all(i._files is files for i in importers)


@needs_fix
def test_change_during_read_is_reread_next_time(archive, monkeypatch):
    """The stamp is taken before the read: an archive replaced while it is
    being read reads as changed on the next call."""
    path, importers, reads, mods = archive
    counting = zipimport._read_directory

    def read_then_replace(p):
        files = counting(p)
        if p == path:
            _write_zip(path, {**mods, "pwk_pkg/c.py": "Z = 3\n"})
        return files

    monkeypatch.setattr(zipimport, "_read_directory", read_then_replace)
    importlib.invalidate_caches()
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("pwk_pkg.c").Z == 3


@needs_fix
@pytest.mark.parametrize("damage", ["deleted", "corrupt"])
def test_missing_or_corrupt_archive_gives_stock_result(archive, damage):
    path, importers, reads, _ = archive
    importlib.invalidate_caches()
    if damage == "deleted":
        os.remove(path)
    else:
        with open(path, "wb") as f:
            f.write(b"not a zip archive")
    importlib.invalidate_caches()
    assert all(i._files == {} for i in importers)
    assert path not in zipimport._zip_directory_cache
    assert path not in pyworker._read_at


@needs_fix
def test_install_is_idempotent():
    pyworker.install()
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches


@needs_fix
@pytest.mark.parametrize("name", ["_read_directory", "_zip_directory_cache"])
def test_install_stands_aside_without_zipimport_internals(monkeypatch, name):
    def stock(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.delattr(zipimport, name)
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(before_313, reason="the fix applies before CPython 3.13")
def test_stock_method_untouched_on_313():
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is not pyworker.invalidate_caches


@needs_fix
def test_workers_stop_rereading_pyspark_zip(spark):
    """Every task of a sparkocr stage, on its worker: the second of two
    ``importlib.invalidate_caches()`` calls reads no zip directory. The
    stock method reads one per zipimporter (16 for pyspark.zip)."""
    import pandas as pd

    def reads_on_second_invalidation(batches):
        import importlib as il
        import zipimport as zi

        import sparkocr  # noqa: F401  (installs the fix, as any sparkocr UDF does)

        il.invalidate_caches()
        real, n = zi._read_directory, [0]

        def counting(p):
            n[0] += 1
            return real(p)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "reads": [n[0]],
                "zip_importers": [
                    sum(isinstance(f, zi.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "installed": [zi.zipimporter.invalidate_caches.__module__ == "sparkocr.pyworker"],
            }
        )

    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(reads_on_second_invalidation, "reads long, zip_importers long, installed boolean")
        .collect()
    )
    assert len(rows) == 8
    assert all(r["zip_importers"] > 0 for r in rows)  # pyspark.zip is on the worker path
    assert [r["reads"] for r in rows] == [0] * 8
    assert all(r["installed"] for r in rows)
