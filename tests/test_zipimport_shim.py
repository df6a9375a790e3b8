"""The zip-import shim (``fairy_core_spark._zipimport``): a per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed, and otherwise behaves like the stock method."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from fairy_core_spark import _zipimport

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the shim is installed only before CPython 3.13"
)


def _write_zip(path, pkg: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for m in modules:
            z.writestr(f"{pkg}/{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package ``<pkg>`` with module ``a`` in ``<tmp>/lib.zip``, imported
    from there; yields (archive, package name, read_directory call log)."""
    pkg = f"zipshim_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, pkg, ["a"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{pkg}.a")

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    _zipimport._stamps.pop(archive, None)


def _importers(archive):
    return [
        imp for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive) and isinstance(imp, zipimport.zipimporter)
    ]


@old_python
def test_unchanged_zip_is_not_reread(zipped_pkg, monkeypatch):
    archive, _, reads = zipped_pkg
    assert len(_importers(archive)) == 2  # the archive root and <pkg>/
    assert zipimport.zipimporter.invalidate_caches is _zipimport._invalidate_caches

    importlib.invalidate_caches()  # no stamp yet: one read for both importers
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    for imp in _importers(archive):
        assert imp._files is zipimport._zip_directory_cache[archive]

    # the stock method reads the directory again through every importer
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport._stock)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


@old_python
def test_rewritten_zip_is_reread_once(zipped_pkg):
    archive, pkg, reads = zipped_pkg
    importlib.invalidate_caches()
    size = os.path.getsize(archive)
    _write_zip(archive, pkg, ["a", "b"])
    assert os.path.getsize(archive) != size

    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(f"{pkg}.b").NAME == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def _after_removal(archive) -> list:
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    return [
        archive in zipimport._zip_directory_cache,
        [imp._files for imp in _importers(archive)],
        archive in _zipimport._stamps,
    ]


@old_python
@pytest.mark.parametrize("method", ["stock", "shim"])
def test_removed_zip_behaves_like_stock(zipped_pkg, monkeypatch, method):
    archive, pkg, _ = zipped_pkg
    if method == "stock":
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport._stock)
    # directory cache dropped, every importer left with no files
    assert _after_removal(archive) == [False, [{}, {}], False]
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{pkg}.c")

    _write_zip(archive, pkg, ["a", "c"])  # restored: read again, imports work
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.c").NAME == "c"


def test_not_installed_from_cpython_313(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipimport._stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is _zipimport._stock


def test_python_workers_run_the_shim(spark):
    """A worker that imports an engine module has the shim installed."""

    def report(batches):
        import zipimport

        import pandas as pd

        import fairy_core_spark.functions.phash  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"method": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(4, numPartitions=2).mapInPandas(report, "method string").collect()
    methods = {r.method for r in rows}
    if sys.version_info < (3, 13):
        assert methods == {"fairy_core_spark._zipimport"}
    else:
        assert methods == {"zipimport"}
