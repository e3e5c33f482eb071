"""pyworker.cache_zip_directories: a reused Python worker re-reads a zip
archive's directory only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from mapchete_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def cached_zip(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module, the cache installed
    for this test only, and a count of directory reads per archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipmod_a", "zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # restored after the test, so the cache is not left installed
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.import_module("zipmod_a")
    pyworker.cache_zip_directories()
    pyworker.cache_zip_directories()  # idempotent: wraps once
    reads.clear()
    return archive, reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="lazy in Python 3.13+")
def test_unchanged_archive_is_read_once(cached_zip):
    archive, reads = cached_zip
    importlib.invalidate_caches()
    first = reads.count(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert first == 1
    assert reads.count(archive) == 1


def test_changed_archive_is_read_again(cached_zip):
    archive, _ = cached_zip
    importlib.invalidate_caches()
    _write_zip(archive, {"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_b").Y == 2


def test_installed_in_spark_worker(spark):
    def probe(_):
        import zipimport as zi

        import mapchete_spark  # noqa: F401

        yield bool(getattr(zi.zipimporter.invalidate_caches, "cached_by_mapchete_spark", False))

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [sys.version_info < (3, 13)]
    assert not pyworker.in_spark_task()
