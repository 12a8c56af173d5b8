"""The stat-keyed ``zipimporter.invalidate_caches`` that
``webpeel_spark`` installs in PySpark Python workers: an unchanged
archive is not re-read, a rewritten one is.  No Spark needed — the
worker is simulated by a ``pyspark.worker`` entry in ``sys.modules``."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

import webpeel_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13 re-reads lazily; the patch is a no-op there")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)  # a new inode, as a rewritten archive gets


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``m1`` on ``sys.path``, ``m1`` imported from it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"m1": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    import m1

    assert m1.VALUE == 1
    yield path
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def in_worker(monkeypatch):
    """Make ``_skip_unchanged_zip_rescans`` see a PySpark worker; the
    original method is restored afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))


def _count_reads(monkeypatch, archive):
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, in_worker, monkeypatch):
    webpeel_spark._skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches._stat_keyed
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()  # the first call sets the key
    assert len(reads) == 1
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged: not read again


def test_rewritten_archive_is_picked_up(archive, in_worker, monkeypatch):
    webpeel_spark._skip_unchanged_zip_rescans()
    importlib.invalidate_caches()
    before = os.stat(archive).st_size
    _write_zip(archive, {"m1": "VALUE = 1\n", "m2": "VALUE = 2\n"})
    assert os.stat(archive).st_size != before
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1
    import m2

    assert m2.VALUE == 2


def test_missing_archive_is_reread_every_time(archive, in_worker, monkeypatch):
    webpeel_spark._skip_unchanged_zip_rescans()
    importlib.invalidate_caches()
    os.remove(archive)
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2  # stat fails: no key, always the original path


def test_install_is_idempotent(in_worker):
    webpeel_spark._skip_unchanged_zip_rescans()
    installed = zipimport.zipimporter.invalidate_caches
    webpeel_spark._skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_driver_is_left_alone(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    original = zipimport.zipimporter.invalidate_caches
    webpeel_spark._skip_unchanged_zip_rescans()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not getattr(original, "_stat_keyed", False)
