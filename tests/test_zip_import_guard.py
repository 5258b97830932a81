"""The stat guard on the worker's zip importers (``guard_zip_importers``).

PySpark invalidates the import caches before every Python task; the guard
makes an unchanged archive keep its directory across that call, while a
changed one is re-read exactly as without it.  No Spark session needed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import (
    _StatGuardedZipImporter,
    extraction_map_fn,
    guard_zip_importers,
)


@pytest.fixture
def importer_cache():
    """Restore ``sys.path_importer_cache``, ``sys.path`` and
    ``sys.modules`` after the test, with the original importer classes."""
    cache = dict(sys.path_importer_cache)
    classes = {k: type(v) for k, v in cache.items()}
    path = list(sys.path)
    modules = set(sys.modules)
    yield sys.path_importer_cache
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    for k, v in cache.items():
        if v is not None and type(v) is not classes[k]:
            v.__class__ = classes[k]
    sys.path[:] = path
    for name in set(sys.modules) - modules:
        del sys.modules[name]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path, importer_cache):
    """An archive holding ``zg_a``, ``zg_b`` and ``zg_c``, on ``sys.path``,
    with ``zg_a`` imported so its ``zipimporter`` is cached."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_a": "X = 1\n", "zg_b": "X = 2\n",
                         "zg_c": "X = 3\n"})
    sys.path.insert(0, archive)
    importlib.import_module("zg_a")
    assert type(importer_cache[archive]) is zipimport.zipimporter
    return archive


@pytest.fixture
def read_spy(monkeypatch):
    """Record every archive whose directory ``zipimport`` reads."""
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, read_spy):
    # unguarded, the archive is re-read: eagerly on CPython 3.11 / 3.12,
    # at the next lookup on 3.13
    importlib.invalidate_caches()
    importlib.import_module("zg_b")
    assert zip_on_path in read_spy
    read_spy.clear()
    guard_zip_importers()
    importlib.invalidate_caches()
    assert importlib.import_module("zg_c").X == 3
    assert zip_on_path not in read_spy


def test_rewritten_archive_is_reread(zip_on_path, read_spy, importer_cache):
    guard_zip_importers()
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zg_a": "X = 1\n", "zg_b": "X = 2\n",
                             "zg_c": "X = 3\n", "zg_new": "X = 4\n"})
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("zg_new").X == 4
    assert zip_on_path in read_spy
    # the new stat is recorded: the next invalidation reads nothing
    read_spy.clear()
    importlib.invalidate_caches()
    assert zip_on_path not in read_spy
    assert isinstance(importer_cache[zip_on_path], _StatGuardedZipImporter)


def test_same_size_rewrite_is_reread_by_mtime(zip_on_path, read_spy):
    guard_zip_importers()
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zg_a": "X = 1\n", "zg_b": "X = 2\n",
                             "zg_c": "X = 3\n"})
    assert os.stat(zip_on_path).st_size == st.st_size
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert zip_on_path in read_spy


def test_failed_stat_counts_as_change(zip_on_path, read_spy, importer_cache):
    guard_zip_importers()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert zip_on_path in read_spy
    with pytest.raises(ImportError):
        importlib.import_module("zg_b")


def test_other_finders_and_guarded_entries_left_alone(zip_on_path,
                                                      importer_cache):
    guard_zip_importers()
    guarded = importer_cache[zip_on_path]
    guarded._zip_stat = ("sentinel",)
    others = {k: (v, type(v)) for k, v in importer_cache.items()
              if not isinstance(v, zipimport.zipimporter)}
    assert any(t is importlib.machinery.FileFinder
               for _, t in others.values())
    guard_zip_importers()
    assert importer_cache[zip_on_path] is guarded
    assert guarded._zip_stat == ("sentinel",)
    for k, (v, t) in others.items():
        assert importer_cache[k] is v and type(v) is t


def test_map_function_installs_the_guard(zip_on_path, importer_cache):
    fn = extraction_map_fn(ExtractConfig())
    assert list(fn(iter([]))) == []
    assert type(importer_cache[zip_on_path]) is _StatGuardedZipImporter
