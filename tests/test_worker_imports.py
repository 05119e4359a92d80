"""Zip-directory reads on ``importlib.invalidate_caches()``.

PySpark's Python worker invalidates the import caches at the start of
every task; importing ``barefoot_spark`` makes that re-read a zip
archive's central directory only when the archive changed on disk.
These tests count ``zipimport._read_directory`` calls; they time
nothing.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import barefoot_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


@pytest.fixture
def read_count(monkeypatch):
    """Count of directory reads from here on."""
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    return reads


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip of package ``bfs_zprobe`` (with subpackage ``sub``) first on
    ``sys.path``; sys.path, the importer cache and the modules are
    restored afterwards."""
    archive = str(tmp_path / "zprobe.zip")
    _write_zip(archive, {"bfs_zprobe/__init__.py": "",
                         "bfs_zprobe/sub/__init__.py": "X = 1\n"})
    path, importers = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    yield archive
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(importers)
    for name in [m for m in sys.modules if m.startswith("bfs_zprobe")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(archive, None)
    barefoot_spark._last_read.pop(archive, None)


def test_invalidate_rereads_only_a_changed_zip(zip_on_path, read_count):
    archive = zip_on_path
    import bfs_zprobe.sub
    assert bfs_zprobe.sub.X == 1
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter) and v.archive == archive]
    assert len(importers) == 2  # the package and the subpackage directory
    assert read_count == [archive]  # the import read the archive once

    del read_count[:]
    importlib.invalidate_caches()
    assert read_count == []

    # rewritten with one more module: re-read once, shared by both
    # importers, and the new module imports
    _write_zip(archive, {"bfs_zprobe/__init__.py": "",
                         "bfs_zprobe/sub/__init__.py": "X = 1\n",
                         "bfs_zprobe/sub/extra.py": "Y = 2\n"})
    importlib.invalidate_caches()
    import bfs_zprobe.sub.extra
    assert bfs_zprobe.sub.extra.Y == 2
    assert read_count == [archive]

    # with no read on record (an importer made before the package was
    # imported), the next invalidation reads
    del read_count[:]
    barefoot_spark._last_read.pop(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_count == [archive]

    # a removed archive is dropped, as without the package
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


def test_worker_task_skips_unchanged_zip_reads(spark):
    def probe(batches):
        for _ in batches:
            pass
        import barefoot_spark  # noqa: F401
        # archives read before the import are read once more, here
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({
            "pyspark_zip": [any(p.endswith("pyspark.zip") for p in sys.path)],
            "importers": [len(importers)],
            "reads": [len(reads)]})

    out = (spark.range(1).coalesce(1)
           .mapInPandas(probe, "pyspark_zip boolean, importers int, reads int")
           .toPandas())
    assert out["pyspark_zip"].tolist() == [True]
    assert out["importers"][0] > 1
    assert out["reads"].tolist() == [0]
