"""barefoot_spark: a PySpark spatial-join, tiling and map-matching engine.

Importing the package makes ``importlib.invalidate_caches()`` skip zip
archives that did not change. PySpark's Python worker calls it at the
start of every task (``pyspark/worker_util.py::setup_spark_files``), and
CPython <= 3.12 then has every ``zipimporter`` re-read its archive's
whole central directory: one read per package directory imported from
``pyspark.zip``. Workers import this package to unpickle an engine
kernel or the broadcast ``RoadIndex``, so their later tasks skip those
reads.

Each directory read notes the archive's ``os.stat`` (mtime_ns, size,
inode) from just before it. An invalidation re-reads only if the stat
differs from the last read's or none was noted; otherwise the importer
takes the last read's directory, as importers of one archive share it.
"""

import os
import zipimport

_read_directory = zipimport._read_directory
_invalidate_caches = zipimport.zipimporter.invalidate_caches
_last_read = {}  # archive path -> (stat before its last read, directory)


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _read_directory_noting_stat(archive):
    key = _stat_key(archive)
    _last_read.pop(archive, None)
    files = _read_directory(archive)
    _last_read[archive] = key, files
    return files


def _invalidate_if_changed(self):
    key = _stat_key(self.archive)
    last = _last_read.get(self.archive)
    if key is None or last is None or last[0] != key:
        _invalidate_caches(self)
    else:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]


zipimport._read_directory = _read_directory_noting_stat
zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
