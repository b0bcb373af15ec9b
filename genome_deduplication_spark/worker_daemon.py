"""Python worker daemon (``spark.python.daemon.module``). Each task's setup ends in
``importlib.invalidate_caches()``, on which CPython 3.11 re-reads each cached zip
importer's whole archive directory; here an archive is re-read only if its stat changed.
"""

import importlib
import os
import runpy
import zipimport

_read_directory = zipimport._read_directory
_invalidate = zipimport.zipimporter.invalidate_caches
_keys = {}  # archive path -> (stat key, directory) of its last read


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def read_directory(archive):
    """zipimport's directory read, keyed by the archive's stat."""
    key = _stat_key(archive)
    files = _read_directory(archive)
    _keys[archive] = key, files
    return files


def invalidate_caches(self):
    """Re-read this importer's archive only if it changed since its last read."""
    key, files = _keys.get(self.archive, (None, None))
    if key is None or key != _stat_key(self.archive):
        return _invalidate(self)
    self._files = files


if __name__ == "__main__":  # forked workers inherit the hooks
    from genome_deduplication_spark import worker_daemon
    zipimport._read_directory = worker_daemon.read_directory
    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    importlib.invalidate_caches()  # key the archives read before the hooks
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
