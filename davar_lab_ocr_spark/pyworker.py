"""Re-read an import archive only when it has changed, in Spark Python workers.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python-UDF task,
so that ``.py``/``.zip`` files shipped with ``addPyFile`` become
importable. On CPython < 3.13 that call makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read the central directory of its
archive: one importer per imported subpackage of ``pyspark.zip``, plus
the py4j zip and the spark-core jar that sit on the worker's
``sys.path``. That is 10-50 ms per read and some hundred ms per task,
for archives that do not change under a running worker.

``install()`` replaces ``zipimport.zipimporter.invalidate_caches`` with
a method that re-reads an archive only when its stat signature (inode,
size, ``st_mtime_ns``, ``st_ctime_ns``) differs from the one taken
before its last read. Otherwise the importer takes the archive's shared
``zipimport._zip_directory_cache`` entry, so one changed archive is read
once for all the importers that share it. An archive that cannot be
stat'ed or has no cache entry goes through the stdlib method. Directory
finders (``FileFinder``, e.g. for Spark's ``userFiles`` directory) keep
their own invalidation; nothing importable changes.

CPython 3.13's ``zipimporter.invalidate_caches`` only drops the shared
cache entry, so ``needed()`` is false there. The package init installs
the hook when ``needed()`` holds; the driver is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def needed() -> bool:
    """True inside a Spark Python worker on CPython < 3.13.

    Reads the flag ``setup_spark_files`` sets before a task's function is
    unpickled, without importing pyspark."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    files = sys.modules.get("pyspark.core.files")
    return files is not None and bool(getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process.
    A second call is a no-op."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if stdlib.__module__ == __name__:
        return
    # archive -> its stat signature taken before its last read
    read_at: dict[str, tuple[int, int, int, int]] = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path if it has changed."""
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            stdlib(self)
            return
        sig = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and read_at.get(archive) == sig:
            self._files = files
        else:
            # sig was taken before the read, so a change during the read
            # shows next time; a failed read leaves no cache entry
            stdlib(self)
            read_at[archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
