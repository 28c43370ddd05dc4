"""The Python workers' daemon: pyspark's own, except that a worker re-reads
a zip archive's directory only when the archive has changed.

Spark starts every Python task with ``setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Before Python 3.13, that makes each
``zipimporter`` re-read its archive's central directory at once: about 16
of them over ``pyspark.zip`` (1,328 entries).  On a 4-core host with
Python 3.11, a one-row task on a reused worker cost a median 0.339 CPU-s
under ``pyspark.daemon`` and 0.075 under this module.  Python 3.13's
``zipimport`` only drops the cached directory and reads it again when it
is next used.
``session.get_spark`` names this module as ``spark.python.daemon.module``
on a driver JVM it launches.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_when_changed(reread):
    """A ``zipimporter.invalidate_caches`` that calls ``reread`` (the
    stdlib method) only for an archive that is missing, or whose
    ``(st_mtime_ns, st_size, st_ino)`` differs from its last read's; the
    directories already cached count as read when this is called."""
    cache = zipimport._zip_directory_cache
    read_as = {path: _stamp(path) for path in cache}

    def invalidate_caches(self):
        now = _stamp(self.archive)
        if now is None or now != read_as.get(self.archive) or self.archive not in cache:
            reread(self)
            read_as[self.archive] = now
        else:  # another importer of this archive may have re-read it
            self._files = cache[self.archive]

    return invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon  # reads pyspark.zip's directory first

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_when_changed(
            zipimport.zipimporter.invalidate_caches
        )
    daemon.manager()
