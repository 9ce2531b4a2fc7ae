"""Python worker daemon that keeps zip-import directories across tasks.

Spark launches this module as its worker daemon
(``spark.python.daemon.module``; :func:`~scalablevectorsearch_spark.session.get_spark`
sets it). Every task calls ``importlib.invalidate_caches()`` on entry, and
on Python 3.11+ that makes each ``zipimporter`` re-parse its archive's
central directory in pure Python: 14-16 importers over pyspark.zip's
~1,300 entries, 70-100 ms per task on a reused worker. Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size, st_ino)``
differs from the stamp taken at its last read; a failing ``os.stat``
counts as changed. CPython's own freshness checks use less (source
files: mtime and size; directory listings: mtime), and a replaced
archive gets a new inode. ``FileFinder`` invalidation is untouched.
"""

import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self):
    """Re-read this importer's zip directory unless the archive is unchanged."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_svs_stamp", None):
        _read(self)
        self._svs_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
