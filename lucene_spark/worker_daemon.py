"""Python worker daemon for local Spark sessions (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` before every task. Before
Python 3.12 each ``zipimporter`` answers that by re-reading its archive's
whole central directory, and workers import pyspark from ``pyspark.zip``
through one zipimporter per package, so every task re-reads the zip about
16 times before its UDF body runs. This daemon re-reads an archive only when
its stat stamp (mtime, size, inode) differs from the one at that importer's
last read, so a changed zip (an ``addPyFile`` upload) is still picked up.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install():
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_lucene_spark_stamp", None):
            reread(self)
            self._lucene_spark_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        _install()
    from pyspark import daemon

    daemon.manager()
