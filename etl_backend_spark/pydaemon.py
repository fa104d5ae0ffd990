"""PySpark worker daemon whose zip importers re-read an archive only when it
changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 and 3.12 every ``zipimporter`` then re-reads its
whole archive directory: one read per importer of Spark's ``pyspark.zip``,
py4j zip and spark-core jar, ~0.2 s of a task whose UDF runs in ms. CPython
3.13 makes the read lazy and shared per archive. Here an archive is re-read
only when its (inode, mtime_ns, size) differs from its last read; otherwise
the importer takes that read. ``session.get_spark`` runs this module as
``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_eager = zipimport.zipimporter.invalidate_caches
# archive -> (stat key, directory) of its last read; per process, like
# zipimport's own _zip_directory_cache
_last_read: dict = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` without the re-read of an
    unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    last = _last_read.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = last[1]
        return
    _eager(self)
    _last_read[self.archive] = (key, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    importlib.invalidate_caches()  # one read per archive, before the forks
    pyspark.daemon.manager()
