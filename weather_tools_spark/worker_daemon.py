"""PySpark worker daemon whose forked workers re-read a zip archive only
when it changed.

Every task in a reused Python worker ends its set-up in
``importlib.invalidate_caches()`` (``pyspark/worker_util.setup_spark_files``).
On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory: one
importer per package path inside ``pyspark.zip``, the py4j zip and the
spark-core jar. That took ~0.25 s per task on a 4-core host, where the
task's own function took under a millisecond.

Importing this module replaces ``zipimport.zipimporter.invalidate_caches``
with :func:`invalidate_caches`, which re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the value recorded at its last
read, or when the archive is missing from the shared directory cache.
A zip added with ``addPyFile`` gets a fresh importer, which reads its
directory on construction, so new archives import as before.

Run as ``python -m weather_tools_spark.worker_daemon`` (selected by
``session.get_spark`` through ``spark.python.daemon.module``), it
installs the method and then runs ``pyspark.daemon.manager()``; the
workers it forks inherit the method from their first task on.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _read_stamps.get(self.archive) != stamp:
        _stock_invalidate_caches(self)
        _read_stamps[self.archive] = stamp
    else:
        self._files = files


if __name__ == "__main__":
    # ``-m`` runs this file as __main__: import it under its package name
    # so the installed method is the package's, then serve workers
    import weather_tools_spark.worker_daemon  # noqa: F401
    from pyspark import daemon

    daemon.manager()
else:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
