"""Python worker daemon for local sessions: ``pyspark.daemon`` whose
zip importers re-read an archive only when it changed.

Before every task a reused worker calls ``importlib.invalidate_caches()``
(pyspark ``worker_util.setup_spark_files``). On Python 3.11 that makes
each of the ~16 ``zipimporter``s over ``pyspark.zip`` re-read the
archive's 1328-entry central directory: ~75 ms a task, most of a small
task's cost. Here an importer re-reads its archive only when the
archive's (inode, size, mtime) changed since the last read, so a
rewritten or replaced zip is still re-read, and a new path still gets a
fresh importer.

Spark starts it as ``python -m dnscrawler_spark.worker_daemon``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat before its last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        # another importer of this archive may have done the re-read
        self._files = files
        return
    # stat before the read: a change in between re-reads again next time
    _reread(self)
    if stamp is not None:
        _read_at[self.archive] = stamp


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # one read per archive here, so forked workers start with it stamped
    importlib.invalidate_caches()
    daemon.manager()
