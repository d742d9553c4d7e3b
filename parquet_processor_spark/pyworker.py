"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded zip
importer cache.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory — about 40 importers over ``pyspark.zip`` (1,328
entries) — before the user function runs. On a 4-core host (CPython
3.11.7) a trivial task's first line ran ~170 ms after submit with the
stock daemon and ~45 ms with this one (``tools/python_task_overhead.py``).
Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
differs from its last read, so a changed or new archive (a ``--py-files``
upload) is still picked up.

``session.get_spark`` points ``spark.python.daemon.module`` here. Nothing
happens at import time; the patch is installed under the ``__main__``
guard, in the daemon process, before it forks its workers.
"""

from __future__ import annotations

import os
import zipimport


def install_zip_cache_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-guarded
    form. Importers of one archive share a read: the directory is parsed
    once per ``(archive, stamp)`` and handed to every importer of it."""
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    reads: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib_invalidate(self)  # gone: the stdlib empties the cache
        stamp = (st.st_mtime_ns, st.st_size)
        seen = reads.get(self.archive)
        if seen is None or seen[0] != stamp:
            stdlib_invalidate(self)
            reads[self.archive] = stamp, self._files
        else:
            self._files = seen[1]

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install_zip_cache_guard()
    # one read per archive before forking: workers inherit it instead
    # of each re-reading on its first task
    importlib.invalidate_caches()
    daemon.manager()
