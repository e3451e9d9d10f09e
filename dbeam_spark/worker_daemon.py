"""PySpark's worker daemon, minus the per-task re-read of zip archives.

Before every task a reused Python worker calls
``importlib.invalidate_caches()``. On CPython versions whose
``zipimporter.invalidate_caches`` re-reads the whole archive directory
eagerly, that re-reads ``pyspark.zip`` and the spark-core jar once per
importer over them: 0.2-0.4 s per task. Here an archive is re-read only
when its ``(st_ino, st_size, st_mtime_ns)`` changed since the last read;
forked workers inherit the patch. Enabled by ``session.get_spark`` for
``local[...]`` masters via ``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat key


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        if _read_at.get(self.archive) == key:
            self._files = zipimport._zip_directory_cache[self.archive]
            return
    except (OSError, AttributeError, KeyError):  # archive or internals gone
        return _eager_invalidate(self)
    _eager_invalidate(self)
    _read_at[self.archive] = key


def install() -> None:
    """Patch where ``invalidate_caches`` re-reads eagerly (lazy versions
    have ``_get_files``), then read each archive once, so forked workers
    start with fresh directories and known stat keys."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # patch from the importable module, so workers (and tests) find the
    # patch and its stat keys under dbeam_spark.worker_daemon
    from dbeam_spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
