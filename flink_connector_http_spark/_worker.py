"""Spark Python worker start-up: skip re-reading unchanged import archives.

Before every task a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 every
``zipimporter`` on the path (one per imported package inside ``pyspark.zip``,
the py4j zip and the Spark jar) then re-reads its whole archive directory:
about 0.3 s a task, for archives that do not change. After :func:`install`,
an importer re-reads only when its archive's ``(st_ino, st_size,
st_mtime_ns)`` differs from the archive's last read; otherwise it takes the
directory of that read. The driver never has ``SPARK_REUSE_WORKER``.
"""

import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install():
    """Guard ``zipimporter.invalidate_caches`` in a reused Spark worker (idempotent)."""
    cls = zipimport.zipimporter
    # A zipimport that re-reads lazily (``_get_files``, later CPython) has nothing to save.
    if (not os.environ.get("SPARK_REUSE_WORKER") or hasattr(cls, "_get_files")
            or hasattr(cls.invalidate_caches, "reread")):
        return
    reread = cls.invalidate_caches
    # archive path -> stat stamp at its last directory read; the directories
    # cached now were read by this task's invalidate.
    read_at = {archive: _stamp(archive) for archive in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == read_at.get(self.archive) and files is not None:
            self._files = files  # the archive's last read is still current
        else:
            reread(self)
            read_at[self.archive] = stamp

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches
