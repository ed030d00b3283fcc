"""Python worker entry point of the engine's local Spark sessions.

``bigdataproject_spark.session.get_spark`` names this module in
``spark.python.worker.module``. PySpark's daemon imports it once, before
it forks any worker, and runs its ``main`` (``pyspark.worker.main``) in
each forked worker; ``python -m pyspark_graft_worker`` runs one worker
without the daemon. The daemon accepts only a module whose name starts
with ``pyspark``, hence the top-level name.

What it adds is a stat guard on zip-archive cache invalidation. PySpark
calls ``importlib.invalidate_caches()`` at the start of every Python
task (``worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` on the import path re-read its archive's whole
central directory, once per importer: ``pyspark.zip`` (about 1,300
entries) sits behind one importer per imported subpackage, so each task
paid about 0.24 CPU-s before its own work began, several times what a
vector-scan task body costs. The guard re-reads an archive only when
its ``(st_mtime_ns, st_size, st_ino)`` differs from the one recorded at
its last read; the other importers of that archive then share the
directory just read. An archive that cannot be stat-ed, and every
directory path entry, keeps the stock behaviour. Where the zipimport
internals it relies on are absent, nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stat key at its last read, the directory read then)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _supported() -> bool:
    """The eager layout the guard relies on: ``invalidate_caches``
    re-reads into ``self._files``. Later CPythons read the directory
    lazily (``_get_files``) and need no guard."""
    return (
        not hasattr(zipimport.zipimporter, "_get_files")
        and callable(getattr(zipimport.zipimporter, "invalidate_caches", None))
        and callable(getattr(zipimport, "_read_directory", None))
        and isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
    )


def install_zip_guard() -> bool:
    """Install the stat guard on ``zipimporter.invalidate_caches`` and
    record the current directory of every archive already on the import
    path, so workers forked afterwards start with it. Idempotent.
    Returns whether the guard is installed."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_guarded", False):
        return True
    if not _supported():
        return False
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            _read_at.pop(archive, None)
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = _read_at.get(archive)
        if seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[archive] = seen[1]
            return
        # stat before the read: a change that lands during the read
        # leaves an older key, so the next call reads again
        reread(self)
        _read_at[archive] = (key, self._files)

    invalidate_caches.stat_guarded = True
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and finder.archive not in _read_at:
            finder.invalidate_caches()
    return True


from pyspark.worker import main  # noqa: E402

# at import: the daemon's import of this module is the one hook it runs
# before forking, and the record covers pyspark.worker's subpackages
install_zip_guard()

if __name__ == "__main__":
    # a worker without the daemon: the start-up of ``python -m pyspark.worker``
    from pyspark.serializers import write_int
    from pyspark.util import local_connect_and_auth

    conn_info = os.environ.get(
        "PYTHON_WORKER_FACTORY_SOCK_PATH",
        int(os.environ.get("PYTHON_WORKER_FACTORY_PORT", -1)),
    )
    sock_file, _ = local_connect_and_auth(conn_info, os.environ.get("PYTHON_WORKER_FACTORY_SECRET"))
    write_int(os.getpid(), sock_file)
    sock_file.flush()
    try:
        main(sock_file, sock_file)
    finally:
        sock_file.close()
