"""pyspark's Python worker daemon, with zip directories re-read only when
their archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory: 16 importers over ``pyspark.zip``, the py4j zip and
the spark-core jar, 130-230 ms of CPU per task on a 4-core host,
whatever the task's row count. Here an importer re-reads only when its
archive's ``(st_mtime_ns, st_size)`` differs from its last read or
cannot be taken, so an archive rewritten on disk is still picked up. ``session.get_spark`` names this module as
``spark.python.daemon.module``; the workers the daemon forks inherit the
patch and the stamps it recorded.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read this importer's archive directory if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    # 3.13's zipimporter.invalidate_caches only drops the cached directory
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install from the module under its package name, so a worker finds
    # the patch as eventsgateway_spark.worker_daemon.invalidate_caches
    from eventsgateway_spark import worker_daemon
    from pyspark import daemon

    worker_daemon.install()
    importlib.invalidate_caches()  # stamp the daemon's importers once
    daemon.manager()
