"""Ship the engine package to Spark Python workers.

Python UDFs defined at module level are cloudpickled BY REFERENCE
(module + qualname), so the worker process must be able to import
``eventsgateway_spark``. A vanilla session whose driver added the repo
to ``sys.path`` at runtime does not give its workers that path, and
every pandas_udf/mapInPandas path then dies with ModuleNotFoundError
(observed on a sweep from a /tmp cwd, round 6).

``ship_package(spark)`` closes the gap the same way a real cluster
deployment does: zip the package once per session and
``sc.addPyFile`` it, which places it on every executor's PYTHONPATH
(current and future). It is idempotent and called lazily by every code
path that creates a by-reference Python UDF (multimodal decode, Arrow
kernels, UDTFs, the Bloom probe). The Avro codec is JVM code and needs
no shipping.

Only sessions the package did not build get the zip. A
``session.get_spark`` session on a local master names
``worker_daemon`` as its ``spark.python.daemon.module``; that daemon
must import the package from the ``PYTHONPATH`` ``get_spark`` exports
before any task runs, so its workers already import it and
``ship_package`` writes and adds nothing. The zip of a vanilla session
is written inside ``SparkFiles.getRootDirectory()``, which
``SparkContext.stop()`` removes.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark import SparkFiles
from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_eventsgateway_pkg_shipped"
# Serializes the first-ship: concurrent driver threads (the threading
# HTTP ingest server) would otherwise race the check-then-act flag and
# register the package twice.
_SHIP_LOCK = threading.Lock()
WORKER_DAEMON = "eventsgateway_spark.worker_daemon"


def ship_package(spark: SparkSession) -> None:
    """Make ``eventsgateway_spark`` importable on all Python workers of
    this session (idempotent per SparkContext, thread-safe)."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    with _SHIP_LOCK:
        if getattr(sc, _SHIPPED_ATTR, False):  # lost the race: done
            return
        if sc.getConf().get("spark.python.daemon.module") != WORKER_DAEMON:
            sc.addPyFile(_zip_package(SparkFiles.getRootDirectory()))
        setattr(sc, _SHIPPED_ATTR, True)


def _zip_package(root: str) -> str:
    """Zip the package's ``.py`` files into a fresh directory under
    ``root`` and return the archive's path. The fresh directory keeps
    the archive apart from the copy ``addPyFile`` fetches into
    ``root`` itself."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.mkdtemp(dir=root), "eventsgateway_spark_pkg.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fname in filenames:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fname)
                rel = os.path.join(
                    "eventsgateway_spark", os.path.relpath(full, pkg_root)
                )
                zf.write(full, rel)
    return zip_path
