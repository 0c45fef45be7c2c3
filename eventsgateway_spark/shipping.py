"""Ship the engine package to Spark Python workers.

Python UDFs defined at module level are cloudpickled BY REFERENCE
(module + qualname), so the worker process must be able to import
``eventsgateway_spark``. That holds automatically when the session is
launched from the repo (cwd on sys.path propagates) but NOT for a
vanilla session whose driver added the repo to ``sys.path`` at runtime
— the workers never see it and every pandas_udf/mapInPandas path dies
with ModuleNotFoundError (observed on the Arrow-scorer sweep from a
/tmp cwd, round 6).

``ship_package(spark)`` closes the gap the same way a real cluster
deployment does: zip the package once per session and
``sc.addPyFile`` it, which places it on every executor's PYTHONPATH
(current and future). Idempotent and cheap (~100 KB); called lazily by
every code path that creates a by-reference Python UDF (multimodal
decode, Arrow scorers, UDTFs). The Avro codec is JVM code and needs no
shipping.

In a ``session.get_spark`` session the workers need no zip: their
daemon (``worker_daemon``) already imports the package from the
``PYTHONPATH`` that ``get_spark`` exports. The zip serves sessions the
package did not build, such as a vanilla ``SparkSession.builder`` one.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_eventsgateway_pkg_shipped"
# Serializes the first-ship: concurrent driver threads (the threading
# HTTP ingest server) would otherwise race the check-then-act flag and
# interleave writes into the SAME zip path, registering a corrupt
# archive with addPyFile.
_SHIP_LOCK = threading.Lock()


def ship_package(spark: SparkSession) -> None:
    """Make ``eventsgateway_spark`` importable on all Python workers of
    this session (idempotent per SparkContext, thread-safe)."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    with _SHIP_LOCK:
        if getattr(sc, _SHIPPED_ATTR, False):  # lost the race: done
            return
        pkg_root = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), f"eventsgateway_spark_pkg_{os.getpid()}.zip"
        )
        # staging + atomic rename: addPyFile must never see a half-
        # written archive, even if a future caller bypasses the lock
        staging = zip_path + ".staging"
        with zipfile.ZipFile(staging, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fname in filenames:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fname)
                    rel = os.path.join(
                        "eventsgateway_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
        os.replace(staging, zip_path)
        sc.addPyFile(zip_path)
        setattr(sc, _SHIPPED_ATTR, True)
