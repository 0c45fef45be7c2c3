"""SparkSession factory.

Centralizes the confs that matter for both correctness (UTC session
timezone; ANSI stays at the Spark 4 default of ON — casts and
divisions in engine code are written ANSI-safe, e.g. the
greatest()-guarded integer divisions in ext_sampling) and scale (AQE,
shuffle partitions, Arrow).

Local-mode notes: tests run on ``local[N]`` (single JVM). On a real
cluster the same confs apply; the local-specific knobs are
``spark.driver.memory`` and the Python worker daemon (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from eventsgateway_spark.shipping import WORKER_DAEMON

# Tuned for the driver's bench box (local[32], 128 GiB). On a cluster,
# spark.sql.shuffle.partitions should scale with executor cores (AQE
# coalesces the excess), so a high-but-not-huge default is safe.
_DEFAULT_CONFS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Columnar snappy parquet at rest mirrors the reference's snappy-on-Kafka
    # + ORC/Delta-at-rest posture (server/forwarder/kafka.go:42, Makefile:23).
    "spark.sql.parquet.compression.codec": "snappy",
    # File-scan splits follow bytes only. Spark sizes a split as
    #   min(maxPartitionBytes, max(openCostInBytes, totalBytes / minPartitionNum))
    # where totalBytes charges every file its length plus the 4 MiB
    # open cost, and minPartitionNum defaults to the core count. With
    # that default a scan of k small files (a bus micro-batch is k
    # ~40 KB RPC files) becomes min(k, cores) tasks, each paying a
    # Python-worker decode and a parquet writer per day directory it
    # touches — a fixed per-task cost that grows with the cluster.
    # minPartitionNum = 1 packs such a scan into ceil(totalBytes / 128 MiB)
    # splits (one at micro-batch size); the 128 MiB cap still splits a
    # large input to full width, so the rule is a floor, never a cap.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.minPartitionNum": "1",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def get_spark(app_name: str = "eventsgateway_spark", **extra_confs: str) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.driver.memory`` only takes effect on a fresh JVM; callers that
    need a specific memory size must call this before any other session
    exists.

    On a local master the session's Python workers run under
    ``eventsgateway_spark.worker_daemon``, which re-reads a zip's
    directory only when the archive changed. That holds only for a local
    master, whose workers inherit the ``PYTHONPATH`` set here and so
    import the package without a shipped zip; a cluster master keeps
    pyspark's own daemon.
    """
    # Python workers inherit PYTHONPATH from their parent process env,
    # not the driver's sys.path — without this, any pickled function
    # referencing the package (multimodal decode, UDTFs) fails
    # with ModuleNotFoundError when the caller runs outside the repo
    # root. Local mode: the driver env var reaches the workers (must be
    # set before the first JVM starts), and it is how they import the
    # package: shipping.ship_package adds no zip to a session whose
    # daemon is worker_daemon. Cluster mode: executors spawn from the
    # executor JVM's env, so spark.executorEnv.PYTHONPATH is set too,
    # and ship_package still adds the zip there — on a real deployment
    # prefer installing the package (pip install / --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    extra_confs.setdefault(
        "spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", pkg_root)
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]"
    )
    if master == "local" or master.startswith("local["):
        # The stat-checked worker daemon (worker_daemon.py) saves each
        # Python task about 200 ms of zip directory re-reads. The daemon
        # starts before any task and must import the package on its
        # own; only a local master's workers inherit the PYTHONPATH
        # exported above, so a cluster master keeps pyspark's own daemon.
        extra_confs.setdefault("spark.python.daemon.module", WORKER_DAEMON)
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**_DEFAULT_CONFS, **extra_confs}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
