"""Partitioned columnar events table (SURVEY §2.1 S6/S7).

The reference lands events in a Delta/ORC table partitioned by derived
year/month/day strings (.ipynb:119-135, Makefile:23-24). This container
has no Delta jars, so the engine writes snappy parquet with the same
layout; on a Delta-enabled cluster, pass ``fmt="delta"``.

Scale notes (100 TB): partitioning by event-time date keeps partition
pruning effective for the dominant time-ranged queries. Within a
partition, file size follows the scan split: the session packs an
input into ~128 MiB (``spark.sql.files.maxPartitionBytes``) splits
regardless of core count (session.py), and each split's task writes
one file per day directory it touches — so a streaming micro-batch
of small bus files lands one file per day directory per ~128 MiB
split, and ``compact_partition`` merges a day's accumulated
micro-batch files into ~128 MiB files. A second-level clustering key
(e.g. name) would be a Z-order candidate on Delta; with plain parquet
we sort within partitions instead (``sort_within``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from eventsgateway_spark.operators.transforms import derive_date_partitions

PARTITION_COLS = ["year", "month", "day"]


def write_events_batch(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    sort_within: str | None = "name",
) -> None:
    """Append storage-schema events into the partitioned table."""
    out = derive_date_partitions(df)
    if sort_within:
        out = out.sortWithinPartitions(*PARTITION_COLS, sort_within)
    out.write.format(fmt).mode(mode).partitionBy(*PARTITION_COLS).save(path)


def write_events_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    trigger_once: bool = False,
) -> StreamingQuery:
    """Streaming append with checkpointed exactly-once file commits —
    the engine's version of the notebook's
    writeStream.outputMode('append').toTable(...) (.ipynb:131-135)."""
    writer = (
        derive_date_partitions(df)
        .writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .partitionBy(*PARTITION_COLS)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start(path)


def delta_available(spark: SparkSession) -> bool:
    """True when Delta Lake jars are on the session's classpath.

    Gates the ``fmt="delta"`` branch (the reference's landing format,
    .ipynb:119-135) the same way the Kafka probe gates broker tests:
    the code path is identical for any DataSource V2 format string, so
    on a Delta-enabled cluster the writers/readers work unchanged."""
    try:
        # Class.forName, not attribute access: py4j resolves a missing
        # class path to a silent JavaPackage instead of raising.
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.delta.sources.DeltaDataSource"
        )
        return True
    except Exception:
        return False


def read_events_table(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read the events table with the reference's schema: year/month/day
    are *strings* (.ipynb:97-107). Partition-column type inference would
    silently turn the zero-padded directory values ("01") into ints, so
    the read supplies an explicit schema instead: an analysis-only pass
    resolves the data columns from the file footers, the partition
    columns are re-declared as strings, and the real read casts each
    directory value to the declared type — "01" stays "01". No session
    conf is touched (a session-global toggle leaks string partition
    types into every OTHER table read on the same session, and a
    set-and-restore races concurrent readers).

    ``fmt`` mirrors the writers: parquet (default), orc (the
    reference's at-rest deployment — ORC on S3, Makefile:23-24,
    hive/hive-site.xml), or delta on an enabled cluster. Both parquet
    and ORC scans are vectorized with predicate pushdown + partition
    pruning; the layout contract is identical. The extra analysis pass
    costs one file listing + footer read (driver metadata only, no data
    scan) — a per-table-open cost, not per-query."""
    from pyspark.sql import types as T

    if fmt == "delta":
        # Delta resolves schema + partition types from its transaction
        # log (no directory inference), and rejects user-specified
        # read schemas — load directly.
        return spark.read.format(fmt).load(path)
    inferred = spark.read.format(fmt).load(path).schema
    declared = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if f.name in PARTITION_COLS else f.dataType,
                f.nullable,
            )
            for f in inferred
        ]
    )
    return spark.read.format(fmt).schema(declared).load(path)


def compact_partition(
    spark: SparkSession,
    path: str,
    year: str,
    month: str,
    day: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_within: str | None = "name",
    fmt: str = "parquet",
) -> int:
    """Rewrite ONE date partition into ~``target_bytes`` files — the
    plain-parquet analog of Delta OPTIMIZE for the streaming sink's
    small-file problem (each micro-batch commit lands one file per
    day directory per ~128 MiB scan split; a day of 1-minute triggers
    is still ~1440+ small files, which degrades scan planning and
    shuffle-free reads at scale).

    Reads just the target partition (directory-pruned), coalesces to
    ``ceil(bytes/target)`` files, re-sorts the cluster column, and
    atomically replaces only that partition via dynamic overwrite.
    Returns the resulting file count. Run it on closed (past-watermark)
    partitions only — the streaming writer must not be appending to the
    partition being rewritten. (Sizing walks the local filesystem; on an
    object store, size the partition from the table's file index
    instead.)"""
    import math
    import os

    # Delta stores .parquet data files (plus _delta_log); sizing by a
    # literal '.delta' extension would find nothing and silently
    # coalesce everything into one file / return 0
    ext = ".parquet" if fmt in ("parquet", "delta") else f".{fmt}"
    # A table written by the STREAMING sink is read through its
    # _spark_metadata transaction log; rewriting files underneath the
    # log would leave batch readers referencing deleted files. The
    # streaming-sink small-file problem is real, but compacting such a
    # table requires retiring the log first (stop the stream; a
    # restart then needs a fresh checkpoint + sink path) — refuse
    # rather than corrupt.
    if os.path.isdir(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{path} was written by the streaming file sink "
            "(_spark_metadata present): compacting underneath the sink "
            "log breaks batch reads of this table. Stop the stream and "
            "delete _spark_metadata (converting it to a plain table) "
            "before compacting; restarting the stream afterwards "
            "requires a fresh checkpoint and sink path."
        )
    part_dir = os.path.join(path, f"year={year}", f"month={month}", f"day={day}")
    if not os.path.isdir(part_dir):
        raise ValueError(f"partition not found: {part_dir}")
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(part_dir)
        for f in files
        if f.endswith(ext)
    )
    n_files = max(1, math.ceil(size / target_bytes))
    # Read the ONE partition directory without basePath: only that dir
    # is listed (reading the table root would list every partition's
    # files — the exact small-file cost this function exists to remove)
    # and no partition columns are inferred at all, so no session conf
    # is touched (toggling partitionColumnTypeInference here would race
    # concurrent readers on the same session). The partition values are
    # re-attached as string literals, exactly as the directory names
    # spell them.
    rows = (
        spark.read.format(fmt).load(part_dir)
        .withColumn("year", F.lit(year))
        .withColumn("month", F.lit(month))
        .withColumn("day", F.lit(day))
    )
    # many-files→few merges shuffle-free via coalesce; only when asked
    # to SPLIT into more files than the scan produced is a shuffle
    # unavoidable
    n_scan = rows.rdd.getNumPartitions()
    out = rows.coalesce(n_files) if n_scan >= n_files else rows.repartition(n_files)
    if sort_within:
        out = out.sortWithinPartitions(sort_within)
    # lineage reads the path being replaced — materialize first
    out = out.localCheckpoint()
    (
        out.write.mode("overwrite")
        # per-write option — session-conf mutation would race
        # concurrent writers (see streaming/upsert.py)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .format(fmt)
        .save(path)
    )
    return len([f for f in os.listdir(part_dir) if f.endswith(ext)])
