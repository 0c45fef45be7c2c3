"""Streaming ETL: transport → Avro decode → flatten → partitioned table.

The engine's version of the reference notebook
(spark-notebook/eventsgateway-streaming.ipynb:76-135): readStream from
the bus, ``from_avro`` the value bytes, flatten the envelope, derive
year/month/day from client event time, checkpointed append to the
partitioned table. End-to-end delivery is at-least-once from the
producer (duplicates possible — README.md:11-17) and exactly-once from
bus to table (checkpoint + transactional file commit), so semantic
dedup stays a downstream operator (streaming/dedup.py).

Per-micro-batch shape: the session's byte-derived scan splits
(session.py) pack a batch's bus files into ceil(bytes / 128 MiB)
tasks — one for a batch of RPC-sized files, whatever the core count.
Each task runs the Avro decode once, as a JVM expression (no Python
worker), and writes one file per year/month/day directory its events
touch, so a small batch adds one file per day directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from eventsgateway_spark.operators.transforms import flatten_envelope
from eventsgateway_spark.sources.avro_codec import from_avro_col
from eventsgateway_spark.sources.lakehouse import write_events_stream


def decode_events(spark: SparkSession, payloads: DataFrame) -> DataFrame:
    """(topic, key, value) → flattened storage-schema events."""
    decoded = payloads.select(from_avro_col(spark, "value").alias("event"))
    return flatten_envelope(decoded)


def run_etl(
    spark: SparkSession,
    payloads: DataFrame,
    table_path: str,
    checkpoint: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Wire the decode stage into the partitioned sink. With
    ``trigger_once`` (availableNow) the stream drains everything and
    stops — the batch-like mode tests use; continuous deployments drop
    the flag and set a processing-time trigger."""
    events = decode_events(spark, payloads)
    return write_events_stream(events, table_path, checkpoint, trigger_once=trigger_once)


def run_etl_with_metrics(
    spark: SparkSession,
    payloads: DataFrame,
    table_path: str,
    metrics_path: str,
    checkpoint: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """A4 — side-output fan-out: the SAME decoded micro-batch feeds the
    events table AND a metrics sink (per-batch counts by event name),
    mirroring the reference's interceptor pattern where every request
    both lands in Kafka and increments Prometheus counters
    (server/app/app.go:177-224). ``foreachBatch`` is AT-LEAST-ONCE, so
    both sinks write their batch as a ``batch_id`` partition with
    dynamic overwrite (the ``_idempotent_append`` pattern of
    streaming/near_dup.py): a checkpoint replay REWRITES the same
    partitions instead of appending duplicate rows — plain
    ``mode("append")`` here would double the replayed batch in both
    outputs. The events side keeps the y/m/d columns as sub-partitions
    under batch_id."""
    from pyspark.sql import functions as F

    from eventsgateway_spark.operators.transforms import derive_date_partitions
    from eventsgateway_spark.sources.lakehouse import PARTITION_COLS

    events = decode_events(spark, payloads)

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                derive_date_partitions(batch_df)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id", *PARTITION_COLS)
                .parquet(table_path)
            )
            (
                batch_df.groupBy("name")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(metrics_path)
            )
        finally:
            batch_df.unpersist()

    writer = events.writeStream.foreachBatch(fan_out).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
