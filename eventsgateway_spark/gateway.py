"""Gateway — the ingestion API (reference client/server surface).

Mirrors the reference client semantics (client/client.go):
- ``send(name, props)`` stamps uuid + epoch-ms event time
  (client/client.go:231-240),
- ``send_to_topic`` overrides the routing topic
  (client/client.go:183-200, ``SendToTopic``),
- ``send_at`` pins event time for deterministic tests
  (client/client.go:203-220, ``SendAtTime``),
- buffered events flush as one micro-batch (the async client's
  linger/size batcher, client/async.go:195-230 — here a flush produces
  a DataFrame; continuous operation uses streaming/pipeline.py where
  Structured Streaming's trigger IS the micro-batcher).

The server-side pipeline (validate → enrich → encode → route → sink,
server/sender/kafka.go:44-120) is the ``ingest`` function: one
declarative plan instead of goroutine fan-out. It builds one outcome
frame, every event with its reject reason (NULL when accepted) and its
encoded bytes; the batch side-outputs and the served ``SendEvents``
verdict (ingest_http.ingest_events) are both read from it.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from eventsgateway_spark.operators import transforms
from eventsgateway_spark.schemas import WIRE_EVENT_SCHEMA
from eventsgateway_spark.sources.avro_codec import to_avro_col


class IngestResult(NamedTuple):
    """The two stages of one ingest plan. ``checked`` is the wire rows
    plus ``reject_reason`` (``transforms.REJECT_REASON``),
    ``sink_topic``, ``serverTimestamp`` and ``clientTimestamp``,
    before the encode. ``outcome`` adds the Avro ``value``, encoded
    only for valid rows, and turns ``reject_reason`` into the final
    verdict (``transforms.size_verdict``): NULL means accepted."""

    checked: DataFrame
    outcome: DataFrame

    @property
    def payloads(self) -> DataFrame:
        """Accepted events, Kafka-shaped: topic, key (null), value.
        The reference produces keyless (server/forwarder/kafka.go:
        66-69): ordering is not guaranteed and duplicates are possible,
        hence the downstream dedup of Q15."""
        return self.outcome.filter("reject_reason IS NULL").selectExpr(
            "sink_topic AS topic", "CAST(NULL AS BINARY) AS key", "value"
        )

    @property
    def quarantine(self) -> DataFrame:
        """Invalid events with their reject_reason, read before the
        encode: reading them runs no encode."""
        return self.checked.filter("reject_reason IS NOT NULL")

    @property
    def oversized(self) -> DataFrame:
        """Valid events whose encoded payload is too large."""
        return self.outcome.filter(f"reject_reason = '{transforms.TOO_LARGE}'")

    def report(self) -> dict[str, int]:
        """Per-batch ingest outcome: accepted count plus rejected
        counts keyed by reject_reason — the engine's analog of the
        reference's per-row failure indexes in the batch response
        (server/app/server.go:59-65). One aggregation over the outcome;
        call for observability, not in the hot path."""
        counts = (
            self.outcome.selectExpr("coalesce(reject_reason, 'accepted') AS outcome")
            .groupBy("outcome")
            .count()
            .collect()
        )
        return {"accepted": 0, **{row[0]: int(row[1]) for row in counts}}


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """Driver-side row tuples (in ``schema``'s field order) as a JVM
    frame, shipped through Arrow: the frame is a local relation, so
    no action on it runs a Python worker task. (``createDataFrame`` of
    a list parallelizes pickled rows instead, and every action re-runs
    their ``toInternal`` map in a Python task per partition.) A null
    in a non-nullable field raises here, before any action."""
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else ([] for _ in schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


@dataclass
class Gateway:
    """Thin producer façade: buffer rows, flush to a wire-schema
    DataFrame, push through the ingest pipeline."""

    spark: SparkSession
    default_topic: str = "default-topic"
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES
    _buffer: list[tuple] = field(default_factory=list)

    def send(self, name: str, props: dict[str, str] | None = None) -> str:
        return self.send_at(name, int(time.time() * 1000), props)

    def send_to_topic(
        self, name: str, topic: str, props: dict[str, str] | None = None
    ) -> str:
        return self.send_at(name, int(time.time() * 1000), props, topic=topic)

    def send_at(
        self,
        name: str,
        at_ms: int,
        props: dict[str, str] | None = None,
        topic: str | None = None,
    ) -> str:
        event_id = str(uuid.uuid4())
        self._buffer.append(
            (event_id, name, topic or self.default_topic, props or {}, at_ms)
        )
        return event_id

    #: Hard ceiling on a single flush. The buffer is a PRODUCER-LIBRARY
    #: analog (the reference client is also a driver-side buffer,
    #: client/client.go): local_frame ships every row through the
    #: driver, which is per-RPC granularity, not a data path. Bulk
    #: backfill belongs on the file/Kafka source path
    #: (sources/kafka.py / sources/lakehouse.py), where executors read
    #: in parallel and the driver never holds the rows.
    MAX_FLUSH_ROWS = 100_000

    def flush(self) -> DataFrame:
        """Drain the buffer into one wire-schema DataFrame (one
        micro-batch). Raises when the buffer exceeds MAX_FLUSH_ROWS —
        see the attribute note: that volume means someone is using the
        producer API as a backfill path."""
        if len(self._buffer) > self.MAX_FLUSH_ROWS:
            raise ValueError(
                f"flush() of {len(self._buffer)} buffered events exceeds "
                f"MAX_FLUSH_ROWS={self.MAX_FLUSH_ROWS}: the Gateway buffer is "
                "a per-micro-batch producer API (driver-side rows); bulk "
                "backfill should go through a file/Kafka source so executors "
                "read it in parallel"
            )
        # build the frame BEFORE clearing: a schema-verification error
        # in local_frame must leave the buffer intact (clearing first
        # would destroy every buffered event, valid ones included)
        df = local_frame(self.spark, self._buffer, WIRE_EVENT_SCHEMA)
        self._buffer = []
        return df

    def ingest(self, wire_df: DataFrame | None = None) -> IngestResult:
        return ingest(self.spark, wire_df if wire_df is not None else self.flush(),
                      max_message_bytes=self.max_message_bytes)

    def drain(self):
        """Flush+ingest the buffer as a SEQUENCE of ≤MAX_FLUSH_ROWS
        micro-batches (generator of IngestResults) — the recovery path
        when a producer loop legitimately outran the single-flush
        ceiling (e.g. a long load test): each wave is a bounded
        local_frame, so the driver never ships the whole backlog
        as one row set. The buffer shrinks as waves are consumed; an
        abandoned generator leaves the remainder buffered."""
        while self._buffer:
            rows = self._buffer[: self.MAX_FLUSH_ROWS]
            # same clear-after-success ordering as flush(): only drop
            # the wave from the buffer once its frame verified
            res = ingest(
                self.spark,
                local_frame(self.spark, rows, WIRE_EVENT_SCHEMA),
                max_message_bytes=self.max_message_bytes,
            )
            self._buffer = self._buffer[len(rows):]
            yield res


def ingest(
    spark: SparkSession,
    wire_df: DataFrame,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
) -> IngestResult:
    """The server pipeline as one logical plan: validate (P1), enrich
    (P5) and route (P6) in one projection, then the Avro encode (S5)
    guarded by the reject reason, so invalid rows are never encoded,
    then the size verdict (P2). Only ``max_message_bytes`` varies per
    call.

    Works identically on batch and streaming DataFrames.
    """
    checked = wire_df.selectExpr(
        "*",
        f"{transforms.REJECT_REASON} AS reject_reason",
        f"{transforms.SINK_TOPIC} AS sink_topic",
        f"{transforms.SERVER_TIMESTAMP} AS serverTimestamp",
        "`timestamp` AS clientTimestamp",
    )
    # The encode is nondeterministic to the optimizer, so the size
    # verdict stays a separate projection over the encoded value and
    # the encode runs once.
    outcome = checked.withColumn(
        "value", F.when(F.col("reject_reason").isNull(), to_avro_col(spark))
    ).withColumn("reject_reason", F.expr(transforms.size_verdict(max_message_bytes)))
    return IngestResult(checked=checked, outcome=outcome)
