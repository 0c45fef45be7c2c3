"""Ingest-path transforms (SURVEY §2.2 P1-P6, §2.4 A4).

The reference implements these as imperative Go on a per-event basis in
the gRPC server (server/sender/kafka.go); here each is a declarative
DataFrame→DataFrame function so Catalyst fuses them into the scan and
the whole validate→enrich→route path stays inside whole-stage codegen.

The reject rule is one SQL ``CASE`` expression, ``REJECT_REASON``, and
the enrich and route steps are SQL text too. A ``SendEvents`` request
builds its plan anew, and a Python ``Column`` tree costs the driver
about 14 py4j calls per ``F.col``, while a whole ``selectExpr`` of SQL
text costs about 6, because the JVM parses it. Only constants are
written into the text; request data enters as rows.

All functions accept either a batch or a streaming DataFrame with the
wire-event schema (schemas.WIRE_EVENT_SCHEMA).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default producer limit — reference server/app/app.go:94
#: ("kafka.producer.maxMessageBytes"); tests use 30,000
#: (server/config/test.yaml).
DEFAULT_MAX_MESSAGE_BYTES = 1_000_000

#: Kafka topic prefix — reference server/app/app.go:100 / README
#: ("sv-uploads-<topic>").
TOPIC_PREFIX = "sv-uploads-"


class ValidationSplit(NamedTuple):
    valid: DataFrame
    quarantine: DataFrame


#: P1 — the reason an event is rejected, NULL when it is valid. The
#: reference rejects events missing id/topic/name or with a zero
#: timestamp (server/sender/kafka.go:89-94); the first failed check
#: names the reason. A NULL prop VALUE is rejected too: the Avro map is
#: string→string (schemas.py mirrors the reference proto), so the
#: encoder cannot write one, and it must be a reject reason, not a
#: batch-killing executor error.
REJECT_REASON = (
    "CASE WHEN id IS NULL OR id = '' THEN 'missing_id'"
    " WHEN topic IS NULL OR topic = '' THEN 'missing_topic'"
    " WHEN name IS NULL OR name = '' THEN 'missing_name'"
    " WHEN `timestamp` IS NULL OR `timestamp` = 0 THEN 'missing_timestamp'"
    " WHEN exists(map_values(props), v -> v IS NULL) THEN 'null_prop_value'"
    " END"
)

#: P5 — ingest (processing) time in epoch millis, reference
#: server/sender/kafka.go:108. ``current_timestamp()`` is fixed per
#: query, so one evaluation stamps one value.
SERVER_TIMESTAMP = "unix_millis(current_timestamp())"

#: P6 — per-event physical topic: ``sv-uploads-`` + topic
#: (server/forwarder/kafka.go:65, server/app/app.go:100).
SINK_TOPIC = f"concat('{TOPIC_PREFIX}', topic)"

#: P2 — reject_reason of an event whose encoded payload is too large.
TOO_LARGE = "too_large"


def size_verdict(max_message_bytes: int) -> str:
    """P2 — SQL for the final reject reason of an encoded row: its
    ``reject_reason``, else ``too_large`` when the encoded ``value`` is
    ``max_message_bytes`` or longer (the reference checks len(Avro
    bytes) < max, server/sender/kafka.go:76-82)."""
    return (
        f"coalesce(reject_reason, CASE WHEN length(value) >= "
        f"{int(max_message_bytes)} THEN '{TOO_LARGE}' END)"
    )


def validate(df: DataFrame) -> ValidationSplit:
    """P1 + A4 — split into (valid, quarantine) by ``REJECT_REASON``.
    The reference returns failure indexes to the client
    (server/app/server.go:59-65); the engine's analog is a quarantine
    side-output the caller can sink, tagged with ``reject_reason``."""
    tagged = df.selectExpr("*", f"{REJECT_REASON} AS reject_reason")
    return ValidationSplit(
        valid=tagged.filter("reject_reason IS NULL").drop("reject_reason"),
        quarantine=tagged.filter("reject_reason IS NOT NULL"),
    )


def enrich(df: DataFrame) -> DataFrame:
    """P5 — stamp ``serverTimestamp`` (``SERVER_TIMESTAMP``) and map
    the wire ``timestamp`` to ``clientTimestamp`` (event time).

    Id stamping is split exactly like the reference: the *client* side
    (Gateway.send_at, mirroring client/client.go:232) assigns uuids, and
    the *server* side rejects id-less events by ``REJECT_REASON`` — so
    no uuid backfill happens here."""
    return df.withColumn(
        "serverTimestamp", F.expr(SERVER_TIMESTAMP)
    ).withColumnRenamed("timestamp", "clientTimestamp")


def route_topic(df: DataFrame) -> DataFrame:
    """P6 — ``sink_topic`` (``SINK_TOPIC``). Spark's Kafka sink honors
    a per-row ``topic`` column, so routing is a projection, not a
    fan-out loop."""
    return df.withColumn("sink_topic", F.expr(SINK_TOPIC))


def derive_date_partitions(df: DataFrame, ts_col: str = "clientTimestamp") -> DataFrame:
    """P4 — the notebook's year/month/day derivation from event-time
    epoch millis (.ipynb:103-106): partitioning is by *client* time, so
    late or clock-skewed events land in old partitions by design."""
    d = F.to_date(F.from_unixtime(F.col(ts_col) / 1000))
    return (
        df.withColumn("year", F.date_format(d, "yyyy"))
        .withColumn("month", F.date_format(d, "MM"))
        .withColumn("day", F.date_format(d, "dd"))
    )


def flatten_envelope(df: DataFrame, struct_col: str = "event") -> DataFrame:
    """P3 — `event.*` → top-level columns with lowercase names
    (.ipynb:97-107)."""
    flat = df.select(f"{struct_col}.*")
    return flat.select([F.col(c).alias(c.lower()) for c in flat.columns])
