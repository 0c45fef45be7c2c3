"""Ingest-path transforms (SURVEY §2.2 P1-P6, §2.4 A4).

The reference implements these as imperative Go on a per-event basis in
the gRPC server (server/sender/kafka.go); here each is a declarative
DataFrame→DataFrame function so Catalyst fuses them into the scan and
the whole validate→enrich→route path stays inside whole-stage codegen.

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


def _null_prop_value() -> F.Column:
    """True when props carries a NULL value. The Avro map is
    string→string (schemas.py mirrors the reference proto): a null
    value crashes BOTH encoders at execution time, so it must be a
    quarantine reason, not a batch-killing executor error."""
    return F.col("props").isNotNull() & F.exists(
        F.map_values("props"), lambda v: v.isNull()
    )


def validity_condition() -> F.Column:
    """P1 — the reference rejects events missing id/topic/name or with
    a zero timestamp (server/sender/kafka.go:89-94); null prop VALUES
    are additionally rejected because the wire map type cannot encode
    them (see _null_prop_value)."""
    return (
        F.col("id").isNotNull()
        & (F.col("id") != "")
        & F.col("topic").isNotNull()
        & (F.col("topic") != "")
        & F.col("name").isNotNull()
        & (F.col("name") != "")
        & F.col("timestamp").isNotNull()
        & (F.col("timestamp") != 0)
        & ~_null_prop_value()
    )


def validate(df: DataFrame) -> ValidationSplit:
    """P1 + A4 — split into (valid, quarantine). The reference returns
    failure indexes to the client (server/app/server.go:59-65); the
    engine's analog is a quarantine side-output the caller can sink,
    tagged with the rejection reason."""
    cond = validity_condition()
    reason = (
        F.when(F.col("id").isNull() | (F.col("id") == ""), "missing_id")
        .when(F.col("topic").isNull() | (F.col("topic") == ""), "missing_topic")
        .when(F.col("name").isNull() | (F.col("name") == ""), "missing_name")
        .when(
            F.col("timestamp").isNull() | (F.col("timestamp") == 0),
            "missing_timestamp",
        )
        .otherwise("null_prop_value")
    )
    return ValidationSplit(
        valid=df.filter(cond),
        quarantine=df.filter(~cond).withColumn("reject_reason", reason),
    )


def enrich(df: DataFrame) -> DataFrame:
    """P5 — stamp ``serverTimestamp = now()`` in epoch millis (ingest /
    processing time; reference server/sender/kafka.go:108) and map the
    wire ``timestamp`` to ``clientTimestamp`` (event time).

    Id stamping is split exactly like the reference: the *client* side
    (Gateway.send_at, mirroring client/client.go:232) assigns uuids, and
    the *server* side rejects id-less events in validate() — so no uuid
    backfill happens here."""
    return df.withColumn(
        "serverTimestamp", F.unix_millis(F.current_timestamp())
    ).withColumnRenamed("timestamp", "clientTimestamp")


def route_topic(df: DataFrame) -> DataFrame:
    """P6 — per-event physical topic: ``sv-uploads-`` + topic
    (server/forwarder/kafka.go:65, server/app/app.go:100). Spark's Kafka
    sink honors a per-row ``topic`` column, so routing is a projection,
    not a fan-out loop."""
    return df.withColumn("sink_topic", F.concat(F.lit(TOPIC_PREFIX), F.col("topic")))


def to_storage(df: DataFrame) -> DataFrame:
    """Proto→Avro projection: keep the five stored fields, drop the
    routing topic (server/sender/kafka.go:102-117 — `Topic` exists only
    on the wire)."""
    return df.select("id", "name", "props", "serverTimestamp", "clientTimestamp")


#: reject_reason of a payload that fails size_condition().
TOO_LARGE = "too_large"


def size_condition(payload_col: str, max_bytes: int = DEFAULT_MAX_MESSAGE_BYTES) -> F.Column:
    """P2 — true when the encoded payload fits: strictly shorter than
    max_bytes (server/sender/kafka.go:76-82). Applied after encoding,
    on the binary column, like the reference checks len(Avro bytes)."""
    return F.length(F.col(payload_col)) < F.lit(max_bytes)


def size_limit(df: DataFrame, payload_col: str, max_bytes: int = DEFAULT_MAX_MESSAGE_BYTES) -> ValidationSplit:
    """P2 — split off events whose encoded payload fails
    size_condition() as ``too_large``."""
    cond = size_condition(payload_col, max_bytes)
    return ValidationSplit(
        valid=df.filter(cond),
        quarantine=df.filter(~cond).withColumn("reject_reason", F.lit(TOO_LARGE)),
    )


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
