"""Declared schemas — fixed, never inferred.

The reference declares its event model via protobuf + a compiled Avro
schema (SURVEY §1). We mirror that posture: every table the engine
touches has a StructType constant here.

Event envelope evidence:
- wire fields (proto): id, name, topic, props, timestamp(ms) —
  reference client/client.go:233-239.
- storage fields (Avro): id, name, props, serverTimestamp,
  clientTimestamp — reference spark-notebook/eventsgateway-streaming.ipynb:36-70.
- post-ETL table adds year/month/day string partition columns derived
  from clientTimestamp — .ipynb:97-107.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Event model (reference-exact)
# ---------------------------------------------------------------------------

#: Wire envelope — what a producer hands to Gateway.send().
#: `topic` exists only in motion (routing key); it is consumed by the
#: sink and dropped from the stored record (server/sender/kafka.go:102-117).
WIRE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("timestamp", T.LongType(), False),  # epoch millis, event time
    ]
)

#: Storage record (Avro schema com.tfgco.eventsgateway.Event equivalent).
AVRO_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("serverTimestamp", T.LongType(), False),
        T.StructField("clientTimestamp", T.LongType(), False),
    ]
)

#: The Avro schema JSON itself (verbatim semantics of .ipynb:36-70):
#: the wire contract that the JVM codec (eventsgateway_spark/jvm/) and
#: the Python reference codec in sources/avro_codec.py implement for
#: this one schema, field by field.
AVRO_EVENT_SCHEMA_JSON = """
{
  "namespace": "com.tfgco.eventsgateway",
  "type": "record",
  "name": "Event",
  "fields": [
    {"name": "id", "type": "string"},
    {"name": "name", "type": "string"},
    {"name": "props", "default": {}, "type": {"type": "map", "values": "string"}},
    {"name": "serverTimestamp", "type": "long"},
    {"name": "clientTimestamp", "type": "long"}
  ]
}
"""

#: Post-ETL events table (lowercased + date-partition columns, .ipynb:97-107).
EVENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("clienttimestamp", T.LongType(), False),
        T.StructField("servertimestamp", T.LongType(), False),
        T.StructField("year", T.StringType(), False),
        T.StructField("month", T.StringType(), False),
        T.StructField("day", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/ — see TESTDATA.md). Schemas
# match the parquet files exactly (verified against the files, not assumed).
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Driver `events` fixture (distinct from the gateway event envelope):
#: event_id bigint, ts timestamp, user_id bigint, event_type string,
#: value double, props string (JSON object).
