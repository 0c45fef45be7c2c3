"""Network-facing ingest endpoint — S1 served, not just in-process.

The reference's S1 is a *served* gRPC API: `SendEvent` / `SendEvents`
registered on a socket (server/app/server.go:47-65, server/app/app.go:255),
with batch failures reported back as per-request indexes
(`SendEventsResponse.FailureIndexes`, server/sender/kafka.go:44-68).
This module closes that last behavioral seam with a dependency-free
stdlib HTTP server (the same pattern as the Prometheus endpoint,
streaming/metrics_http.py): a game client — or curl — gets a socket to
point at, and each request body runs through the REAL ingest pipeline
(`gateway.ingest`: validate → enrich → route → Avro → size verdict),
which the optimizer evaluates in the driver JVM over the request's
local relation, and its accepted payloads land on the configured sink
as one bus batch.

Wire protocol (JSON over HTTP; grpc/protobuf are not installed in this
container, and the RPC *semantics* — not the framing — are the surface
under test):

    POST /send-events   {"events": [{id,name,topic,props,timestamp}..]}
        -> 200 {"failure_indexes": [..]}     (mirrors SendEventsResponse)
    POST /send-event    {id,name,topic,props,timestamp}
        -> 200 {}  on success
        -> 422 {"error": "<reject_reason>"}  (mirrors the gRPC
           FailedPrecondition error of server/sender/kafka.go:89-94)
    GET  /healthz       -> 200 ok            (app healthcheck analog)

Failure-index mechanics: the request index rides the pipeline as an
extra ``_idx`` column (every stage is a projection that keeps the wire
columns, so it flows untouched into the outcome) and the response
indexes are read back from the collected outcome frame — one row per
event with its reject reason — so the verdict and the published
payloads come from the SAME evaluation of the plan, never from
re-implemented driver-side validation.

Scale posture: one request = one bus batch = a handful of driver-side
rows, exactly the reference's per-RPC granularity; bulk backfill goes
through the file/Kafka source path (gateway.Gateway.flush docstring),
not this endpoint.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from eventsgateway_spark.gateway import ingest, local_frame
from eventsgateway_spark.operators import transforms
from eventsgateway_spark.schemas import WIRE_EVENT_SCHEMA
from eventsgateway_spark.sources.kafka import PAYLOAD_SCHEMA

#: Wire envelope + the request-index passthrough column — DERIVED from
#: the canonical wire schema (fields forced nullable so validation,
#: not createDataFrame, rejects bad rows); a hand copy would silently
#: drift when schemas.py changes.
_HTTP_WIRE_SCHEMA = T.StructType(
    [T.StructField("_idx", T.LongType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in WIRE_EVENT_SCHEMA.fields]
)

#: Per-request ceiling: one HTTP request = one bus batch of
#: driver-side rows (the reference's per-RPC granularity). Bulk
#: backfill must use the file/Kafka source path — the same boundary
#: Gateway.MAX_FLUSH_ROWS enforces on the buffer facade, enforced
#: HERE because this endpoint calls ingest() directly.
MAX_REQUEST_EVENTS = 10_000


def _wire_rows(events: list[dict]) -> tuple[list[tuple], dict[int, str]]:
    """(rows, framing_failures). An entry that is not an object — or
    whose ``props`` is not an object — cannot even be represented as a
    wire row; that is a FRAMING failure (the gRPC analog is a request
    deserialization error), rejected here with a reason instead of
    crashing the request into a 500. Contract-level rejects (empty id,
    missing timestamp, oversize) still come from the pipeline plan."""
    rows, framing = [], {}
    for i, ev in enumerate(events):
        if not isinstance(ev, dict):
            framing[i] = "malformed_event"
            continue
        props = ev.get("props") or {}
        if not isinstance(props, dict):
            framing[i] = "malformed_props"
            continue
        ts_raw = ev.get("timestamp")
        try:
            # booleans are ints in Python — JSON true must not become
            # timestamp 1; floats (ms since epoch) truncate
            ts = None if isinstance(ts_raw, bool) else int(ts_raw)
        except (TypeError, ValueError):
            ts = None  # the reject rule names it a missing timestamp
        rows.append(
            (
                i,
                ev.get("id"),
                ev.get("name"),
                ev.get("topic"),
                # non-string prop values keep their JSON form ("true",
                # "null", '{"b": 1}') — Python str() would store reprs
                # ('True', "{'b': 1}") no JSON consumer can round-trip
                {
                    str(k): (v if isinstance(v, str) else json.dumps(v))
                    for k, v in props.items()
                },
                ts,
            )
        )
    return rows, framing


def ingest_events(
    spark: SparkSession,
    events: list[dict],
    sink: Callable[[DataFrame], None] | None = None,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
) -> tuple[list[int], dict[int, str]]:
    """Run one request batch through the pipeline; deliver accepted
    payloads to ``sink``; return (failure_indexes, reason_by_index).

    The index list is sorted and unique, matching the semantics (not
    the goroutine-append ordering) of the reference's FailureIndexes.

    Per-request shape: one Spark job of one task, and no Python-worker
    task. The verdict runs no job: ``gateway.ingest``'s outcome frame
    is one projection chain over the request's local relation, with no
    union, so the optimizer folds it into a local relation, evaluating
    the Avro encode (a JVM expression) once in the driver JVM, and only
    for valid rows. The sink job publishes the collected bytes of the
    accepted rows, in request order, from a local relation: the
    published payloads are the bytes the size check saw, and no encode
    or ``current_timestamp()`` is re-run for them."""
    if not events:
        return [], {}
    rows, reasons = _wire_rows(events)
    if not rows:
        return sorted(reasons), reasons
    wire = local_frame(spark, rows, _HTTP_WIRE_SCHEMA)
    outcome = ingest(spark, wire, max_message_bytes).outcome.selectExpr(
        "_idx", "reject_reason", "sink_topic AS topic", "value"
    )
    accepted = []
    for row in outcome.collect():
        if row["reject_reason"] is None:
            accepted.append((row["_idx"], row["topic"], row["value"]))
        else:
            reasons[int(row["_idx"])] = row["reject_reason"]
    if sink is not None:
        accepted.sort()
        payloads = [(topic, None, value) for _, topic, value in accepted]
        # one partition: the bus write is one task and one part file
        sink(local_frame(spark, payloads, PAYLOAD_SCHEMA).coalesce(1))
    return sorted(reasons), reasons


def serve_ingest(
    spark: SparkSession,
    sink: Callable[[DataFrame], None] | None = None,
    port: int = 0,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
    host: str = "127.0.0.1",
) -> tuple[ThreadingHTTPServer, int]:
    """Serve the ingest API on a daemon thread; returns (server,
    bound_port). ``port=0`` binds an ephemeral port; call
    ``server.shutdown()`` to stop. ``sink`` receives each request's
    accepted-payload DataFrame (e.g. ``FileBus(...).produce`` or a
    Kafka writer); ``None`` validates/encodes without delivering.
    ``host`` defaults to loopback (safe for tests); a deployed
    endpoint binds "0.0.0.0" (config key ``server.host``) — the
    served-S1 purpose needs a reachable socket, not just localhost."""

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, obj: dict | str) -> None:
            body = (
                obj.encode() if isinstance(obj, str) else json.dumps(obj).encode()
            )
            self.send_response(code)
            self.send_header(
                "Content-Type",
                "text/plain" if isinstance(obj, str) else "application/json",
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path.rstrip("/") == "/healthz".rstrip("/"):
                self._reply(200, "ok")
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):  # noqa: N802
            # a chunked or length-less POST would read as an EMPTY body
            # and be acked 200 with nothing ingested (and desync the
            # next keep-alive request): require a Content-Length
            if "chunked" in self.headers.get("Transfer-Encoding", "").lower():
                self._reply(411, {"error": "chunked encoding not supported"})
                return
            raw_len = self.headers.get("Content-Length")
            if raw_len is None:
                self._reply(411, {"error": "Content-Length required"})
                return
            try:
                payload = json.loads(self.rfile.read(int(raw_len)) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._reply(400, {"error": "invalid json"})
                return
            path = self.path.rstrip("/")
            try:
                if path == "/send-events":
                    if not isinstance(payload, dict):
                        self._reply(400, {"error": "body must be an object"})
                        return
                    events = payload.get("events", [])
                    if not isinstance(events, list):
                        self._reply(400, {"error": "events must be a list"})
                        return
                    if len(events) > MAX_REQUEST_EVENTS:
                        # same backfill boundary Gateway.MAX_FLUSH_ROWS
                        # guards: driver-shipped rows are per-RPC
                        # granularity, not a bulk-load path
                        self._reply(413, {
                            "error": f"more than {MAX_REQUEST_EVENTS} events "
                            "in one request; use the file/Kafka source "
                            "path for backfill"
                        })
                        return
                    fail, _ = ingest_events(
                        spark, events, sink, max_message_bytes
                    )
                    self._reply(200, {"failure_indexes": fail})
                elif path == "/send-event":
                    fail, reasons = ingest_events(
                        spark, [payload], sink, max_message_bytes
                    )
                    if fail:
                        # single-event failure -> error response, like the
                        # gRPC SendEvent FailedPrecondition path
                        self._reply(422, {"error": reasons[0]})
                    else:
                        self._reply(200, {})
                else:
                    self._reply(404, {"error": "not found"})
            except Exception as ex:  # pipeline failure -> 500, keep serving
                self._reply(500, {"error": str(ex)[:500]})

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]
