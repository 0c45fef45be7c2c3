"""gRPC ingest transport — wire-level parity for the served S1 API.

The reference serves ``SendEvent`` / ``SendEvents`` over gRPC
(handlers ``/root/reference/server/app/server.go:47-65``, registration
``server/app/app.go:255``) using the public proto from
github.com/topfreegames/protos (``eventsgateway/grpc``):

    package eventsgateway;
    service GRPCForwarder {
      rpc SendEvent(Event) returns (SendEventResponse);
      rpc SendEvents(SendEventsRequest) returns (SendEventsResponse);
    }
    message Event { string id = 1; string name = 2; string topic = 3;
                    map<string, string> props = 4; int64 timestamp = 5; }
    message SendEventResponse {}
    message SendEventsRequest  { string id = 1; int64 retry = 2;
                                 repeated Event events = 3; }
    message SendEventsResponse { repeated int64 failure_indexes = 1; }

Field SHAPES are confirmed against the reference's generated-code usage:
``client/client.go:233-239`` (Event construction), ``client/async.go:199-254``
(SendEventsRequest.Id/.Retry/.Events — the client stamps a uuid request
id per batch and the retry count per attempt; the server's metrics
interceptor reads Retry, ``server/app/app.go:190-191``),
``server/sender/sender.go:17`` ([]int64 FailureIndexes). Field NUMBERS
are not recoverable from the reference tree (the proto lives in the
un-vendored github.com/topfreegames/protos dep), so:

- the ENCODER emits the numbering sketched above via the module
  constants ``REQ_FIELD_ID`` / ``REQ_FIELD_RETRY`` / ``REQ_FIELD_EVENTS``
  (override them to match a regenerated deployment, exactly like the
  configurable service name);
- the DECODER does not trust any numbering at all: request fields are
  classified by WIRE SHAPE — any varint field is ``retry``, and each
  length-delimited field is probed with a strict Event parse (every tag
  must be a known Event field with the right wire type, strings valid
  UTF-8, full consumption) and falls back to the request ``id`` string
  when the probe fails. A uuid/ASCII request id can never pass the
  strict probe (its first byte decodes to an out-of-range tag), and a
  real Event submessage always does, so every plausible historical
  layout — ``events=1`` only, ``id=1,retry=2,events=3``,
  ``id=1,events=2,retry=3`` — decodes to the same result.

The package/service name is configurable in case a deployment
regenerated under a different proto package.

Two layers, gated differently:

- **Message codec** — hand-rolled proto3 wire format (varint +
  length-delimited records). Dependency-free, fully tested in this
  container (tests/test_ingest_grpc.py: golden bytes + round-trip).
- **Transport** — needs the public ``grpcio`` package; gated behind an
  import-try exactly like the Kafka connector, with the HTTP endpoint
  (ingest_http.py) as the always-available sibling. Where grpcio IS
  installed, a reference Go client connects unmodified; grpcio also
  transparently decompresses gzip request payloads
  (``client/client.go:108-111`` turns on the gzip compressor), so the
  reference client's compression option needs no extra handling here.

Both RPCs run the REAL ingest pipeline via
``ingest_http.ingest_events`` (validate → enrich → route → Avro →
size verdict, evaluated once per request; failure indexes read from the
plan's own outcome rows), so HTTP and gRPC can never drift
semantically — they share everything below request framing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from eventsgateway_spark.ingest_http import MAX_REQUEST_EVENTS, ingest_events
from eventsgateway_spark.operators import transforms

DEFAULT_SERVICE = "eventsgateway.GRPCForwarder"

_U64_MASK = (1 << 64) - 1

# ---------------------------------------------------------------------------
# proto3 wire primitives
# ---------------------------------------------------------------------------


def _uvarint(n: int) -> bytes:
    """Unsigned LEB128 varint of ``n`` (0 <= n < 2^64)."""
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 64 bits")


def _tag(field: int, wire_type: int) -> bytes:
    return _uvarint((field << 3) | wire_type)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _uvarint(len(payload)) + payload


def _str_field(field: int, s: str) -> bytes:
    # proto3 omits default values: an empty string is simply absent
    if not s:
        return b""
    return _len_field(field, s.encode("utf-8"))


def _int64_field(field: int, n: int) -> bytes:
    if n == 0:
        return b""
    return _tag(field, 0) + _uvarint(n & _U64_MASK)


def _skip_field(data: bytes, pos: int, wire_type: int) -> int:
    """Skip an unknown field per spec (forward compatibility)."""
    if wire_type == 0:  # varint
        _, pos = _read_uvarint(data, pos)
        return pos
    if wire_type == 1:  # fixed64
        return pos + 8
    if wire_type == 2:  # length-delimited
        n, pos = _read_uvarint(data, pos)
        return pos + n
    if wire_type == 5:  # fixed32
        return pos + 4
    raise ValueError(f"unsupported wire type {wire_type}")


def _to_i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# Message codec
# ---------------------------------------------------------------------------


def encode_event_pb(ev: dict) -> bytes:
    """dict with id/name/topic/props/timestamp → Event wire bytes."""
    out = bytearray()
    out += _str_field(1, ev.get("id") or "")
    out += _str_field(2, ev.get("name") or "")
    out += _str_field(3, ev.get("topic") or "")
    for k, v in (ev.get("props") or {}).items():
        # map<string,string> = repeated entry { key=1; value=2; }
        out += _len_field(4, _str_field(1, k) + _str_field(2, v))
    out += _int64_field(5, int(ev.get("timestamp") or 0))
    return bytes(out)


def decode_event_pb(data: bytes, strict: bool = False) -> dict:
    """Event wire bytes → dict (proto3 defaults: "" / {} / 0).

    ``strict=True`` is the disambiguation probe used by the request
    decoder: every tag must be a KNOWN Event field with the matching
    wire type, strings must be valid UTF-8, and map entries must be
    well-formed — anything else raises ValueError. Lenient mode (the
    default) skips unknown fields per spec for forward compatibility.
    """
    ev: dict = {"id": "", "name": "", "topic": "", "props": {}, "timestamp": 0}
    pos = 0
    end = len(data)
    while pos < end:
        key, pos = _read_uvarint(data, pos)
        field, wt = key >> 3, key & 7
        if field in (1, 2, 3) and wt == 2:
            n, pos = _read_uvarint(data, pos)
            if pos + n > end:
                raise ValueError("truncated string field")
            val = data[pos:pos + n].decode("utf-8")
            pos += n
            ev[("id", "name", "topic")[field - 1]] = val
        elif field == 4 and wt == 2:
            n, pos = _read_uvarint(data, pos)
            if pos + n > end:
                raise ValueError("truncated map entry")
            entry = data[pos:pos + n]
            pos += n
            k = v = ""
            epos = 0
            while epos < len(entry):
                ekey, epos = _read_uvarint(entry, epos)
                if strict and (ekey >> 3 not in (1, 2) or ekey & 7 != 2):
                    raise ValueError("malformed map entry")
                en, epos = _read_uvarint(entry, epos)
                if epos + en > len(entry):
                    raise ValueError("truncated map entry value")
                s = entry[epos:epos + en].decode("utf-8")
                epos += en
                if ekey >> 3 == 1:
                    k = s
                else:
                    v = s
            ev["props"][k] = v
        elif field == 5 and wt == 0:
            u, pos = _read_uvarint(data, pos)
            ev["timestamp"] = _to_i64(u)
        elif strict:
            raise ValueError(f"unknown Event field {field} wt {wt}")
        else:
            pos = _skip_field(data, pos, wt)
    return ev


#: SendEventsRequest field numbers used by the ENCODER (best public
#: reconstruction — see module docstring). The decoder ignores them.
REQ_FIELD_ID = 1
REQ_FIELD_RETRY = 2
REQ_FIELD_EVENTS = 3


def encode_send_events_request(
    events: list[dict], request_id: str = "", retry: int = 0
) -> bytes:
    """Events (+ optional batch uuid and retry count, the fields the
    reference client stamps per send — client/async.go:204,254) →
    SendEventsRequest wire bytes. proto3 default values are omitted."""
    return (
        _str_field(REQ_FIELD_ID, request_id)
        + _int64_field(REQ_FIELD_RETRY, retry)
        + b"".join(
            _len_field(REQ_FIELD_EVENTS, encode_event_pb(ev)) for ev in events
        )
    )


def decode_send_events_request_full(data: bytes) -> dict:
    """SendEventsRequest wire bytes → {"id", "retry", "events"}.

    Layout-tolerant: fields are classified by wire shape, not number
    (module docstring) — a varint is ``retry``; a length-delimited
    payload that survives a strict Event parse is an event; any other
    length-delimited payload is the request ``id`` string. Handles the
    events-only, id-first, and events-first numbering variants
    identically, so a reference Go client interoperates whichever
    revision of the public proto it was generated from."""
    out: dict = {"id": "", "retry": 0, "events": []}
    pos = 0
    end = len(data)
    while pos < end:
        key, pos = _read_uvarint(data, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            u, pos = _read_uvarint(data, pos)
            out["retry"] = _to_i64(u)
        elif wt == 2:
            n, pos = _read_uvarint(data, pos)
            payload = data[pos:pos + n]
            pos += n
            if payload:
                try:
                    out["events"].append(decode_event_pb(payload, strict=True))
                    continue
                except (ValueError, IndexError, UnicodeDecodeError):
                    pass
                try:
                    out["id"] = payload.decode("utf-8")
                except UnicodeDecodeError:
                    pass  # neither Event nor string: unknown field, skip
            elif field == REQ_FIELD_EVENTS:
                # explicit empty submessage at the events field: an
                # all-defaults Event (the one shape the probe can't
                # tell apart from an empty string)
                out["events"].append(decode_event_pb(b""))
        else:
            pos = _skip_field(data, pos, wt)
    return out


def decode_send_events_request(data: bytes) -> list[dict]:
    return decode_send_events_request_full(data)["events"]


def encode_send_events_response(failure_indexes: list[int]) -> bytes:
    """repeated int64 = packed on the wire (proto3 default)."""
    if not failure_indexes:
        return b""
    packed = b"".join(_uvarint(i & _U64_MASK) for i in failure_indexes)
    return _len_field(1, packed)


def decode_send_events_response(data: bytes) -> list[int]:
    """Accepts both packed (proto3 default) and unpacked encodings —
    required of any compliant parser for packable repeated fields."""
    out: list[int] = []
    pos = 0
    end = len(data)
    while pos < end:
        key, pos = _read_uvarint(data, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:  # packed
            n, pos = _read_uvarint(data, pos)
            stop = pos + n
            while pos < stop:
                u, pos = _read_uvarint(data, pos)
                out.append(_to_i64(u))
        elif field == 1 and wt == 0:  # unpacked
            u, pos = _read_uvarint(data, pos)
            out.append(_to_i64(u))
        else:
            pos = _skip_field(data, pos, wt)
    return out


def encode_send_event_response() -> bytes:
    return b""  # SendEventResponse has no fields


# ---------------------------------------------------------------------------
# Transport (gated on grpcio, like the Kafka connector)
# ---------------------------------------------------------------------------


def grpc_available() -> bool:
    try:
        import grpc  # noqa: F401

        return True
    except ImportError:
        return False


def serve_ingest_grpc(
    spark: SparkSession,
    sink: Callable[[DataFrame], None] | None = None,
    port: int = 0,
    max_message_bytes: int = transforms.DEFAULT_MAX_MESSAGE_BYTES,
    host: str = "127.0.0.1",
    service: str = DEFAULT_SERVICE,
    max_workers: int = 8,
):
    """Serve GRPCForwarder on an insecure socket; returns
    (grpc.Server, bound_port). ``port=0`` binds ephemeral; stop with
    ``server.stop(grace)``. Raises ImportError when grpcio is absent
    (the HTTP transport, ingest_http.serve_ingest, has no such
    dependency).

    Uses generic method handlers with the hand-rolled codec as the
    (de)serializers — no protoc-generated stubs needed. Error mapping
    mirrors the reference: a rejected single event aborts SendEvent
    with FAILED_PRECONDITION and the pipeline's reject reason
    (server/sender/kafka.go:89-94); SendEvents always succeeds at the
    RPC layer and reports per-event failures as FailureIndexes.

    Like the reference's metrics interceptor (server/app/app.go:190-191
    reads SendEventsRequest.Retry as a label), per-request counters are
    kept on ``server.request_counts`` keyed by (route, is_retry)."""
    import grpc
    from collections import Counter
    from concurrent import futures

    request_counts: Counter = Counter()

    def send_event(raw: bytes, context) -> bytes:
        request_counts[("SendEvent", False)] += 1
        ev = decode_event_pb(raw)
        fail, reasons = ingest_events(spark, [ev], sink, max_message_bytes)
        if fail:
            context.abort(grpc.StatusCode.FAILED_PRECONDITION, reasons[0])
        return encode_send_event_response()

    def send_events(raw: bytes, context) -> bytes:
        req = decode_send_events_request_full(raw)
        request_counts[("SendEvents", req["retry"] > 0)] += 1
        events = req["events"]
        if len(events) > MAX_REQUEST_EVENTS:
            # same backfill boundary the HTTP endpoint enforces: one RPC
            # is one driver-side batch of rows, not a bulk-load path
            context.abort(
                grpc.StatusCode.RESOURCE_EXHAUSTED,
                f"more than {MAX_REQUEST_EVENTS} events in one request; "
                "use the file/Kafka source path for backfill",
            )
        fail, _ = ingest_events(spark, events, sink, max_message_bytes)
        return encode_send_events_response(fail)

    handler = grpc.method_handlers_generic_handler(
        service,
        {
            "SendEvent": grpc.unary_unary_rpc_method_handler(
                send_event,
                request_deserializer=lambda b: b,
                response_serializer=lambda b: b,
            ),
            "SendEvents": grpc.unary_unary_rpc_method_handler(
                send_events,
                request_deserializer=lambda b: b,
                response_serializer=lambda b: b,
            ),
        },
    )
    server = grpc.server(futures.ThreadPoolExecutor(max_workers=max_workers))
    server.add_generic_rpc_handlers((handler,))
    bound = server.add_insecure_port(f"{host}:{port}")
    if bound == 0:
        # grpcio signals bind failure (port in use, bad host) by
        # returning 0, not by raising — starting anyway would "serve"
        # on no socket and callers would silently get no traffic
        raise OSError(f"failed to bind gRPC server to {host}:{port}")
    server.request_counts = request_counts
    server.start()
    return server, bound
