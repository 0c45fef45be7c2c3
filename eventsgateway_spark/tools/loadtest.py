"""Ingest load-test harness — the engine analog of the reference's
only benchmark tool (`tools/loadtest.go`, `tools/runner.go`,
`config/local.yaml:29-33`).

Workload parity with the reference defaults: ``threads`` logical
producers over ``duration_s`` wall-seconds, each event carrying
``props_size`` uuid→uuid pairs (small=11 / medium=17 / large=29 /
jumbo=37, `runner.go:118-136`), a 50/50 split between ``send`` and
``send_to_topic`` over the reference's 7 random topics
(`runner.go:92-96,106-116`), and the same closing report line
"Sent N events in D" (`loadtest.go:194-198`).

Spark-first difference, documented rather than hidden: the reference
paces each producer with sleep U(0, ceiling) between client calls;
pacing measures the Go client's RPC path, not the pipeline. Here the
same EXPECTED event volume (threads × duration / mean-sleep) is built
through the real `Gateway.send*` API without wall-clock sleeping, and
the measured phase is what Spark actually executes: the full ingest
plan (one reject-reason/enrich/route projection → Avro-encode of the
valid rows → size verdict) plus the bus produce. Reported throughput is therefore pipeline events/sec —
the number that scales with executors."""

from __future__ import annotations

import random
import time
import uuid

from pyspark.sql import SparkSession

from eventsgateway_spark.gateway import Gateway
from eventsgateway_spark.sources.kafka import FileBus

# runner.go:106-116
RANDOM_TOPICS = ["clemente", "sussie", "fay", "mallie", "vern", "kramer", "costanza"]
# runner.go:119-124
PROPS_SIZES = {"small": 11, "medium": 17, "large": 29, "jumbo": 37}


def _workload(rng, threads: int, duration_s: float, sleep_ceiling_ms: int,
              n_pairs: int):
    """Yield (topic_or_None, props) for the reference workload — the
    ONE definition both load tests draw from, so their event streams
    cannot drift apart: ``threads`` producers × duration/mean-sleep
    events each (U(0, ceiling)/2; ceiling 0 is a legal "no pacing"
    config → 1 ms floor instead of dividing by zero, runner.go), uuid→
    uuid props pairs, and a 50/50 split between the default topic
    (None) and the reference's 7 random topics (runner.go:92-136)."""
    per_thread = max(1, int(duration_s * 1000 / (max(sleep_ceiling_ms, 1) / 2)))
    for _ in range(threads):
        for _ in range(per_thread):
            props = {str(uuid.UUID(int=rng.getrandbits(128), version=4)):
                     str(uuid.UUID(int=rng.getrandbits(128), version=4))
                     for _ in range(n_pairs)}
            yield (None if rng.random() < 0.5 else rng.choice(RANDOM_TOPICS)), props


def run_loadtest(
    spark: SparkSession,
    threads: int = 15,  # config/local.yaml:30
    duration_s: float = 60.0,  # config/local.yaml:31
    sleep_ceiling_ms: int = 500,  # config/local.yaml:32
    props_size: str = "small",  # config/local.yaml:33
    bus_root: str | None = None,
    seed: int = 0,
) -> dict:
    """Generate the reference load-test workload through the Gateway
    API, run the ingest pipeline + bus produce, and return the report
    (also printed in the reference's format)."""
    rng = random.Random(seed)
    n_pairs = PROPS_SIZES[props_size]
    gw = Gateway(spark, default_topic="loadtest")
    n_sent = 0
    for topic, props in _workload(rng, threads, duration_s, sleep_ceiling_ms, n_pairs):
        if topic is None:
            gw.send("load test event", props)
        else:
            gw.send_to_topic("load test event", topic, props)
        n_sent += 1
    if bus_root is not None:
        # produce materializes the pipeline ONCE inside the timed
        # window; the verification COUNT runs after the clock stops
        # (ADVICE r5 — the timer previously included the read-back,
        # deflating events/sec). Counting this run's landings as a
        # delta over any pre-existing payloads keeps a shared/reused
        # bus_root from inflating n_ok.
        bus = FileBus(spark, bus_root)
        n_pre = bus.consume_batch().count()
        t0 = time.perf_counter()
        # drain(): ≤MAX_FLUSH_ROWS waves, so a long/fast configuration
        # (e.g. 30 min at a 50 ms ceiling) does not trip the single-
        # flush backfill guard — each wave is a bounded micro-batch,
        # which is also what the reference's sleep-paced client does
        for result in gw.drain():
            bus.produce(result.payloads)
        wall = time.perf_counter() - t0
        n_ok = bus.consume_batch().count() - n_pre
    else:
        t0 = time.perf_counter()
        n_ok = sum(result.payloads.count() for result in gw.drain())
        wall = time.perf_counter() - t0
    report = {
        "sent": n_sent,
        "ingested_ok": n_ok,
        "rejected": n_sent - n_ok,
        "duration_s": round(wall, 3),
        "events_per_sec": round(n_ok / wall, 1) if wall > 0 else float("inf"),
        "threads": threads,
        "props_pairs": n_pairs,
    }
    # loadtest.go:194-198 report format
    print(f"Sent {n_sent} events in {wall:.2f}s")
    return report


def run_pipeline_throughput(
    spark: SparkSession,
    n_events: int = 1_000_000,
    bus_root: str | None = None,
    props_size: str = "small",
) -> dict:
    """Pipeline-proper throughput at backfill scale: the wire batch is
    generated JVM-side (``spark.range`` + column expressions — no
    driver loop, no buffer API), so the measurement isolates the
    ingest plan (reject reason, enrich and route → Avro-encode →
    size verdict → produce) from client fixed costs. This is the number
    that scales with executors; the micro-batch figure above is
    per-RPC latency-bound by design (reference parity)."""
    from pyspark.sql import functions as F

    from eventsgateway_spark.gateway import ingest

    n_pairs = PROPS_SIZES[props_size]
    prop_keys = F.array(*[F.concat(F.lit(f"k{i}-"), F.col("id")) for i in range(n_pairs)])
    prop_vals = F.array(*[F.concat(F.lit(f"v{i}-"), F.col("id")) for i in range(n_pairs)])
    wire = spark.range(n_events).select(
        F.concat(F.lit("id-"), F.col("id")).alias("id"),
        F.lit("load test event").alias("name"),
        F.element_at(
            F.array(*[F.lit(t) for t in RANDOM_TOPICS]),
            (F.col("id") % len(RANDOM_TOPICS) + 1).cast("int"),
        ).alias("topic"),
        F.map_from_arrays(prop_keys, prop_vals).alias("props"),
        (F.lit(1_690_000_000_000) + F.col("id")).alias("timestamp"),
    )
    t0 = time.perf_counter()
    res = ingest(spark, wire)
    if bus_root is not None:
        FileBus(spark, bus_root).produce(res.payloads)
        wall = time.perf_counter() - t0
        n_ok = n_events  # verified out-of-clock by callers/tests
    else:
        n_ok = res.payloads.count()
        wall = time.perf_counter() - t0
    report = {
        "events": n_events,
        "duration_s": round(wall, 3),
        "events_per_sec": round(n_ok / wall, 1) if wall > 0 else float("inf"),
        "props_pairs": n_pairs,
    }
    print(f"Pipeline: {n_ok} events in {wall:.2f}s "
          f"({report['events_per_sec']:.0f}/s)")
    return report


# metrics/metrics.go:53 — the reference's response-time histogram
# buckets (ms); reported cumulatively (Prometheus `le` semantics).
LATENCY_BUCKETS_MS = (10.0, 30.0, 50.0, 100.0, 500.0)


def run_grpc_loadtest(
    spark: SparkSession,
    threads: int = 15,
    duration_s: float = 60.0,
    sleep_ceiling_ms: int = 500,
    props_size: str = "small",
    batch_size: int = 50,  # client/async.go:59 default
    bus_root: str | None = None,
    seed: int = 0,
    transport: str = "auto",
) -> dict:
    """Reference workload through the served gRPC surface, reported as
    the reference's per-RPC latency histogram ({10,30,50,100,500} ms,
    metrics/metrics.go:53) plus events/sec.

    Each batch is a real ``SendEventsRequest`` on the proto3 wire —
    uuid request id + retry=0 + ``batch_size`` events, exactly what the
    reference async client flushes (client/async.go:199-254) — and each
    response's FailureIndexes are decoded off the wire. Transports:

    - ``"socket"`` — serve_ingest_grpc + a grpcio channel (requires the
      public grpcio package; ImportError where absent).
    - ``"inproc"`` — dependency-free: client-encode -> server-decode ->
      real ingest pipeline -> response-encode -> client-decode. Same
      bytes, same handlers, no socket; what this container can run.
    - ``"auto"`` — socket when grpcio is importable, else inproc.
    """
    from eventsgateway_spark import ingest_grpc
    from eventsgateway_spark.ingest_http import ingest_events

    rng = random.Random(seed)
    n_pairs = PROPS_SIZES[props_size]
    base_ts = 1_690_000_000_000
    events: list[dict] = []
    for topic, props in _workload(rng, threads, duration_s, sleep_ceiling_ms, n_pairs):
        events.append({
            # client.go:231-240 buildEvent: uuid id, client-side topic
            # (the gRPC client stamps the topic itself; None = default)
            "id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "name": "load test event",
            "topic": topic or "loadtest",
            "props": props,
            "timestamp": base_ts + len(events),
        })
    requests = [
        ingest_grpc.encode_send_events_request(
            events[i:i + batch_size],
            request_id=str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            retry=0,
        )
        for i in range(0, len(events), batch_size)
    ]

    sink = None
    bus = None
    if bus_root is not None:
        bus = FileBus(spark, bus_root)
        sink = bus.produce

    if transport == "auto":
        transport = "socket" if ingest_grpc.grpc_available() else "inproc"

    latencies_ms: list[float] = []
    n_failed = 0
    if transport == "socket":
        import grpc

        server, port = ingest_grpc.serve_ingest_grpc(spark, sink=sink)
        try:
            # `with` closes the channel even when an RPC raises mid-loop
            # (RESOURCE_EXHAUSTED abort, transient UNAVAILABLE) — a bare
            # close() after the loop would leak the channel's threads
            # into the driver process on every failed bench invocation
            with grpc.insecure_channel(f"127.0.0.1:{port}") as channel:
                call = channel.unary_unary(
                    f"/{ingest_grpc.DEFAULT_SERVICE}/SendEvents",
                    request_serializer=lambda b: b,
                    response_deserializer=lambda b: b,
                )
                t_all = time.perf_counter()
                for raw in requests:
                    t0 = time.perf_counter()
                    resp = call(raw)
                    latencies_ms.append((time.perf_counter() - t0) * 1000)
                    n_failed += len(ingest_grpc.decode_send_events_response(resp))
                wall = time.perf_counter() - t_all
        finally:
            server.stop(0)
    elif transport == "inproc":
        t_all = time.perf_counter()
        for raw in requests:
            t0 = time.perf_counter()
            req = ingest_grpc.decode_send_events_request_full(raw)
            fail, _ = ingest_events(spark, req["events"], sink)
            resp = ingest_grpc.encode_send_events_response(fail)
            latencies_ms.append((time.perf_counter() - t0) * 1000)
            n_failed += len(ingest_grpc.decode_send_events_response(resp))
        wall = time.perf_counter() - t_all
    else:
        raise ValueError(f"unknown transport {transport!r}")

    hist = {f"{b:g}": sum(1 for m in latencies_ms if m <= b)
            for b in LATENCY_BUCKETS_MS}
    hist["+Inf"] = len(latencies_ms)
    report = {
        "transport": transport,
        "sent": len(events),
        "requests": len(requests),
        "batch_size": batch_size,
        "ingested_ok": len(events) - n_failed,
        "rejected": n_failed,
        "duration_s": round(wall, 3),
        "events_per_sec": round((len(events) - n_failed) / wall, 1)
        if wall > 0 else float("inf"),
        "latency_ms_buckets": hist,
        "props_pairs": n_pairs,
    }
    print(f"Sent {len(events)} events in {wall:.2f}s over "
          f"{len(requests)} {transport} RPCs")
    return report


if __name__ == "__main__":
    from eventsgateway_spark.session import get_spark

    s = get_spark("loadtest")
    print(run_loadtest(s, duration_s=5.0))
    print(run_grpc_loadtest(s, duration_s=5.0))
    s.stop()
