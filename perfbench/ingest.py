"""ingest — the paper's write path: SendEvents RPCs onto the bus, then
the streaming ETL into the partitioned table.

A closed loop with one caller sends SendEvents requests of 50 events
(the reference async client's batch size), each after the previous
reply. An RPC runs in process, since grpcio is absent:
``encode_send_events_request`` (client, before the clock) →
``decode_send_events_request_full`` → ``ingest_events(..., sink=
FileBus.produce)`` → ``encode_send_events_response`` →
``decode_send_events_response`` (client). After the loop,
``streaming.pipeline.run_etl`` (availableNow, ``maxFilesPerTrigger``)
drains the window's bus into the table in several micro-batches.

Events carry 11 uuid prop pairs, client times spread over 30 days,
topics split 50/50 between the default and the reference's 7, and
about 2% are invalid (empty id or zero timestamp) at indexes the
generator knows.
"""

from __future__ import annotations

import datetime
import os
import random
import sys
import time
import uuid
from collections import Counter

from harness import SparkProcess, Tracer, median

BATCH = 50
PAIRS = 11  # the reference's "small" props size
DEFAULT_TOPIC = "loadtest"
TOPICS = ["clemente", "sussie", "fay", "mallie", "vern", "kramer", "costanza"]
INVALID_SHARE = 0.02
BASE_TS = 1_690_000_000_000
SPAN_MS = 30 * 86_400_000
WARMUP_RPCS = 3
FILES_PER_TRIGGER = 4
PROBE_EVENTS = 20_000
MB = 2**20


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def make_events(rng: random.Random) -> tuple[list[dict], list[int]]:
    """One request's events and the indexes the server must reject."""
    events, invalid = [], []
    for i in range(BATCH):
        ev = {
            "id": _uuid(rng),
            "name": "load test event",
            "topic": DEFAULT_TOPIC if rng.random() < 0.5 else rng.choice(TOPICS),
            "props": {_uuid(rng): _uuid(rng) for _ in range(PAIRS)},
            "timestamp": BASE_TS + rng.randrange(SPAN_MS),
        }
        if rng.random() < INVALID_SHARE:
            if rng.random() < 0.5:
                ev["id"] = ""
            else:
                ev["timestamp"] = 0
            invalid.append(i)
        events.append(ev)
    return events, invalid


def _day(ts_ms: int) -> tuple[int, int, int]:
    d = datetime.datetime.fromtimestamp(ts_ms / 1000, datetime.timezone.utc)
    return d.year, d.month, d.day


def _dir_stats(root: str) -> tuple[int, int, set]:
    """(parquet files, bytes, partition directories) under ``root``."""
    files = size = 0
    parts = set()
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet") and not name.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
                parts.add(os.path.relpath(dirpath, root))
    return files, size, parts


class Leg:
    """One bus and the table it drains into, with what the generator
    says must land there."""

    def __init__(self, spark, root: str):
        from eventsgateway_spark.sources.kafka import FileBus

        self.root = root
        self.bus = FileBus(spark, os.path.join(root, "bus"))
        self.ids: set[str] = set()
        self.days: Counter = Counter()


class Workload:
    def __init__(self, proc: SparkProcess, seed: int, run_dir: str,
                 tracer: Tracer):
        self.proc = proc
        self.spark = proc.spark
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.run_dir = run_dir
        self.publish_files: dict[int, int] = {}

    # -- one RPC -----------------------------------------------------------

    def _sink(self, leg: Leg):
        """FileBus.produce under its own job group and span."""

        def produce(payloads) -> None:
            t = self.tracer
            t.group(f"produce-{t.op}")
            before = set(os.listdir(leg.bus.root)) if t.enabled else set()
            cpu0 = self.proc.cpu_s()
            with t.span("sources.kafka.produce"):
                leg.bus.produce(payloads)
            self.produce_cpu = self.proc.cpu_s() - cpu0
            if t.enabled:
                t.collect(f"produce-{t.op}")
                (new,) = set(os.listdir(leg.bus.root)) - before
                self.publish_files[t.op] = sum(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(leg.bus.root, new)))
                t.group(f"verdict-{t.op}")

        return produce

    def rpc(self, leg: Leg) -> tuple[bool, float, float, int]:
        """Send one request; returns (failure indexes as expected,
        CPU s, bus publish CPU s, accepted events)."""
        from eventsgateway_spark import ingest_grpc
        from eventsgateway_spark.ingest_http import ingest_events

        events, invalid = make_events(self.rng)
        raw = ingest_grpc.encode_send_events_request(
            events, request_id=_uuid(self.rng), retry=0)
        t = self.tracer
        t.op += 1
        t.group(f"verdict-{t.op}")
        self.produce_cpu = 0.0
        cpu0 = self.proc.cpu_s()
        with t.span("rpc"):
            with t.span("ingest_grpc.decode"):
                req = ingest_grpc.decode_send_events_request_full(raw)
            with t.span("ingest_http.ingest_events"):
                fail, _ = ingest_events(self.spark, req["events"], self._sink(leg))
            with t.span("ingest_grpc.encode"):
                resp = ingest_grpc.encode_send_events_response(fail)
            got = ingest_grpc.decode_send_events_response(resp)
        cpu = self.proc.cpu_s() - cpu0
        t.collect(f"verdict-{t.op}")
        rejected = set(got)
        for i, ev in enumerate(events):
            if i not in rejected:
                leg.ids.add(ev["id"])
                leg.days[_day(ev["timestamp"])] += 1
        return got == invalid, cpu, self.produce_cpu, BATCH - len(got)

    # -- the ETL drain and its checks ----------------------------------------

    def drain(self, leg: Leg):
        """Drain ``leg``'s bus into its table; returns the query."""
        from eventsgateway_spark.streaming.pipeline import run_etl

        t = self.tracer
        cpu0 = self.proc.cpu_s()
        with t.span("streaming.pipeline.run_etl") as sp:
            query = run_etl(
                self.spark,
                leg.bus.consume_stream(max_files_per_trigger=FILES_PER_TRIGGER),
                os.path.join(leg.root, "table"),
                os.path.join(leg.root, "checkpoint"),
            )
            query.awaitTermination()
        self.etl_s = sp.seconds
        self.etl_cpu = self.proc.cpu_s() - cpu0
        # the stream's jobs run under its own job group, the run id
        self.etl_counts = t.collect(str(query.runId))
        return query

    def check(self, leg: Leg) -> bool:
        """The bus and the table hold exactly the accepted events: row
        counts, the id set and per-day partition counts."""
        bus_rows = leg.bus.consume_batch().count()
        rows = self.spark.read.parquet(os.path.join(leg.root, "table")).select(
            "id", "year", "month", "day").collect()
        ids = {r["id"] for r in rows}
        days = Counter((int(r["year"]), int(r["month"]), int(r["day"]))
                       for r in rows)
        ok = (bus_rows == len(rows) == len(ids) and ids == leg.ids
              and days == leg.days)
        if not ok:
            print(f"check failed: bus {bus_rows}, table {len(rows)}, "
                  f"accepted {len(leg.ids)}, days equal {days == leg.days}",
                  file=sys.stderr)
        return ok

    # -- the workload --------------------------------------------------------

    def warm_up(self) -> bool:
        leg = Leg(self.spark, os.path.join(self.run_dir, "warm"))
        ok = all(self.rpc(leg)[0] for _ in range(WARMUP_RPCS))
        self.drain(leg)
        return ok

    def measure(self, seconds: float) -> dict:
        """``seconds`` RPCs (about one a second), then the drain: a
        fixed amount of work, so every run of a seed does the same."""
        leg = self.leg = Leg(self.spark, os.path.join(self.run_dir, "window"))
        cpu, produce, accepted = [], [], 0
        attempted = failed = 0
        self.first_op = self.tracer.op + 1
        t0 = time.perf_counter()
        cpu0 = self.proc.cpu_s()
        for _ in range(max(1, round(seconds))):
            attempted += 1
            try:
                ok, secs_cpu, prod_cpu, n = self.rpc(leg)
            except Exception as ex:  # a failed RPC is counted, not fatal
                print(f"rpc failed: {ex!r}", file=sys.stderr)
                failed += 1
                continue
            failed += not ok
            cpu.append(secs_cpu * 1000)
            produce.append(prod_cpu * 1000)
            accepted += n
        self.last_op = self.tracer.op
        query = self.drain(leg)
        cpu_total = self.proc.cpu_s() - cpu0
        window_s = time.perf_counter() - t0
        self.progress = query.recentProgress
        self.accepted = accepted
        attempted += 1  # the drain is an operation too
        ok = self.check(leg)  # outside the window
        failed += not ok
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "op_cpu_ms": median(cpu),
                "phase1_cpu_ms": median(a - b for a, b in zip(cpu, produce)),
                "phase2_cpu_ms": self.etl_cpu * 1000 / len(self.progress),
                "work_per_cpu_s": len(leg.ids) / cpu_total,
            },
            "samples": len(cpu),
            "window_s": window_s,
        }

    # -- per-layer metrics (traced run) ---------------------------------------

    def layers(self) -> dict:
        t = self.tracer
        ops = range(self.first_op, self.last_op + 1)

        def window(name):
            return [(s.end - s.start) * 1000 for s in t.spans
                    if s.name == name and self.first_op <= s.op <= self.last_op]

        ingest = window("ingest_http.ingest_events")
        produce = window("sources.kafka.produce")
        verdict = [t.counts[f"verdict-{o}"] for o in ops]
        publish = [t.counts[f"produce-{o}"] for o in ops]
        out = {
            "trace.op_p50_ms": median(window("rpc")),
            "ingest_grpc.decode_ms": median(window("ingest_grpc.decode")),
            "ingest_grpc.encode_ms": median(window("ingest_grpc.encode")),
            "ingest_http.ingest_events_ms": median(ingest),
            "ingest_http.verdict_ms": median(a - b for a, b in zip(ingest, produce)),
            "ingest_http.verdict.jobs": median(c.jobs for c in verdict),
            "ingest_http.verdict.stages": median(c.stages for c in verdict),
            "ingest_http.verdict.tasks": median(c.tasks for c in verdict),
            "ingest_http.executor_run_ms": median(c.executor_run_ms for c in verdict),
            "ingest_http.gc_ms": sum(c.gc_ms for c in verdict),
            "ingest_http.accepted_ratio": self.accepted / (len(ops) * BATCH),
            "sources.kafka.produce_ms": median(produce),
            "sources.kafka.produce.jobs": median(c.jobs for c in publish),
            "sources.kafka.produce.stages": median(c.stages for c in publish),
            "sources.kafka.produce.tasks": median(c.tasks for c in publish),
            "sources.kafka.produce.files": median(self.publish_files[o] for o in ops),
            "sources.kafka.produce.executor_run_ms": median(
                c.executor_run_ms for c in publish),
            "sources.kafka.produce.gc_ms": sum(c.gc_ms for c in publish),
            "streaming.pipeline.run_etl_s": self.etl_s,
            "streaming.pipeline.batches": len(self.progress),
            "streaming.pipeline.tasks": self.etl_counts.tasks,
            "streaming.pipeline.executor_run_s": self.etl_counts.executor_run_ms / 1000,
            "streaming.pipeline.gc_ms": self.etl_counts.gc_ms,
        }
        for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                    "walCommit", "commitOffsets"):
            out[f"streaming.pipeline.{key}_ms"] = sum(
                p.durationMs.get(key, 0) for p in self.progress)
        _, bus_bytes, _ = _dir_stats(os.path.join(self.leg.root, "bus"))
        files, size, parts = _dir_stats(os.path.join(self.leg.root, "table"))
        out.update({
            "sources.kafka.bus_mb": bus_bytes / MB,
            "sources.lakehouse.files": files,
            "sources.lakehouse.partitions": len(parts),
            "sources.lakehouse.table_mb": size / MB,
        })
        out.update(self.bulk_probe())
        return out

    def bulk_probe(self) -> dict:
        """Per-row cost of the ingest layers, from extra actions on a
        JVM-generated frame of PROBE_EVENTS events (not spans of the
        end-to-end path): growing prefixes of the ingest plan written
        to the noop sink — validate→enrich→route, then with
        ``to_avro_col`` — and ``decode_events`` over the bus the full
        plan published."""
        from pyspark.sql import functions as F

        from eventsgateway_spark.gateway import ingest
        from eventsgateway_spark.operators import transforms
        from eventsgateway_spark.sources.avro_codec import to_avro_col
        from eventsgateway_spark.sources.kafka import FileBus
        from eventsgateway_spark.streaming.pipeline import decode_events

        n = F.col("id")
        digest = F.md5(n.cast("string"))
        wire = self.spark.range(PROBE_EVENTS, numPartitions=4).select(
            F.concat(F.lit(f"p{self.seed}-"), n).alias("id"),
            F.lit("load test event").alias("name"),
            F.lit(DEFAULT_TOPIC).alias("topic"),
            F.map_from_arrays(
                F.array(*[F.concat(F.lit(f"k{i}-"), digest) for i in range(PAIRS)]),
                F.array(*[F.concat(F.lit(f"v{i}-"), digest) for i in range(PAIRS)]),
            ).alias("props"),
            (F.lit(BASE_TS) + n * 1000).alias("timestamp"),
        )

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        valid, _ = transforms.validate(wire)
        routed = transforms.route_topic(transforms.enrich(valid))
        transforms_s = timed(routed)
        encode_s = timed(routed.withColumn("value", to_avro_col(self.spark)))
        t0 = time.perf_counter()
        res = ingest(self.spark, wire)
        plan_ms = (time.perf_counter() - t0) * 1000
        bus = FileBus(self.spark, os.path.join(self.run_dir, "probe"))
        bus.produce(res.payloads)
        return {
            "gateway.ingest_ms": plan_ms,
            "operators.transforms.s": transforms_s,
            "sources.avro_codec.encode_s": encode_s - transforms_s,
            "sources.avro_codec.decode_s": timed(
                decode_events(self.spark, bus.consume_batch())),
        }
