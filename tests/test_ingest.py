"""Unit tier — ingest transforms P1-P6 + Avro round-trip (mirrors the
reference's client_test.go field assertions and server_test.go
serialize→deserialize round-trip, SURVEY §5)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from eventsgateway_spark.gateway import Gateway
from eventsgateway_spark.schemas import WIRE_EVENT_SCHEMA
from eventsgateway_spark.sources.avro_codec import decode_event, encode_event


def test_avro_roundtrip_pure():
    rec = {
        "id": "abc-123",
        "name": "test-event",
        "props": {"prop1": "val1", "prop2": "val2"},
        "serverTimestamp": 1700000000123,
        "clientTimestamp": 1699999999456,
    }
    raw = encode_event(rec["id"], rec["name"], rec["props"], rec["serverTimestamp"], rec["clientTimestamp"])
    assert decode_event(raw) == rec


def test_avro_roundtrip_empty_props_and_unicode():
    raw = encode_event("x", "évènt-ünïcode", {}, 0, -5)
    back = decode_event(raw)
    assert back["props"] == {} and back["name"] == "évènt-ünïcode"
    assert back["serverTimestamp"] == 0 and back["clientTimestamp"] == -5


def test_gateway_happy_path(spark):
    gw = Gateway(spark, default_topic="sv-test")
    gw.send("test-event", {"prop1": "val1", "prop2": "val2"})
    gw.send_to_topic("other-event", "special", {"k": "v"})
    res = gw.ingest()
    rows = res.payloads.collect()
    assert {r["topic"] for r in rows} == {"sv-uploads-sv-test", "sv-uploads-special"}
    assert res.quarantine.count() == 0 and res.oversized.count() == 0
    # decode one payload and check enrichment: serverTimestamp ≈ now
    # (the reference asserts ±100ms, client_test.go:93; we allow spark latency)
    rec = decode_event(bytes(rows[0]["value"]))
    assert abs(rec["serverTimestamp"] - time.time() * 1000) < 60_000
    assert rec["props"] in ({"prop1": "val1", "prop2": "val2"}, {"k": "v"})


def test_validation_rejects(spark):
    """Reject vectors from server/app/server_test.go:52-108: missing
    id / topic / name / timestamp==0."""
    rows = [
        ("", "n", "t", {}, 1),          # missing id
        ("i", "n", "", {}, 1),          # missing topic
        ("i", "", "t", {}, 1),          # missing name
        ("i", "n", "t", {}, 0),         # zero timestamp
        ("ok", "n", "t", {}, 123),      # valid
    ]
    df = spark.createDataFrame(rows, WIRE_EVENT_SCHEMA)
    from eventsgateway_spark.gateway import ingest

    res = ingest(spark, df)
    assert res.payloads.count() == 1
    bad = {r["reject_reason"] for r in res.quarantine.collect()}
    assert bad == {"missing_id", "missing_topic", "missing_name", "missing_timestamp"}


def test_size_limit_reject(spark):
    """server_test.go:168-200: a 30,001-char prop with maxMessageBytes
    30,000 is rejected; a small event passes."""
    rows = [
        ("big", "n", "t", {"p": "a" * 30_001}, 1),
        ("small", "n", "t", {"p": "a"}, 1),
    ]
    df = spark.createDataFrame(rows, WIRE_EVENT_SCHEMA)
    from eventsgateway_spark.gateway import ingest

    res = ingest(spark, df, max_message_bytes=30_000)
    assert [r["id"] for r in res.oversized.select("id").collect()] == ["big"]
    assert res.payloads.count() == 1


def test_ingest_payloads_encode_once(spark):
    """The size check filters on the encoded bytes, and that filter
    must not be pushed through the projection computing them: the
    payloads plan calls the JVM Avro encode exactly once and starts
    no Python worker, and the size verdict still holds."""
    from eventsgateway_spark.gateway import ingest

    rows = [
        ("big", "n", "t", {"p": "a" * 30_001}, 1),
        ("small", "n", "t", {"p": "a"}, 1),
    ]
    res = ingest(spark, spark.createDataFrame(rows, WIRE_EVENT_SCHEMA),
                 max_message_bytes=30_000)
    plan = res.payloads._jdf.queryExecution().executedPlan().toString()
    assert plan.count("EvalPython") == 0, plan
    assert plan.count("egw_avro_encode(") == 1, plan
    assert [decode_event(bytes(r["value"]))["id"] for r in res.payloads.collect()] == [
        "small"
    ]


def test_ingest_failure_report(spark):
    """C4 observability analog (server/app/server.go:59-65): a mixed
    batch reports accepted + per-reason reject counts."""
    rows = [
        ("", "n", "t", {}, 1),                      # missing_id
        ("i2", "n", "", {}, 1),                     # missing_topic
        ("i3", "n", "", {}, 1),                     # missing_topic
        ("i4", "n", "t", {}, 0),                    # missing_timestamp
        ("big", "n", "t", {"p": "a" * 30_001}, 1),  # too_large
        ("ok1", "n", "t", {}, 123),
        ("ok2", "n", "t", {}, 124),
    ]
    df = spark.createDataFrame(rows, WIRE_EVENT_SCHEMA)
    from eventsgateway_spark.gateway import ingest

    res = ingest(spark, df, max_message_bytes=30_000)
    assert res.report() == {
        "accepted": 2,
        "missing_id": 1,
        "missing_topic": 2,
        "missing_timestamp": 1,
        "too_large": 1,
    }


def test_one_reject_rule_for_both_entry_points(spark):
    """gateway.ingest's side-outputs and ingest_events' failure reasons
    come from one reject rule: the same rows get the same reason per
    event, the first failed check names it (an empty id with a zero
    timestamp is missing_id), and the size boundary is strict (max-1
    encoded bytes accepted, max rejected). A NULL prop value is
    rejected before the encode."""
    from eventsgateway_spark.gateway import ingest, local_frame
    from eventsgateway_spark.ingest_http import (
        _HTTP_WIRE_SCHEMA,
        _wire_rows,
        ingest_events,
    )

    ts = 1_690_000_000_000
    ok = {"id": "ok", "name": "n", "topic": "t", "props": {"k": "v"}, "timestamp": ts}
    events = [
        ok,
        {**ok, "id": "", "timestamp": 0},
        {**ok, "topic": None},
        {**ok, "name": ""},
        {**ok, "timestamp": None},
        {**ok, "id": "fits", "props": {"big": "x" * 200}},
        {**ok, "id": "over", "props": {"big": "x" * 201}},
    ]
    max_bytes = 1 + len(
        encode_event("fits", "n", {"big": "x" * 200}, int(time.time() * 1000), ts)
    )
    expected = {
        1: "missing_id",
        2: "missing_topic",
        3: "missing_name",
        4: "missing_timestamp",
        6: "too_large",
    }

    _, by_request = ingest_events(spark, events, max_message_bytes=max_bytes)
    rows, _ = _wire_rows(events)
    res = ingest(spark, local_frame(spark, rows, _HTTP_WIRE_SCHEMA), max_bytes)
    by_gateway = {
        r["_idx"]: r["reject_reason"]
        for side in (res.quarantine, res.oversized)
        for r in side.select("_idx", "reject_reason").collect()
    }
    assert by_request == expected
    assert by_gateway == expected
    assert sorted(decode_event(bytes(r["value"]))["id"]
                  for r in res.payloads.collect()) == ["fits", "ok"]

    # A NULL prop value cannot be Avro-encoded: the reject reason guards
    # the encode, so an event that is also over the size limit reports
    # null_prop_value, not too_large, and the batch runs. (ingest_events
    # turns a JSON null prop into the string "null", so this case only
    # reaches the pipeline through a wire frame.)
    rows = [
        ("npv", "n", "t", {"big": "a" * 30_001, "k": None}, 1),
        ("big", "n", "t", {"p": "a" * 30_001}, 1),
        ("ok", "n", "t", {"p": "a"}, 1),
    ]
    res = ingest(spark, local_frame(spark, rows, WIRE_EVENT_SCHEMA),
                 max_message_bytes=30_000)
    assert res.report() == {"accepted": 1, "null_prop_value": 1, "too_large": 1}
    assert [r["id"] for r in res.quarantine.collect()] == ["npv"]


def test_date_partition_derivation(spark):
    """P4 — .ipynb:103-106 semantics: partitions from client event time."""
    from eventsgateway_spark.operators.transforms import derive_date_partitions

    df = spark.createDataFrame(
        [("a", 1704067200000,)], "id string, clientTimestamp long"  # 2024-01-01 UTC
    )
    row = derive_date_partitions(df).collect()[0]
    assert (row["year"], row["month"], row["day"]) == ("2024", "01", "01")


def test_observe_ingest_counters(spark):
    """A4 observe() path: counters ride the ingest plan itself — no
    second scan — and report the same numbers a separate aggregation
    would."""
    from eventsgateway_spark.gateway import Gateway
    from eventsgateway_spark.operators.metrics import observed_payloads

    gw = Gateway(spark, default_topic="g")
    for i in range(5):
        gw.send_at("evt", 1704067200000 + i, {"k": str(i)})
    payloads = gw.ingest().payloads
    observed, obs = observed_payloads(payloads)
    rows = observed.collect()  # first action materializes the observation
    m = obs.get
    assert m["n_events"] == 5 == len(rows)
    assert m["payload_bytes"] == sum(len(r["value"]) for r in rows)
    assert m["approx_topics"] >= 1


def test_kafka_produce_consume_roundtrip(spark):
    """Integration tier against a REAL broker, mirroring the
    reference's produce→consume→match loop (client/sync_int_test.go:
    66-100, consumer at testing/consumer.go:36-56). Skipped when the
    sandbox has no Kafka connector or no reachable broker — the point
    is that the `write_payloads_kafka` path is exercised, not dead,
    wherever a broker exists (KAFKA_BOOTSTRAP overrides the default
    localhost:9092)."""
    import os
    import uuid as _uuid

    import pytest

    from eventsgateway_spark.sources.kafka import (
        kafka_available,
        kafka_broker_reachable,
        read_payloads_kafka,
        write_payloads_kafka,
    )

    bootstrap = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
    if not kafka_available(spark):
        pytest.skip("spark-sql-kafka connector not on the classpath")
    if not kafka_broker_reachable(bootstrap):
        pytest.skip(f"no Kafka broker reachable at {bootstrap}")

    topic = f"sv-int-{_uuid.uuid4().hex[:8]}"
    gw = Gateway(spark, default_topic=topic)
    sent_id = gw.send("integration-event", {"prop1": "val1"})
    write_payloads_kafka(gw.ingest().payloads, bootstrap)

    back = read_payloads_kafka(spark, bootstrap, f"sv-uploads-{topic}").collect()
    assert len(back) == 1
    rec = decode_event(bytes(back[0]["value"]))
    assert rec["id"] == sent_id and rec["name"] == "integration-event"
    assert rec["props"] == {"prop1": "val1"}


def test_gateway_drain_chunks_oversized_buffer(spark, monkeypatch):
    """drain() recovers a buffer that outran the single-flush ceiling:
    waves of <= MAX_FLUSH_ROWS, every event delivered exactly once,
    buffer empty afterwards; flush() on the same buffer would raise."""
    import pytest

    from eventsgateway_spark.gateway import Gateway

    gw = Gateway(spark, default_topic="t")
    monkeypatch.setattr(Gateway, "MAX_FLUSH_ROWS", 3)
    for i in range(8):
        gw.send(f"ev{i}", {"k": str(i)})
    with pytest.raises(ValueError, match="MAX_FLUSH_ROWS"):
        gw.flush()
    assert len(gw._buffer) == 8  # the guard must not eat the buffer
    waves = [res.payloads.count() for res in gw.drain()]
    assert waves == [3, 3, 2]
    assert gw._buffer == []


def test_filebus_concurrent_produce_loses_nothing(spark, tmp_path):
    """ADVICE r6: parallel produce() calls — the multi-session hazard
    was two writers racing the shared _temporary committer dir. The
    staging+rename design must land every row with no lock, and the
    in-flight staging dirs must stay invisible to readers."""
    import threading

    from eventsgateway_spark.sources.kafka import FileBus

    root = str(tmp_path / "bus")
    bus = FileBus(spark, root)

    def _produce(tag: str) -> None:
        rows = [(f"t-{tag}", f"k{i}", bytearray(b"v")) for i in range(50)]
        df = spark.createDataFrame(
            rows, "topic string, key string, value binary"
        )
        FileBus(spark, root).produce(df)

    threads = [
        threading.Thread(target=_produce, args=(str(i),)) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    got = bus.consume_batch()
    assert got.count() == 200
    assert got.groupBy("topic").count().count() == 4
    # no staging debris left behind, nothing hidden from the reader
    import os

    assert not [d for d in os.listdir(root) if d.startswith(".staging")]
