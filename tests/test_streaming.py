"""Integration tier — produce → bus → streaming ETL → partitioned table
→ query (mirrors the reference's client→server→Kafka→consumer round
trip, client/sync_int_test.go:66-100), plus windowed aggregation,
watermark late-data, and stateful dedup semantics on deterministic
event-time fixtures (FIXTURES.md §3 — never wall-clock; the reference's
SendAtTime hook, client/client.go:203-220, is the pattern)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from eventsgateway_spark.gateway import Gateway
from eventsgateway_spark.sources.kafka import FileBus
from eventsgateway_spark.sources.lakehouse import read_events_table
from eventsgateway_spark.streaming.pipeline import decode_events, run_etl
from eventsgateway_spark.streaming import windows as SW
from eventsgateway_spark.streaming.dedup import dedup_by_id
from tests.conftest import SF_ORACLE
from tests.test_ingest_http import _group_counts

T0 = 1704067200000  # 2024-01-01 00:00:00 UTC


def _mins(m: float) -> int:
    return T0 + int(m * 60_000)


def test_end_to_end_ingest_etl_query(spark, tmp_path):
    """Produce 3 events (one to an overridden topic) → FileBus →
    streaming ETL (availableNow) → partitioned parquet → SQL query."""
    gw = Gateway(spark, default_topic="game1")
    gw.send_at("session_start", _mins(0), {"messageID": "m1"})
    gw.send_at("purchase", _mins(1), {"messageID": "m2"})
    gw.send_at("session_start", _mins(2), {"messageID": "m3"}, topic="game2")
    res = gw.ingest()

    bus = FileBus(spark, str(tmp_path / "bus"))
    bus.produce(res.payloads)

    table = str(tmp_path / "events_table")
    q = run_etl(spark, bus.consume_stream(), table, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    out = read_events_table(spark, table)
    assert out.count() == 3
    assert set(out.columns) >= {"id", "name", "props", "clienttimestamp", "servertimestamp", "year", "month", "day"}
    # partition landed by *client* event time
    assert {(r["year"], r["month"], r["day"]) for r in out.select("year", "month", "day").collect()} == {("2024", "01", "01")}
    # props survive the Avro hop
    got = {r["props"]["messageID"] for r in out.select("props").collect()}
    assert got == {"m1", "m2", "m3"}
    # topic was consumed for routing and dropped from storage (S5 semantics)
    assert "topic" not in out.columns


def _publish_rpcs(spark, bus: FileBus, k: int) -> int:
    """Publish ``k`` 50-event SendEvents requests to ``bus`` (one part
    file each, as the serving path writes them); event i of every
    request lands on day i % 25. Returns the number of events."""
    from eventsgateway_spark.ingest_http import ingest_events

    for r in range(k):
        events = [
            {"id": f"r{r}-{i}", "name": "match_started", "topic": "t",
             "props": {"i": str(i)}, "timestamp": T0 + (i % 25) * 86_400_000 + i}
            for i in range(50)
        ]
        assert ingest_events(spark, events, bus.produce)[0] == []
    return 50 * k


def _part_files(root: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, files in os.walk(root)
        for f in files
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def test_small_bus_files_read_as_one_split(spark, tmp_path):
    """File-scan splits follow bytes, not cores: the bus files of four
    RPCs (~10 KB each, far under the 128 MiB split) are one task,
    whatever local[N] the session runs."""
    bus = FileBus(spark, str(tmp_path / "bus"))
    _publish_rpcs(spark, bus, 4)
    assert len(_part_files(bus.root)) == 4
    assert bus.consume_batch().rdd.getNumPartitions() == 1


def test_split_rule_is_a_floor_not_a_cap(spark, tmp_path):
    """Packing small files into one split must not cap the width of a
    large input: with a 64 KiB split target and no open cost, files
    totalling more than N targets read as at least N partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = 64 << 10
    src = tmp_path / "wide"
    src.mkdir()
    for f in range(4):  # ~100 KiB of incompressible bytes per file
        blobs = pa.table({"b": [os.urandom(1024) for _ in range(100)]})
        pq.write_table(blobs, str(src / f"part-{f}.parquet"), compression="none")
    total = sum(os.path.getsize(p) for p in _part_files(str(src)))

    session = spark.newSession()
    assert session.conf.get("spark.sql.files.minPartitionNum") == "1"
    session.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    session.conf.set("spark.sql.files.openCostInBytes", "0")
    n = total // target
    assert n >= 6
    assert session.read.parquet(str(src)).rdd.getNumPartitions() >= n


def test_etl_micro_batch_is_one_task_one_file_per_day(spark, tmp_path):
    """A micro-batch of four RPC files is one Spark task: the Avro
    decode is a JVM expression (no Python eval node in its plan), and
    each year/month/day directory gets one part file, not one per bus
    file."""
    bus = FileBus(spark, str(tmp_path / "bus"))
    n_events = _publish_rpcs(spark, bus, 4)
    decode_plan = (
        decode_events(spark, bus.consume_batch())
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "egw_avro_decode(" in decode_plan, decode_plan
    assert "EvalPython" not in decode_plan, decode_plan
    table = str(tmp_path / "events_table")
    q = run_etl(
        spark,
        bus.consume_stream(max_files_per_trigger=4),
        table,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [
        n_events
    ]
    _, tasks = _group_counts(spark, str(q.runId))  # the stream's job group
    assert tasks == 1
    day_dirs = {os.path.dirname(p) for p in _part_files(table)}
    assert len(day_dirs) == 25
    assert len(_part_files(table)) == len(day_dirs)
    assert read_events_table(spark, table).count() == n_events


def test_tumbling_window_counts_batch_streaming_parity(spark, tmp_path):
    rows = [
        ("a", "click", _mins(1)),
        ("b", "click", _mins(4)),
        ("c", "click", _mins(11)),
        ("d", "view", _mins(12)),
    ]
    df = spark.createDataFrame(rows, "id string, name string, clienttimestamp long")
    batch = SW.tumbling_counts(SW.with_event_time(df), ["name"]).collect()
    by_key = {(str(r["window_start"]), r["name"]): r["n"] for r in batch}
    assert by_key[("2024-01-01 00:00:00", "click")] == 2
    assert by_key[("2024-01-01 00:10:00", "click")] == 1
    assert by_key[("2024-01-01 00:10:00", "view")] == 1

    # same logical plan over a stream → same result
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = SW.tumbling_counts(SW.with_event_time(stream), ["name"])
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    srows = spark.sql("select * from tumbling_test").collect()
    assert {(str(r["window_start"]), r["name"], r["n"]) for r in srows} == {
        (str(r["window_start"]), r["name"], r["n"]) for r in batch
    }


def test_session_window_gap(spark):
    """FIXTURES.md §3: events 1 min apart, then a 31-min gap → 2 sessions."""
    rows = [("u1", _mins(0)), ("u1", _mins(1)), ("u1", _mins(2)), ("u1", _mins(33)), ("u2", _mins(0))]
    df = spark.createDataFrame(rows, "user string, clienttimestamp long")
    out = SW.session_counts(SW.with_event_time(df), ["user"], gap="30 minutes").collect()
    u1 = sorted([r for r in out if r["user"] == "u1"], key=lambda r: r["session_start"])
    assert len(u1) == 2 and u1[0]["n"] == 3 and u1[1]["n"] == 1
    assert len([r for r in out if r["user"] == "u2"]) == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate ids within and across micro-batches collapse to one
    (Q15); ids are the retry-duplicate pattern of client/async.go."""
    src = str(tmp_path / "dup_src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [("e1", "click", _mins(0)), ("e1", "click", _mins(0)), ("e2", "view", _mins(1))],
        "id string, name string, clienttimestamp long",
    )
    b2 = spark.createDataFrame(
        [("e2", "view", _mins(1)), ("e3", "click", _mins(2))],
        "id string, name string, clienttimestamp long",
    )
    b1.write.mode("append").parquet(src)
    b2.write.mode("append").parquet(src)

    stream = spark.readStream.schema(b1.schema).parquet(src)
    deduped = dedup_by_id(SW.with_event_time(stream))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select id from dedup_test").collect()
    assert sorted(r["id"] for r in out) == ["e1", "e2", "e3"]


def test_watermark_drops_late_event(spark, tmp_path):
    """Watermark semantics, deterministic via sequential availableNow
    runs over one checkpoint (each run = one observed batch):

    run 1: events at t=1min and t=40min → watermark after run = 30min.
    run 2: a 31-min-late event (t=9, below watermark → DROPPED) and a
           9-min-late one (t=31, above watermark → accepted).
    run 3: t=61min pushes the watermark → finalizes remaining windows.
    """
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src)
    schema = "id string, name string, clienttimestamp long"

    sink = str(tmp_path / "late_sink")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        agg = SW.tumbling_counts(SW.with_event_time(stream), ["name"], window="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch([("a", "click", _mins(1)), ("b", "click", _mins(40))])
    run_batch([("late_out", "click", _mins(9)), ("late_in", "click", _mins(31))])
    run_batch([("c", "click", _mins(61))])

    out = spark.read.parquet(sink).collect()
    counts = {str(r["window_start"]): r["n"] for r in out}
    assert counts.get("2024-01-01 00:00:00") == 1  # late_out dropped
    assert counts.get("2024-01-01 00:30:00") == 1  # late_in accepted
    assert counts.get("2024-01-01 00:40:00") == 1  # b finalized


def test_sliding_window_counts(spark):
    """Sliding 10-min/5-min windows: an event at t=7min belongs to the
    [0,10) and [5,15) windows."""
    rows = [("a", "click", _mins(7)), ("b", "click", _mins(12))]
    df = spark.createDataFrame(rows, "id string, name string, clienttimestamp long")
    out = SW.sliding_counts(SW.with_event_time(df), ["name"]).collect()
    counts = {str(r["window_start"]): r["n"] for r in out}
    assert counts == {
        "2024-01-01 00:00:00": 1,  # a
        "2024-01-01 00:05:00": 2,  # a + b
        "2024-01-01 00:10:00": 1,  # b
    }


def test_last_value_gauge(spark):
    """A3 — gauge keeps the latest value per key by event time,
    independent of row order (metrics/metrics.go:69-76 semantics)."""
    rows = [
        ("t1", 5.0, _mins(2)),
        ("t1", 9.0, _mins(1)),   # older, must lose despite larger value
        ("t2", 1.0, _mins(0)),
        ("t2", 3.0, _mins(4)),
    ]
    df = spark.createDataFrame(rows, "topic string, fill double, clienttimestamp long")
    out = {
        r["topic"]: (r["last_value"], str(r["as_of"]))
        for r in SW.last_value_gauge(
            SW.with_event_time(df), ["topic"], "fill"
        ).collect()
    }
    assert out["t1"] == (5.0, "2024-01-01 00:02:00")
    assert out["t2"] == (3.0, "2024-01-01 00:04:00")


def test_streaming_interval_join(spark, tmp_path):
    """Q5 streaming: purchases joined to views within the preceding
    10 minutes, stream-stream with watermarks (bounded state)."""
    from eventsgateway_spark.operators.asof import interval_join_cond

    pdir, vdir = str(tmp_path / "p"), str(tmp_path / "v")
    schema = "user string, id string, clienttimestamp long"
    spark.createDataFrame(
        [("u1", "p1", _mins(15)), ("u2", "p2", _mins(20))], schema
    ).write.parquet(pdir)
    spark.createDataFrame(
        [("u1", "v1", _mins(8)),    # 7 min before p1 → joins
         ("u1", "v2", _mins(1)),    # 14 min before p1 → outside range
         ("u2", "v3", _mins(20))],  # same instant as p2 → joins
        schema,
    ).write.parquet(vdir)

    p = SW.with_event_time(spark.readStream.schema(schema).parquet(pdir)).select(
        F.col("user").alias("p_user"), F.col("id").alias("p_id"),
        F.col("event_time").alias("p_time"),
    ).withWatermark("p_time", "10 minutes")
    v = SW.with_event_time(spark.readStream.schema(schema).parquet(vdir)).select(
        F.col("user").alias("v_user"), F.col("id").alias("v_id"),
        F.col("event_time").alias("v_time"),
    ).withWatermark("v_time", "10 minutes")

    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & interval_join_cond(F.col("p_time"), F.col("v_time"), "10 minutes", "0 seconds"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["p_id"], r["v_id"]) for r in spark.sql("select * from interval_join_test").collect()}
    assert got == {("p1", "v1"), ("p2", "v3")}


def test_etl_metrics_fanout(spark, tmp_path):
    """A4 — one decoded stream feeds two sinks per micro-batch: the
    events table and a metrics (count-by-name) side output."""
    from eventsgateway_spark.streaming.pipeline import run_etl_with_metrics

    gw = Gateway(spark, default_topic="game1")
    gw.send_at("session_start", _mins(0), {})
    gw.send_at("session_start", _mins(1), {})
    gw.send_at("purchase", _mins(2), {})
    bus = FileBus(spark, str(tmp_path / "bus"))
    bus.produce(gw.ingest().payloads)

    table = str(tmp_path / "tbl")
    metrics = str(tmp_path / "metrics")
    q = run_etl_with_metrics(
        spark, bus.consume_stream(), table, metrics, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    assert spark.read.parquet(table).count() == 3
    got = {
        r["name"]: r["n"] for r in spark.read.parquet(metrics).collect()
    }
    assert got == {"session_start": 2, "purchase": 1}
    # both sinks are batch_id-partitioned (the idempotent-replay
    # layout: a redelivered batch rewrites its partition, never appends)
    assert os.path.isdir(os.path.join(table, "batch_id=0"))
    assert os.path.isdir(os.path.join(metrics, "batch_id=0"))
    # re-running over the same checkpoint adds nothing
    q2 = run_etl_with_metrics(
        spark, bus.consume_stream(), table, metrics, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(table).count() == 3


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState carries exact per-key state across
    micro-batches: two sequential availableNow runs over one checkpoint
    must produce cumulative totals in the second run."""
    from eventsgateway_spark.streaming.stateful import running_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "key string, value double"
    run_no = 0

    def run_batch(rows, name):
        nonlocal run_no
        run_no += 1
        sink = str(tmp_path / f"sink{run_no}")

        def save(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            running_totals(stream)
            .writeStream.foreachBatch(save)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["key"]: r for r in spark.read.parquet(sink).collect()}

    out1 = run_batch([("a", 1.0), ("a", 2.0), ("b", 5.0)], "state_run1")
    assert out1["a"]["total_events"] == 2 and out1["a"]["total_value"] == 3.0
    assert out1["b"]["total_events"] == 1

    out2 = run_batch([("a", 10.0), ("c", 7.0)], "state_run2")
    assert out2["a"]["batch_events"] == 1
    assert out2["a"]["total_events"] == 3 and out2["a"]["total_value"] == 13.0
    assert out2["c"]["total_events"] == 1 and out2["c"]["total_value"] == 7.0


def test_streaming_upsert_merges_and_replays_idempotently(spark, tmp_path):
    """Upsert sink (streaming/upsert.py): newest row per id wins across
    micro-batches; only touched date partitions are rewritten; and
    re-merging an already-applied batch (crash-replay) leaves the table
    unchanged."""
    from eventsgateway_spark.streaming.upsert import merge_batch, upsert_events_stream

    schema = "id string, name string, clientTimestamp long, serverTimestamp long"
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [
            ("a", "signup", _mins(0), _mins(0)),
            ("b", "click", _mins(1), _mins(1)),
            ("c", "click", T0 + 86_400_000, T0 + 86_400_000),  # next day
        ],
        schema,
    )
    b1.write.mode("overwrite").parquet(src)
    q = upsert_events_stream(
        spark.readStream.schema(b1.schema).parquet(src), tbl, ckpt, trigger_once=True
    )
    q.awaitTermination(120)

    # batch 2: update id=b (newer serverTimestamp), insert id=d
    b2 = spark.createDataFrame(
        [
            ("b", "click_v2", _mins(1), _mins(9)),
            ("d", "error", _mins(2), _mins(2)),
        ],
        schema,
    )
    b2.write.mode("append").parquet(src)
    q = upsert_events_stream(
        spark.readStream.schema(b1.schema).parquet(src), tbl, ckpt, trigger_once=True
    )
    q.awaitTermination(120)

    got = {
        r["id"]: (r["name"], r["serverTimestamp"])
        for r in read_events_table(spark, tbl).collect()
    }
    assert got == {
        "a": ("signup", _mins(0)),
        "b": ("click_v2", _mins(9)),  # updated, not duplicated
        "c": ("click", T0 + 86_400_000),
        "d": ("error", _mins(2)),
    }

    # crash-replay: merging batch 2 again must be a no-op
    merge_batch(spark, b2, tbl)
    replay = {
        r["id"]: (r["name"], r["serverTimestamp"])
        for r in read_events_table(spark, tbl).collect()
    }
    assert replay == got
    # older row for an existing id must NOT win
    merge_batch(
        spark,
        spark.createDataFrame([("b", "stale", _mins(1), _mins(3))], schema),
        tbl,
    )
    assert {
        r["id"]: r["name"] for r in read_events_table(spark, tbl).collect()
    }["b"] == "click_v2"
    # exact (order_col, tiebreak) tie: the SOURCE row beats the
    # incumbent — same rule as the Delta MERGE path's `s.x >= t.x`
    # condition, so the two sinks agree on ties (ADVICE r7). Same
    # serverTimestamp and name as the stored b row, different props
    # column (clientTimestamp here): the new row must land.
    merge_batch(
        spark,
        spark.createDataFrame([("b", "click_v2", _mins(7), _mins(9))], schema),
        tbl,
    )
    assert {
        r["id"]: r["clientTimestamp"]
        for r in read_events_table(spark, tbl).collect()
    }["b"] == _mins(7)


def test_compact_partition_shrinks_files_keeps_rows(spark, tmp_path):
    """Compaction (Delta OPTIMIZE analog): many small appends into one
    date partition collapse to few files; rows, values, and the other
    partition are untouched."""
    import os

    from eventsgateway_spark.sources.lakehouse import (
        compact_partition,
        write_events_batch,
    )

    schema = "id string, name string, clientTimestamp long"
    tbl = str(tmp_path / "tbl")
    # 6 separate appends -> many small files in day 01; one append in day 02
    for k in range(6):
        write_events_batch(
            spark.createDataFrame(
                [(f"d1-{k}-{i}", f"ev{i % 3}", T0 + i) for i in range(10)], schema
            ),
            tbl,
        )
    write_events_batch(
        spark.createDataFrame(
            [(f"d2-{i}", "ev0", T0 + 86_400_000 + i) for i in range(5)], schema
        ),
        tbl,
    )
    p1 = os.path.join(tbl, "year=2024", "month=01", "day=01")
    before = len([f for f in os.listdir(p1) if f.endswith(".parquet")])
    assert before >= 6

    n_after = compact_partition(spark, tbl, "2024", "01", "01")
    assert n_after == 1  # tiny partition -> single target-size file
    got = read_events_table(spark, tbl)
    assert got.filter(F.col("day") == "01").count() == 60
    assert got.filter(F.col("day") == "02").count() == 5
    assert got.select("id").distinct().count() == 65


def test_compact_partition_orc(spark, tmp_path):
    """Compaction must work on the ORC layout too (the reference's
    at-rest format) — same file-count collapse, same row preservation."""
    import os

    from eventsgateway_spark.sources.lakehouse import (
        compact_partition,
        write_events_batch,
    )

    schema = "id string, name string, clientTimestamp long"
    tbl = str(tmp_path / "tbl_orc")
    for k in range(4):
        write_events_batch(
            spark.createDataFrame(
                [(f"d1-{k}-{i}", f"ev{i % 3}", T0 + i) for i in range(10)], schema
            ),
            tbl,
            fmt="orc",
        )
    p1 = os.path.join(tbl, "year=2024", "month=01", "day=01")
    assert len([f for f in os.listdir(p1) if f.endswith(".orc")]) >= 4

    n_after = compact_partition(spark, tbl, "2024", "01", "01", fmt="orc")
    assert n_after == 1
    got = read_events_table(spark, tbl, fmt="orc")
    assert got.count() == 40
    assert got.select("id").distinct().count() == 40


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithState (arbitrary-stateful v2, RocksDB state store)
    must carry the same cumulative per-key state across sequential
    availableNow runs as the applyInPandasWithState operator.

    The v2 API's Python worker speaks protobuf to the state server;
    without the google.protobuf package (absent in this container) the
    operator cannot run, so the test skips — the gated operator is
    exercised on any cluster image that ships protobuf."""
    pytest.importorskip(
        "google.protobuf", reason="transformWithState needs python protobuf"
    )
    from eventsgateway_spark.streaming.stateful import running_totals_tws

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "key string, value double"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    run_no = 0

    def run_batch(rows):
        nonlocal run_no
        run_no += 1
        sink = str(tmp_path / f"sink{run_no}")

        def save(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            src
        )
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            running_totals_tws(stream)
            .writeStream.foreachBatch(save)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["key"]: r for r in spark.read.parquet(sink).collect()}

    try:
        out1 = run_batch([("a", 1.0), ("a", 2.0), ("b", 5.0)])
        assert out1["a"]["total_events"] == 2 and out1["a"]["total_value"] == 3.0
        out2 = run_batch([("a", 4.0), ("c", 7.0)])
        assert out2["a"]["total_events"] == 3 and out2["a"]["total_value"] == 7.0
        assert out2["c"]["total_events"] == 1 and out2["c"]["total_value"] == 7.0
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming event source enriched by a
    broadcast static dimension (game metadata) — no stream-side state,
    no watermark needed; the static side re-broadcasts per micro-batch.
    The production enrichment shape for dims too small to shuffle."""
    src = str(tmp_path / "src")
    schema = "id string, name string, game string, value double"
    spark.createDataFrame(
        [
            ("e1", "click", "g1", 1.0),
            ("e2", "click", "g2", 2.0),
            ("e3", "error", "g3", 3.0),  # g3 absent from dim -> left join null
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(src)

    dim = spark.createDataFrame(
        [("g1", "puzzle", "NA"), ("g2", "racer", "EU")],
        "game string, genre string, region string",
    )
    stream = spark.readStream.schema(schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "game", "left")

    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: (r["genre"], r["region"]) for r in spark.sql(
        "select * from enrich_test"
    ).collect()}
    assert got == {
        "e1": ("puzzle", "NA"),
        "e2": ("racer", "EU"),
        "e3": (None, None),
    }


def test_stream_dedup_against_corpus(spark, tmp_path):
    """Streaming corpus dedup: a micro-batch is Jaccard-checked against
    a static corpus index built once; near-copies route to the dup sink
    with match evidence, novel docs to the corpus sink."""
    from eventsgateway_spark.streaming.near_dup import stream_dedup_against_corpus

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "spark shuffles partitions across executors during wide joins"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            # near-copy of corpus doc 0 (one trailing word changed)
            (100, "the quick brown fox jumps over the lazy dog again and once"),
            # novel
            (101, "completely unrelated words about cooking pasta with basil"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    incoming.coalesce(1).write.parquet(src)

    q = stream_dedup_against_corpus(
        spark.readStream.schema(incoming.schema).parquet(src),
        corpus,
        novel_path=str(tmp_path / "novel"),
        dup_path=str(tmp_path / "dups"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.5,
        trigger_once=True,
    )
    q.awaitTermination(120)

    dups = spark.read.parquet(str(tmp_path / "dups")).collect()
    novel = spark.read.parquet(str(tmp_path / "novel")).collect()
    assert [(r["doc_id"], r["matched_corpus_id"]) for r in dups] == [(100, 0)]
    assert 0.5 <= dups[0]["jaccard"] < 1.0
    assert [r["doc_id"] for r in novel] == [101]


def test_streaming_ann_lookup_against_ivf_index(spark, tmp_path):
    """Streaming ANN: query vectors answered per micro-batch from an
    IVF index built once over the corpus. An exact copy of a corpus
    vector (searching its own cell) must return that vector as its
    top-1 with cos_sim=1.0."""
    from eventsgateway_spark.streaming.ann_lookup import ann_lookup_stream

    corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # queries: exact copies of corpus vectors 20 and 21, re-keyed
    queries = corpus.filter(F.col("vec_id").isin(20, 21)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    src = str(tmp_path / "q")
    queries.coalesce(1).write.parquet(src)

    q = ann_lookup_stream(
        spark.readStream.schema(queries.schema).parquet(src),
        corpus,
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    top1 = {r["qid"]: (r["neighbor_id"], r["cos_sim"]) for r in out.filter(
        F.col("rn") == 1
    ).collect()}
    assert top1 == {1020: (20, 1.0), 1021: (21, 1.0)}
    assert out.count() == 6  # top-3 per query


def test_stream_dedup_with_table_backed_index(spark, tmp_path):
    """Same routing as the inline-index test, but the corpus index is
    saved/loaded as catalog tables (bucketed on the shingle key) — the
    durable 100 TB form. The per-batch candidate join must read the
    bucket layout directly: no Exchange above the corpus-side scan."""
    from eventsgateway_spark.streaming.near_dup import (
        batch_shingles,
        load_corpus_index,
        save_corpus_index,
        stream_dedup_against_corpus,
    )

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "spark shuffles partitions across executors during wide joins"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog again and once"),
            (101, "completely unrelated words about cooking pasta with basil"),
        ],
        "doc_id long, text string",
    )
    save_corpus_index(corpus, "t7_corpus", buckets=4)
    try:
        idx = load_corpus_index(spark, "t7_corpus")

        # plan audit: bucketed corpus side joins without its own shuffle
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = batch_shingles(incoming).join(
                idx.shingles.withColumnRenamed("doc_id", "corpus_id"), "s"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 1  # batch side only
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        src = str(tmp_path / "src")
        incoming.coalesce(1).write.parquet(src)
        q = stream_dedup_against_corpus(
            spark.readStream.schema(incoming.schema).parquet(src),
            corpus_docs=None,
            novel_path=str(tmp_path / "novel"),
            dup_path=str(tmp_path / "dups"),
            checkpoint=str(tmp_path / "ckpt"),
            threshold=0.5,
            trigger_once=True,
            index=idx,
        )
        q.awaitTermination(120)

        dups = spark.read.parquet(str(tmp_path / "dups")).collect()
        novel = spark.read.parquet(str(tmp_path / "novel")).collect()
        assert [(r["doc_id"], r["matched_corpus_id"]) for r in dups] == [(100, 0)]
        assert [r["doc_id"] for r in novel] == [101]
    finally:
        for t in ("t7_corpus_shingles", "t7_corpus_hot", "t7_corpus_sizes",
                  "t7_corpus_df", "t7_corpus_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_batches_release_checkpoint_blocks(spark, tmp_path):
    """Per-batch localCheckpoints must be RELEASED when a batch's
    sinks complete (ADVICE r8): a long-running stream otherwise
    accumulates every batch's blocks in the BlockManagers until
    driver GC. Run the dedup stream over several single-file
    micro-batches against a table-backed index (no intentional
    in-session pins) and pin that the RDD storage-block census ends
    where it started."""
    from eventsgateway_spark.streaming.near_dup import (
        load_corpus_index,
        save_corpus_index,
        stream_dedup_against_corpus,
    )

    def n_stored_rdds() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    save_corpus_index(corpus, "trel_corpus", buckets=2)
    try:
        idx = load_corpus_index(spark, "trel_corpus")
        src = str(tmp_path / "src")
        for i in range(3):  # one file per micro-batch below
            spark.createDataFrame(
                [(100 + i, f"distinct document number {i} about cooking "
                           "pasta with basil and olive oil tonight")],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").parquet(src)
        before = n_stored_rdds()
        q = stream_dedup_against_corpus(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            corpus_docs=None,
            novel_path=str(tmp_path / "novel"),
            dup_path=str(tmp_path / "dups"),
            checkpoint=str(tmp_path / "ckpt"),
            trigger_once=True,
            index=idx,
        )
        q.awaitTermination(180)
        assert spark.read.parquet(str(tmp_path / "novel")).count() == 3
        after = n_stored_rdds()
        assert after <= before, (
            f"stream leaked {after - before} checkpointed RDDs into the "
            "block manager (released_checkpoints not applied?)"
        )
    finally:
        for t in ("trel_corpus_shingles", "trel_corpus_hot",
                  "trel_corpus_sizes", "trel_corpus_df", "trel_corpus_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_save_tolerates_phantom_meta(spark):
    """A crashed FIRST save can leave ``_meta`` with no data tables;
    a later save with DIFFERENT parameters must clear the phantom and
    proceed — its parameters pin nothing — rather than refuse and
    demand a manual DROP for an index that never existed (ADVICE r8).
    Covers both index families (corpus shingle index, IVF)."""
    from eventsgateway_spark.streaming.ann_lookup import (
        load_ivf_index,
        save_ivf_index,
    )
    from eventsgateway_spark.streaming.near_dup import (
        load_corpus_index,
        save_corpus_index,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        # simulate the crash window: _meta landed, no data table did
        spark.createDataFrame(
            [(5, 99, 8)], "n int, max_df int, buckets int"
        ).write.mode("overwrite").saveAsTable("tpm_corpus_meta")
        save_corpus_index(corpus, "tpm_corpus", buckets=4)  # != 8: no refusal
        assert load_corpus_index(spark, "tpm_corpus").shingles.count() > 0

        spark.createDataFrame([(8,)], "buckets int").write.mode(
            "overwrite"
        ).saveAsTable("tpm_ivf_meta")
        save_ivf_index(emb, "tpm_ivf", buckets=4)
        assert load_ivf_index(spark, "tpm_ivf").assign.count() > 0

        # APPEND on a phantom must fail naming the real state, not
        # with a raw table-not-found on the missing data table
        import pytest

        from eventsgateway_spark.streaming.ann_lookup import append_ivf_index
        from eventsgateway_spark.streaming.near_dup import append_corpus_index

        spark.createDataFrame(
            [(5, 99, 8)], "n int, max_df int, buckets int"
        ).write.mode("overwrite").saveAsTable("tpm2_corpus_meta")
        with pytest.raises(ValueError, match="phantom"):
            append_corpus_index(spark, "tpm2_corpus", corpus)
        spark.createDataFrame([(8,)], "buckets int").write.mode(
            "overwrite"
        ).saveAsTable("tpm2_ivf_meta")
        with pytest.raises(ValueError, match="phantom"):
            append_ivf_index(spark, "tpm2_ivf", emb)

        # HALF-BUILT first save (crash between the _centroids and
        # _assign writes): _meta+_centroids present, _assign missing.
        # Append must refuse naming the state (ADVICE r9), and a
        # re-save — even with different buckets — must clear the
        # remnants and complete rather than refuse an index that never
        # finished building.
        spark.createDataFrame([(8,)], "buckets int").write.mode(
            "overwrite"
        ).saveAsTable("tpm3_ivf_meta")
        spark.createDataFrame(
            [(0, [0.0, 1.0])], "cell_id int, centroid array<double>"
        ).write.mode("overwrite").saveAsTable("tpm3_ivf_centroids")
        with pytest.raises(ValueError, match="phantom|half-built"):
            append_ivf_index(spark, "tpm3_ivf", emb)
        save_ivf_index(emb, "tpm3_ivf", buckets=4)
        assert load_ivf_index(spark, "tpm3_ivf").assign.count() > 0
    finally:
        for t in (
            "tpm_corpus_shingles", "tpm_corpus_hot", "tpm_corpus_sizes",
            "tpm_corpus_df", "tpm_corpus_meta", "tpm_corpus_pending",
            "tpm_corpus_df_fold", "tpm_ivf_assign", "tpm_ivf_centroids",
            "tpm_ivf_meta", "tpm_ivf_occ", "tpm2_corpus_meta",
            "tpm2_ivf_meta", "tpm2_ivf_occ",
            "tpm3_ivf_meta", "tpm3_ivf_centroids", "tpm3_ivf_assign",
            "tpm3_ivf_occ",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_propagate_quality_with_index_matches_batch_q80(spark):
    """Index-backed quality propagation (edges from the saved bucketed
    shingle table) is row-identical to batch q80's direct derivation
    on the same corpus, and an index pinned to a different gram
    universe is refused instead of silently propagating over a
    different graph."""
    import pytest

    from eventsgateway_spark.queries.ext_dedup import quality_propagation
    from eventsgateway_spark.streaming.near_dup import (
        propagate_quality_with_index,
        save_corpus_index,
    )

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 150")
    )
    try:
        save_corpus_index(docs, "pqidx", buckets=4)
        want = [tuple(r) for r in quality_propagation(docs).collect()]
        got = [
            tuple(r)
            for r in propagate_quality_with_index(spark, "pqidx", docs).collect()
        ]
        assert got == want
        assert len(got) == 150
        # different-universe index refused
        save_corpus_index(docs, "pqidx5", n=5, buckets=4)
        with pytest.raises(ValueError, match="gram universe"):
            propagate_quality_with_index(spark, "pqidx5", docs)
        # docs that omit an indexed doc refused (ADVICE r10): the
        # missing doc's edges would leave its neighbors with deg > 0
        # but a NULL contribution sum — silent NULL scores
        with pytest.raises(ValueError, match="omits"):
            propagate_quality_with_index(
                spark, "pqidx", docs.filter("doc_id <> 7")
            )
        # a docs SUPERSET is fine: extra docs are isolated seed-keepers
        extra = docs.sparkSession.createDataFrame(
            [(9_000_001, "entirely novel text never indexed anywhere")],
            "doc_id long, text string",
        )
        sup = [
            tuple(r)
            for r in propagate_quality_with_index(
                spark, "pqidx", docs.unionByName(extra)
            ).collect()
        ]
        assert len(sup) == 151
        assert sorted(t for t in sup if t[0] != 9_000_001) == sorted(want)
    finally:
        for p in ("pqidx", "pqidx5"):
            for s in ("_shingles", "_hot", "_sizes", "_df", "_meta",
                      "_pending", "_df_fold"):
                spark.sql(f"DROP TABLE IF EXISTS {p}{s}")


def test_mixed_generation_ivf_index_detected(spark):
    """A RE-save that crashes between the ``_centroids`` and
    ``_assign`` overwrites leaves all three tables present but
    straddling two generations — the half-built guard can't see it
    (nothing is missing). load/append must refuse on the generation
    stamps, and running the save to completion must clear it
    (ADVICE r10)."""
    from eventsgateway_spark.streaming.ann_lookup import (
        append_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    try:
        save_ivf_index(emb.filter("vec_id < 100"), "tgen_ivf", buckets=4)
        idx = load_ivf_index(spark, "tgen_ivf")  # gen-consistent: serves
        assert idx.assign.count() > 0
        assert "gen" not in idx.assign.columns  # stamp stays internal
        # simulate the crashed re-save: meta + centroids reach gen 2,
        # assign still carries gen 1 (localCheckpoint severs lineage so
        # the table can be overwritten from itself)
        bumped = (
            spark.table("tgen_ivf_centroids")
            .withColumn("gen", F.lit(2))
            .localCheckpoint()
        )
        spark.createDataFrame([(4, 2)], "buckets int, gen int").write.mode(
            "overwrite"
        ).saveAsTable("tgen_ivf_meta")
        bumped.write.mode("overwrite").saveAsTable("tgen_ivf_centroids")
        with pytest.raises(ValueError, match="mixed-generation"):
            load_ivf_index(spark, "tgen_ivf")
        with pytest.raises(ValueError, match="mixed-generation"):
            append_ivf_index(spark, "tgen_ivf", emb)
        # re-running the save to completion restores one generation
        save_ivf_index(emb.filter("vec_id < 100"), "tgen_ivf", buckets=4)
        assert load_ivf_index(spark, "tgen_ivf").assign.count() > 0
        assert (
            int(spark.table("tgen_ivf_meta").collect()[0]["gen"]) == 3
        )  # 2 (crashed) + 1
    finally:
        for s in ("_assign", "_centroids", "_meta", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS tgen_ivf{s}")


def test_append_corpus_index_incremental_admission(spark):
    """append_corpus_index admits novel docs into a saved index without
    a rebuild: matching vs the appended index equals matching vs a
    full rebuild of the union (no drift case), re-appending the same
    batch is a no-op (per-doc idempotence ledger), and hot-list drift
    is reported instead of silently re-pruning."""
    from eventsgateway_spark.streaming.near_dup import (
        append_corpus_index,
        build_corpus_index,
        flag_near_dups,
        load_corpus_index,
        save_corpus_index,
    )

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "spark shuffles partitions across executors during wide joins"),
        ],
        "doc_id long, text string",
    )
    admitted = spark.createDataFrame(
        [
            (2, "new corpus knowledge about tuning adaptive query execution plans"),
            (1, "doc id one already lives in the index and must be dropped"),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(200, "new corpus knowledge about tuning adaptive query execution modes")],
        "doc_id long, text string",
    )
    try:
        save_corpus_index(corpus, "t8_corpus", buckets=4)
        r1 = append_corpus_index(spark, "t8_corpus", admitted.unionByName(admitted.filter("doc_id = 2")))
        assert r1["n_new_docs"] == 1  # doc 1 dropped by the ledger
        assert r1["n_new_shingles"] > 0
        assert r1["n_drifted_hot"] == 0
        sizes_after = spark.table("t8_corpus_sizes").count()
        sh_after = spark.table("t8_corpus_shingles").count()
        # replay converges: nothing double-counted
        r2 = append_corpus_index(spark, "t8_corpus", admitted)
        assert r2["n_new_docs"] == 0
        assert r2["n_repaired_docs"] == 0
        assert spark.table("t8_corpus_sizes").count() == sizes_after
        assert spark.table("t8_corpus_shingles").count() == sh_after

        # crash repair: construct the REAL w1 state a crash between the
        # _shingles and _sizes writes leaves — doc 2's shingles in the
        # index, its sizes row missing, its df partials NEVER written
        # (sizes precedes df), _pending surviving. The next append must
        # restore BOTH the sizes row and the pruned df partials from
        # the index, converging _df to exactly its pre-crash totals.
        from eventsgateway_spark.streaming.near_dup import batch_shingles

        df_sum_before = spark.table("t8_corpus_df").agg(
            F.sum("df_part")
        ).collect()[0][0]
        st = spark.table("t8_corpus_sizes")
        survivors = st.filter("corpus_id <> 2").collect()
        spark.createDataFrame(survivors, st.schema).write.mode(
            "overwrite"
        ).saveAsTable("t8_corpus_sizes")
        d2_shingles = batch_shingles(admitted.filter("doc_id = 2")).select("s")
        dft = spark.table("t8_corpus_df")
        kept_df = dft.join(d2_shingles, "s", "left_anti").collect()
        spark.createDataFrame(kept_df, dft.schema).write.bucketBy(4, "s").sortBy(
            "s"
        ).mode("overwrite").saveAsTable("t8_corpus_df")
        spark.createDataFrame([(2,)], "doc_id long").write.mode(
            "overwrite"
        ).saveAsTable("t8_corpus_pending")
        r3 = append_corpus_index(spark, "t8_corpus", admitted.filter("doc_id < 0"))
        assert r3["n_repaired_docs"] == 1
        assert r3["n_new_docs"] == 0
        assert spark.table("t8_corpus_sizes").count() == sizes_after
        assert spark.table("t8_corpus_shingles").count() == sh_after
        assert not spark.catalog.tableExists("t8_corpus_pending")  # consumed
        # df partials restored exactly (nothing hot here, pruned == raw)
        assert spark.table("t8_corpus_df").agg(F.sum("df_part")).collect()[0][
            0
        ] == df_sum_before

        # the probe near-matches ONLY the appended doc — and the match
        # set equals a full rebuild of the union (no drift here)
        idx = load_corpus_index(spark, "t8_corpus")
        got = {
            (r.doc_id, r.corpus_id, round(r.jaccard, 9))
            for r in flag_near_dups(probe, idx, 0.5).collect()
        }
        rebuilt = build_corpus_index(
            corpus.unionByName(admitted.filter("doc_id = 2"))
        )
        want = {
            (r.doc_id, r.corpus_id, round(r.jaccard, 9))
            for r in flag_near_dups(probe, rebuilt, 0.5).collect()
        }
        assert got == want
        assert {c for _, c, _ in got} == {2}
    finally:
        for t in ("t8_corpus_shingles", "t8_corpus_hot", "t8_corpus_sizes",
                  "t8_corpus_df", "t8_corpus_meta",
                  "t8_corpus_pending", "t8_corpus_df_fold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_propagation_tracks_index_growth(spark):
    """MIGRATION.md cadence composition: after append_corpus_index
    admits new docs, propagate_quality_with_index over the GROWN index
    equals batch q80 derived directly from the union corpus — the new
    near-dup edge moves both members' scores (deg >= 1), while the
    isolated original holds its seed. (At this scale no shingle nears
    the df cap, so the frozen hot list and a fresh build agree; hot
    drift at real scale is gated by the append's n_drifted_hot.)"""
    from eventsgateway_spark.queries.ext_dedup import quality_propagation
    from eventsgateway_spark.streaming.near_dup import (
        append_corpus_index,
        propagate_quality_with_index,
        save_corpus_index,
    )

    base = ("an unrelated corpus document that has a sufficient number of "
            "tokens the a of and to is in it with many extra distinct words")
    novel = ("a genuinely novel training document with plenty of distinct "
             "tokens about catalysts partitions and bucketed joins at scale")
    # longer near-dup (still Jaccard >= 0.5): different SEED score, so
    # the damped average is not already at its fixed point
    near = novel.replace("genuinely", "truly") + " plus five extra trailing tokens"
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(0, base)], schema)
    save_corpus_index(corpus, "t12_corpus", buckets=4)
    try:
        r = append_corpus_index(
            spark, "t12_corpus",
            spark.createDataFrame([(1, novel), (2, near)], schema),
        )
        assert r["n_new_docs"] == 2
        union = spark.createDataFrame(
            [(0, base), (1, novel), (2, near)], schema
        )
        got = {r["doc_id"]: (r["deg"], r["s0"], r["s3"])
               for r in propagate_quality_with_index(
                   spark, "t12_corpus", union).collect()}
        want = {r["doc_id"]: (r["deg"], r["s0"], r["s3"])
                for r in quality_propagation(union).collect()}
        assert got == want
        assert got[0][0] == 0 and got[0][2] == got[0][1]  # isolated holds seed
        assert got[1][0] >= 1 and got[2][0] >= 1  # appended pair is an edge
        assert got[1][2] != got[1][1]  # propagation moved the score
    finally:
        for t in ("t12_corpus_shingles", "t12_corpus_hot", "t12_corpus_sizes",
                  "t12_corpus_df", "t12_corpus_meta",
                  "t12_corpus_pending", "t12_corpus_df_fold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_growth_loop_end_to_end(spark, tmp_path):
    """The MIGRATION.md continuous-growth loop: stream batch 1 admits a
    novel doc, the compaction step appends it to the durable index, and
    stream batch 2 (same checkpoint, new files only) flags a near-dup
    of the NEWLY ADMITTED doc against the grown index."""
    from eventsgateway_spark.streaming.near_dup import (
        append_corpus_index,
        load_corpus_index,
        save_corpus_index,
        stream_dedup_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(0, "an unrelated corpus document that has a sufficient number of "
             "tokens the a of and to is in it with many extra distinct words "
             "for the quality floor")],
        "doc_id long, text string",
    )
    novel = ("a genuinely novel training document with plenty of distinct "
             "tokens about catalysts partitions and bucketed joins at scale")
    near = novel.replace("genuinely", "truly")  # 1-token mutation
    schema = "doc_id long, text string"
    src = str(tmp_path / "in")
    save_corpus_index(corpus, "t11_corpus", buckets=4)
    try:
        def run_batch(df):
            df.coalesce(1).write.mode("append").parquet(src)
            q = stream_dedup_against_corpus(
                spark.readStream.schema(schema).parquet(src),
                corpus_docs=None,
                novel_path=str(tmp_path / "novel"),
                dup_path=str(tmp_path / "dups"),
                checkpoint=str(tmp_path / "ckpt"),
                trigger_once=True,
                index=load_corpus_index(spark, "t11_corpus"),
            )
            q.awaitTermination(120)

        run_batch(spark.createDataFrame([(100, novel)], schema))
        kept1 = spark.read.parquet(str(tmp_path / "novel"))
        assert [r.doc_id for r in kept1.collect()] == [100]

        # compaction: admit what the stream accepted
        r = append_corpus_index(spark, "t11_corpus", kept1.select("doc_id", "text"))
        assert r["n_new_docs"] == 1

        run_batch(spark.createDataFrame([(200, near)], schema))
        dups = {r.doc_id: r.matched_corpus_id
                for r in spark.read.parquet(str(tmp_path / "dups")).collect()}
        assert dups == {200: 100}  # caught against the grown index
    finally:
        for t in ("t11_corpus_shingles", "t11_corpus_hot", "t11_corpus_sizes",
                  "t11_corpus_df", "t11_corpus_meta",
                  "t11_corpus_pending", "t11_corpus_df_fold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_corpus_index_reports_hot_drift(spark):
    """A shingle whose total df crosses the cap only after appends is
    NOT re-pruned (frozen hot list — both Jaccard sides keep one
    universe) but IS counted in n_drifted_hot."""
    from eventsgateway_spark.streaming.near_dup import append_corpus_index, save_corpus_index

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    twin = spark.createDataFrame(
        [(5, "alpha beta gamma delta epsilon eta")],  # shares shingles with doc 0
        "doc_id long, text string",
    )
    try:
        save_corpus_index(corpus, "t9_corpus", buckets=2, max_df=1)
        r = append_corpus_index(spark, "t9_corpus", twin)  # n/max_df/buckets from _meta
        assert r["n_new_docs"] == 1
        # shared shingles now have df=2 > cap=1 but were frozen unpruned
        assert r["n_drifted_hot"] > 0
        # and they are still IN the index (not silently removed)
        assert spark.table("t9_corpus_shingles").count() > 0

        # folding the append-only df partials changes no drift math
        from eventsgateway_spark.streaming.near_dup import (
            _drifted_hot,
            compact_df_partials,
        )

        rows_before = spark.table("t9_corpus_df").count()
        n = compact_df_partials(spark, "t9_corpus")
        assert n <= rows_before
        assert spark.table("t9_corpus_df").count() == n
        assert _drifted_hot(spark, "t9_corpus", 1) == r["n_drifted_hot"]

        # crash recovery: a compaction that died mid-overwrite leaves
        # _df_fold as the only copy; the next run must restore _df
        spark.table("t9_corpus_df").write.saveAsTable("t9_corpus_df_fold")
        spark.sql("DROP TABLE t9_corpus_df")
        assert compact_df_partials(spark, "t9_corpus") == n
        assert spark.table("t9_corpus_df").count() == n
        assert _drifted_hot(spark, "t9_corpus", 1) == r["n_drifted_hot"]
        assert not spark.catalog.tableExists("t9_corpus_df_fold")
    finally:
        for t in ("t9_corpus_shingles", "t9_corpus_hot", "t9_corpus_sizes",
                  "t9_corpus_df", "t9_corpus_meta",
                  "t9_corpus_pending", "t9_corpus_df_fold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_ann_lookup_with_table_backed_index(spark, tmp_path):
    """ANN serving from a saved IVF index: identical answers to the
    inline build, and the per-batch plan never reshuffles the corpus
    assignment table (probe side broadcasts; the only Exchange is the
    BroadcastExchange)."""
    from eventsgateway_spark.streaming.ann_lookup import (
        ann_lookup_batch,
        ann_lookup_stream,
        load_ivf_index,
        save_ivf_index,
    )

    corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = corpus.filter(F.col("vec_id").isin(20, 21)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    save_ivf_index(corpus, "t7_ivf", buckets=4)
    try:
        idx = load_ivf_index(spark, "t7_ivf")

        # plan audit on the candidate join itself (the top-k window
        # above it shuffles only the candidate set, by design): the
        # corpus assignment table must join via broadcast of the probe
        # side with NO hash-partitioning Exchange — i.e. never get
        # reshuffled per batch.
        from eventsgateway_spark.queries.ext_similarity import (
            ivf_probe_with,
            norm_view,
        )

        probes = ivf_probe_with(norm_view(queries), idx.cents)
        cand = idx.assign.join(F.broadcast(probes), "cell_id")
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # corpus never shuffled

        src = str(tmp_path / "q")
        queries.coalesce(1).write.parquet(src)
        q = ann_lookup_stream(
            spark.readStream.schema(queries.schema).parquet(src),
            corpus_emb=None,
            out_path=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"),
            trigger_once=True,
            index=idx,
        )
        q.awaitTermination(120)

        out = spark.read.parquet(str(tmp_path / "out"))
        top1 = {r["qid"]: (r["neighbor_id"], r["cos_sim"]) for r in out.filter(
            F.col("rn") == 1
        ).collect()}
        assert top1 == {1020: (20, 1.0), 1021: (21, 1.0)}
        assert out.count() == 6
    finally:
        for t in ("t7_ivf_assign", "t7_ivf_centroids", "t7_ivf_meta",
                  "t7_ivf_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_corpus_index_legacy_migration_and_resave_guard(spark):
    """A pre-upgrade index (no _meta, markerless crash orphan) gets a
    one-time sweep on its first append: _meta backfills with the
    table's OWN catalog bucket count (not the default 32), the orphan
    doc becomes matchable instead of being re-admitted or staying
    invisible; and an in-place re-save with changed parameters is
    refused."""
    import pytest

    from eventsgateway_spark.streaming.near_dup import (
        append_corpus_index,
        batch_shingles,
        save_corpus_index,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string",
    )
    orphan = spark.createDataFrame(
        [(7, "an orphaned document left by a crashed pre-upgrade append "
             "with plenty of distinct tokens")],
        "doc_id long, text string",
    )
    try:
        save_corpus_index(corpus, "t12_corpus", buckets=4)
        # degrade to the pre-upgrade on-disk state: no _meta, no _df,
        # plus a markerless orphan (shingles landed, sizes row absent)
        spark.sql("DROP TABLE t12_corpus_meta")
        spark.sql("DROP TABLE t12_corpus_df")
        batch_shingles(orphan).write.bucketBy(4, "s").sortBy("s").mode(
            "append"
        ).saveAsTable("t12_corpus_shingles")

        r = append_corpus_index(spark, "t12_corpus", orphan.limit(0))
        assert r["n_repaired_docs"] == 1  # legacy sweep found the orphan
        assert r["n_new_docs"] == 0
        meta = spark.table("t12_corpus_meta").collect()[0]
        assert meta["buckets"] == 4  # read from the catalog, not assumed 32
        # repaired ledger: the orphan cannot be re-admitted
        r2 = append_corpus_index(spark, "t12_corpus", orphan)
        assert r2["n_new_docs"] == 0 and r2["n_repaired_docs"] == 0

        # same-parameter re-save is allowed; changed parameters refused
        save_corpus_index(corpus, "t12_corpus", buckets=4)
        with pytest.raises(ValueError, match="fresh prefix"):
            save_corpus_index(corpus, "t12_corpus", buckets=8)
        # the legacy (no-_meta) state gets the same refusal
        spark.sql("DROP TABLE t12_corpus_meta")
        with pytest.raises(ValueError, match="pre-_meta"):
            save_corpus_index(corpus, "t12_corpus", buckets=8)

        # an append on a prefix with no index raises BEFORE writing
        # anything — a phantom _meta would block the first real save
        with pytest.raises(ValueError, match="save_corpus_index first"):
            append_corpus_index(spark, "t12_nowhere", orphan)
        assert not spark.catalog.tableExists("t12_nowhere_meta")
    finally:
        for t in ("t12_corpus_shingles", "t12_corpus_hot", "t12_corpus_sizes",
                  "t12_corpus_df", "t12_corpus_meta",
                  "t12_corpus_pending", "t12_corpus_df_fold"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_ivf_index_incremental_admission(spark):
    """append_ivf_index admits new vectors under the frozen centroids:
    lookups then find them exactly as a full rebuild would (same
    assignment function, same cells), re-appends converge, and the
    occupancy-skew rebuild gate is reported."""
    from eventsgateway_spark.streaming.ann_lookup import (
        ann_lookup_batch,
        append_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") < 40)
    extra = emb.filter(F.col("vec_id").between(40, 49))
    # query = an appended vector: only findable post-append
    queries = emb.filter(F.col("vec_id") == 45).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    save_ivf_index(corpus, "t10_ivf", buckets=4)
    try:
        idx = load_ivf_index(spark, "t10_ivf")
        before = ann_lookup_batch(queries, idx.assign, idx.cents, topk=1)
        assert [r.neighbor_id for r in before.collect()] != [45]

        # idempotence: the overlap (vec_id < 40) must be dropped
        r1 = append_ivf_index(
            spark, "t10_ivf",
            emb.filter(F.col("vec_id") < 50).unionByName(extra),  # in-batch dups
        )
        assert r1["n_new_vecs"] == 10
        assert r1["cell_skew"] >= 1.0

        # the incremental _occ summary always equals a full recount of
        # _assign, and the reported skew is the full-scan value
        def full_occ():
            return {
                r["cell_id"]: r["n"]
                for r in spark.table("t10_ivf_assign")
                .groupBy("cell_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        def occ_tbl():
            return {
                r["cell_id"]: r["n"]
                for r in spark.table("t10_ivf_occ").collect()
            }

        assert occ_tbl() == full_occ()
        ns = list(full_occ().values())
        assert abs(r1["cell_skew"] - max(ns) / (sum(ns) / len(ns))) < 1e-9

        n_assigned = spark.table("t10_ivf_assign").count()
        r2 = append_ivf_index(spark, "t10_ivf", extra)
        assert r2["n_new_vecs"] == 0
        assert spark.table("t10_ivf_assign").count() == n_assigned
        assert occ_tbl() == full_occ()

        # legacy index (no _occ): one full rebuild restores the summary
        spark.sql("DROP TABLE t10_ivf_occ")
        r3 = append_ivf_index(spark, "t10_ivf", extra)
        assert r3["n_new_vecs"] == 0 and occ_tbl() == full_occ()

        idx = load_ivf_index(spark, "t10_ivf")
        after = {r.qid: (r.neighbor_id, r.cos_sim) for r in ann_lookup_batch(
            queries, idx.assign, idx.cents, topk=1
        ).collect()}
        assert after == {1045: (45, 1.0)}

        # phantom-prefix guard: append on a nonexistent index raises
        # before writing anything
        import pytest

        with pytest.raises(ValueError, match="save_ivf_index first"):
            append_ivf_index(spark, "t10_nowhere", extra)
        assert not spark.catalog.tableExists("t10_nowhere_meta")
    finally:
        for t in ("t10_ivf_assign", "t10_ivf_centroids", "t10_ivf_meta",
                  "t10_ivf_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_label_vote_matches_exact_at_full_probe(spark):
    """ann_label_vote_batch (the q94 serving twin): with nprobe = the
    full cell count the probed candidate set IS the whole corpus, so
    the top-3 neighbor set is exact and the vote must equal a
    brute-force numpy 3-NN majority vote computed with the same laws
    (cos rounded to 6 dp desc, neighbor-id asc; vote count desc,
    smallest label tie-break)."""
    import numpy as np

    from eventsgateway_spark.queries.ext_similarity import IVF_K
    from eventsgateway_spark.streaming.ann_lookup import (
        ann_label_vote_batch,
        build_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    idx = build_ivf_index(emb.select("vec_id", "embedding"), IVF_K)
    try:
        queries = emb.filter(F.col("vec_id") < 30).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        got = {
            r["qid"]: (r["knn_label"], r["n_nbrs"], r["n_agree"])
            for r in ann_label_vote_batch(
                queries, idx.assign, idx.cents,
                emb.select("vec_id", "label"),
                nprobe=IVF_K, topk=3, k=IVF_K,
            ).collect()
        }
        pdf = emb.toPandas().sort_values("vec_id")
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1)
        ids = pdf["vec_id"].to_numpy()
        lbl = dict(zip(pdf["vec_id"], pdf["label"]))
        for qrow in range(30):
            cos = np.round((M @ M[qrow]) / (nrm * nrm[qrow]), 6)
            order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))
            top3 = [int(ids[i]) for i in order[:3]]
            counts: dict[int, int] = {}
            for n in top3:
                counts[lbl[n]] = counts.get(lbl[n], 0) + 1
            knn = sorted(counts, key=lambda c: (-counts[c], c))[0]
            assert got[int(ids[qrow]) + 1_000_000] == (
                knn, 3, counts[knn]
            ), qrow

        # a query whose OWN id is in the index never votes for itself
        # (q94's a.vec_id <> b.vec_id law through the serving path):
        # querying corpus vector 0 under its ORIGINAL id must vote
        # from its 3 nearest OTHER vectors, not from its self-match
        self_q = emb.filter(F.col("vec_id") == 0).select(
            "vec_id", "embedding"
        )
        sr = ann_label_vote_batch(
            self_q, idx.assign, idx.cents, emb.select("vec_id", "label"),
            nprobe=IVF_K, topk=3, k=IVF_K,
        ).collect()[0]
        cos0 = np.round((M @ M[0]) / (nrm * nrm[0]), 6)
        order0 = [
            i for i in sorted(range(len(ids)), key=lambda i: (-cos0[i], ids[i]))
            if ids[i] != 0
        ][:3]
        counts0: dict[int, int] = {}
        for i in order0:
            counts0[lbl[ids[i]]] = counts0.get(lbl[ids[i]], 0) + 1
        knn0 = sorted(counts0, key=lambda c: (-counts0[c], c))[0]
        assert (sr["knn_label"], sr["n_nbrs"], sr["n_agree"]) == (
            knn0, 3, counts0[knn0]
        )
    finally:
        from eventsgateway_spark.queries._util import release_frame

        for fr in (idx.assign, idx.cents):
            release_frame(fr)


def test_stream_label_screen_routes_mislabels(spark, tmp_path):
    """stream_label_screen: an example whose ANN neighbors unanimously
    carry a different label routes to the suspect sink with the voted
    label + agreement as evidence; a correctly-labeled example and an
    un-judgeable (zero-norm) example route clean. Replay idempotence
    comes from batch_id dynamic overwrite (shared _idempotent_append)."""
    from eventsgateway_spark.streaming.ann_lookup import (
        build_ivf_index,
        stream_label_screen,
    )

    # three tight clusters along distinct axes, labels 0/1/2; the first
    # three ids are one per cluster so the first-k centroids are the
    # cluster representatives
    def vec(axis, eps):
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = 1.0
        v[(axis + 1) % 4] = eps
        return v

    rows = []
    for j in range(30):
        axis = j % 3
        rows.append((j, vec(axis, 0.01 * (j // 3)), axis))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    idx = build_ivf_index(corpus.select("vec_id", "embedding"), k=3)
    try:
        incoming = spark.createDataFrame(
            [
                # near cluster 0 but labeled 2 → suspect (vote 0)
                (1_000_000, vec(0, 0.02), 2),
                # near cluster 1, correctly labeled → clean
                (1_000_001, vec(1, 0.02), 1),
                # zero-norm: un-judgeable → clean
                (1_000_002, [0.0, 0.0, 0.0, 0.0], 0),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        src = str(tmp_path / "examples")
        incoming.coalesce(1).write.parquet(src)
        q = stream_label_screen(
            spark.readStream.schema(incoming.schema).parquet(src),
            idx,
            corpus.select("vec_id", "label"),
            clean_path=str(tmp_path / "clean"),
            suspect_path=str(tmp_path / "suspect"),
            checkpoint=str(tmp_path / "ckpt"),
            nprobe=3,
            trigger_once=True,
        )
        q.awaitTermination(120)
        suspects = spark.read.parquet(str(tmp_path / "suspect")).collect()
        clean = spark.read.parquet(str(tmp_path / "clean")).collect()
        assert [
            (r["vec_id"], r["label"], r["knn_label"], r["n_agree"], r["n_nbrs"])
            for r in suspects
        ] == [(1_000_000, 2, 0, 3, 3)]
        assert sorted(r["vec_id"] for r in clean) == [1_000_001, 1_000_002]
    finally:
        from eventsgateway_spark.queries._util import release_frame

        for fr in (idx.assign, idx.cents):
            release_frame(fr)


def test_ivf_growth_loop_end_to_end(spark, tmp_path):
    """The vector growth loop (mirror of the corpus one): stream batch
    1 sees a novel vector (kept), the compaction step appends it via
    append_ivf_index, and stream batch 2 (same checkpoint, new files
    only) drops the SAME vector re-arriving — a semantic duplicate of
    the newly admitted corpus member."""
    from eventsgateway_spark.streaming.ann_lookup import (
        append_ivf_index,
        load_ivf_index,
        save_ivf_index,
        semantic_dedup_stream,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") < 40)
    probe = emb.filter(F.col("vec_id") == 45)
    save_ivf_index(corpus, "t13_ivf", buckets=4)
    src = str(tmp_path / "in")
    try:
        def run_batch(df):
            df.coalesce(1).write.mode("append").parquet(src)
            q = semantic_dedup_stream(
                spark.readStream.schema(probe.schema).parquet(src),
                corpus_emb=None,
                out_path=str(tmp_path / "out"),
                checkpoint=str(tmp_path / "ckpt"),
                trigger_once=True,
                index=load_ivf_index(spark, "t13_ivf"),
            )
            q.awaitTermination(120)

        run_batch(probe)
        out1 = {r.vec_id: r.dropped
                for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert out1 == {45: 0}  # novel against the original corpus

        kept = probe  # the stream kept it; compaction admits it
        assert append_ivf_index(spark, "t13_ivf", kept)["n_new_vecs"] == 1

        run_batch(probe.select((F.col("vec_id") + 500).alias("vec_id"), "embedding"))
        out2 = {r.vec_id: r.dropped
                for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert out2[545] == 1  # caught against the grown index (cos=1.0)
    finally:
        for t in ("t13_ivf_assign", "t13_ivf_centroids", "t13_ivf_meta",
                  "t13_ivf_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_trained_ivf_index_end_to_end(spark, tmp_path):
    """The full IVF lifecycle: Lloyd-train centroids → assign corpus →
    persist as bucketed tables → load → serve lookups. Training must
    converge (monotone inertia); an exact-copy query must return its
    original as top-1 with cos_sim 1.0 through the TRAINED index."""
    from eventsgateway_spark.operators.kmeans import train_centroids
    from eventsgateway_spark.queries.ext_similarity import (
        ivf_assign_with,
        norm_view,
    )
    from eventsgateway_spark.streaming.ann_lookup import (
        IvfIndex,
        ann_lookup_batch,
        load_ivf_index,
        save_ivf_index,
    )

    corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents, hist = train_centroids(corpus, iters=3)
    assert all(a >= b - 1e-6 for a, b in zip(hist, hist[1:]))  # converging

    idx = IvfIndex(assign=ivf_assign_with(norm_view(corpus), cents), cents=cents)
    save_ivf_index(None, "t_trained_ivf", buckets=4, index=idx)
    try:
        loaded = load_ivf_index(spark, "t_trained_ivf")
        queries = corpus.filter(F.col("vec_id").isin(30, 31)).select(
            (F.col("vec_id") + 2000).alias("vec_id"), "embedding"
        )
        out = ann_lookup_batch(queries, loaded.assign, loaded.cents)
        top1 = {
            r["qid"]: (r["neighbor_id"], r["cos_sim"])
            for r in out.filter(F.col("rn") == 1).collect()
        }
        assert top1 == {2030: (30, 1.0), 2031: (31, 1.0)}
    finally:
        for t in ("t_trained_ivf_assign", "t_trained_ivf_centroids",
                  "t_trained_ivf_occ",
                  "t_trained_ivf_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_semantic_dedup_against_corpus(spark, tmp_path):
    """Streaming SemDeDup: an exact copy of a corpus vector must come
    back dropped (max_sim_u = 1e6 — its twin lives in its own cell); a
    batch/stream parity check pins the foreachBatch path to the batch
    operator, and the stream decision set must match running
    semantic_dedup_batch directly."""
    from eventsgateway_spark.streaming.ann_lookup import (
        build_ivf_index,
        semantic_dedup_batch,
        semantic_dedup_stream,
    )

    corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    index = build_ivf_index(corpus)
    # stream: one exact corpus copy (must drop) + one corpus vector
    # negated (cosine -1 to its twin; very unlikely to clear 0.40)
    incoming = corpus.filter(F.col("vec_id").isin(30, 31)).select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        F.when(
            F.col("vec_id") == 31,
            F.transform("embedding", lambda x: -x),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    src = str(tmp_path / "vin")
    incoming.coalesce(1).write.parquet(src)

    q = semantic_dedup_stream(
        spark.readStream.schema(incoming.schema).parquet(src),
        None,
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
        index=index,
    )
    q.awaitTermination(120)

    out = {r["vec_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[2030]["dropped"] == 1 and out[2030]["max_sim_u"] == 1_000_000
    assert out[2031]["dropped"] == 0

    batch = {
        r["vec_id"]: (r["cell_id"], r["dropped"], r["max_sim_u"])
        for r in semantic_dedup_batch(incoming, index.assign, index.cents).collect()
    }
    stream = {
        v: (r["cell_id"], r["dropped"], r["max_sim_u"]) for v, r in out.items()
    }
    assert batch == stream


def test_streaming_corpus_prep_routes_three_ways(spark, tmp_path):
    """Streaming corpus-prep (curate → corpus-dedup screen): a good
    novel doc lands in kept/, a too-short doc in quarantine/ (redacted),
    and an exact copy of a corpus doc in dups/ with match evidence.
    The three outputs must partition the input batch."""
    from eventsgateway_spark.streaming.corpus_prep import corpus_prep_stream

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again "
                "while a second clause keeps the token count over the rule floor "
                "of twenty for this corpus document"),
        ],
        "doc_id long, text string",
    )
    good = ("the engine routes a perfectly reasonable document of more than "
            "twenty tokens and it contains the a of and to is in it stopwords "
            "plus plenty of distinct words overall")
    incoming = spark.createDataFrame(
        [
            (100, good),
            (101, "too short mail x@y.io"),          # fails min-token rule
            (102, corpus.first()["text"]),            # exact corpus copy
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    incoming.coalesce(1).write.parquet(src)
    q = corpus_prep_stream(
        spark.readStream.schema(incoming.schema).parquet(src),
        corpus,
        out_root=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    kept = spark.read.parquet(str(tmp_path / "out/kept")).collect()
    quar = spark.read.parquet(str(tmp_path / "out/quarantine")).collect()
    dups = spark.read.parquet(str(tmp_path / "out/dups")).collect()
    assert {r.doc_id for r in kept} == {100}
    assert {r.doc_id for r in quar} == {101}
    assert "<EMAIL>" in quar[0].text and "x@y.io" not in quar[0].text
    assert {r.doc_id for r in dups} == {102}
    assert dups[0].matched_corpus_id == 0 and dups[0].jaccard == 1.0


def test_streaming_corpus_prep_decontaminates(spark, tmp_path):
    """With eval_grams supplied, a kept doc sharing a 5-gram with the
    eval corpus routes to contaminated/ instead of kept/."""
    from eventsgateway_spark.streaming.corpus_prep import (
        corpus_prep_stream,
        eval_gram_set,
    )

    corpus = spark.createDataFrame(
        [(0, "an unrelated corpus document that has a sufficient number of "
             "tokens the a of and to is in it with many extra distinct words "
             "for the quality floor")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(900, "the secret benchmark question about spark shuffles appears here")],
        "doc_id long, text string",
    )
    dirty = ("this training doc quotes the secret benchmark question about "
             "spark shuffles appears here verbatim and the a of and to is in "
             "it plus more filler words to pass quality")
    clean = ("a perfectly ordinary clean document of more than twenty tokens "
             "containing the a of and to is in it stopwords plus plenty of "
             "distinct other words")
    incoming = spark.createDataFrame(
        [(200, dirty), (201, clean)], "doc_id long, text string"
    )
    src = str(tmp_path / "in")
    incoming.coalesce(1).write.parquet(src)
    q = corpus_prep_stream(
        spark.readStream.schema(incoming.schema).parquet(src),
        corpus,
        out_root=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
        eval_grams=eval_gram_set(eval_docs),
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out/kept")).collect()}
    cont = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out/contaminated")).collect()}
    assert kept == {201} and cont == {200}


def test_streaming_corpus_prep_bloom_decontaminates(spark, tmp_path):
    """eval_bloom variant (q79's posture): same routing as the exact
    eval_grams screen on the same corpus — the Bloom filter has zero
    false negatives, so the dirty doc MUST route to contaminated/, and
    at fpp=1e-4 with one clean doc the kept split stays clean. Also
    pins the exclusivity contract (eval_grams + eval_bloom -> error)."""
    import pytest

    from eventsgateway_spark.streaming.corpus_prep import (
        corpus_prep_stream,
        eval_gram_bloom,
        eval_gram_set,
    )

    corpus = spark.createDataFrame(
        [(0, "an unrelated corpus document that has a sufficient number of "
             "tokens the a of and to is in it with many extra distinct words "
             "for the quality floor")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(900, "the secret benchmark question about spark shuffles appears here")],
        "doc_id long, text string",
    )
    dirty = ("this training doc quotes the secret benchmark question about "
             "spark shuffles appears here verbatim and the a of and to is in "
             "it plus more filler words to pass quality")
    clean = ("a perfectly ordinary clean document of more than twenty tokens "
             "containing the a of and to is in it stopwords plus plenty of "
             "distinct other words")
    incoming = spark.createDataFrame(
        [(200, dirty), (201, clean)], "doc_id long, text string"
    )
    src = str(tmp_path / "in")
    incoming.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(incoming.schema).parquet(src)
    with pytest.raises(ValueError, match="not both"):
        corpus_prep_stream(
            stream,
            corpus,
            out_root=str(tmp_path / "out0"),
            checkpoint=str(tmp_path / "ckpt0"),
            eval_grams=eval_gram_set(eval_docs),
            eval_bloom=eval_gram_bloom(eval_docs),
        )
    q = corpus_prep_stream(
        stream,
        corpus,
        out_root=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
        eval_bloom=eval_gram_bloom(eval_docs),
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out/kept")).collect()}
    cont = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out/contaminated")).collect()}
    assert kept == {201} and cont == {200}


def test_bloom_screen_reserves_working_column(spark):
    """_screen_bloom_flag uses '_decon_toks' as a working column; an
    input already carrying it must be refused loudly (same reserved-
    name discipline as curate()'s '_q_toks'), not silently overwritten
    and dropped."""
    import pytest

    from eventsgateway_spark.streaming.corpus_prep import _screen_bloom_flag

    df = spark.createDataFrame(
        [(1, "some text", "x")], "doc_id long, text string, _decon_toks string"
    )
    with pytest.raises(ValueError, match="_decon_toks"):
        _screen_bloom_flag(df, bloom_probe=None)


def test_streaming_bloom_screen_dominates_exact_end_to_end(spark, tmp_path):
    """q60-composition-level parity for the BLOOM decontamination
    variant (VERDICT r8 #8): run the FULL streaming pipeline twice on
    the sf0.001 documents fixture — once with the exact gram set, once
    with the Bloom bitset built from the SAME eval corpus — and pin
    the Bloom screen's routing guarantees end-to-end, not just at the
    standalone-probe level:

    - zero false negatives ⇒ contaminated(bloom) ⊇ contaminated(exact)
      (count dominance follows);
    - the two variants route the same doc universe: kept ∪ contaminated
      is identical across variants (a doc can only move kept→contam.);
    - every other sink (quarantine, dups) is bit-identical — the
      screen choice must not perturb upstream stages."""
    from eventsgateway_spark.streaming.corpus_prep import (
        corpus_prep_stream,
        eval_gram_bloom,
        eval_gram_set,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    eval_docs = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    incoming = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    corpus = spark.createDataFrame(
        [(10_000_000,
          "an unrelated corpus document that has a sufficient number of "
          "tokens the a of and to is in it with many extra distinct words "
          "for the quality floor")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    incoming.coalesce(1).write.parquet(src)

    outs = {}
    for variant, kwargs in (
        ("exact", {"eval_grams": eval_gram_set(eval_docs)}),
        ("bloom", {"eval_bloom": eval_gram_bloom(eval_docs)}),
    ):
        out = str(tmp_path / f"out_{variant}")
        q = corpus_prep_stream(
            spark.readStream.schema(incoming.schema).parquet(src),
            corpus,
            out_root=out,
            checkpoint=str(tmp_path / f"ckpt_{variant}"),
            trigger_once=True,
            **kwargs,
        )
        q.awaitTermination(240)
        outs[variant] = {
            sink: {r.doc_id for r in
                   spark.read.parquet(f"{out}/{sink}").select("doc_id").collect()}
            for sink in ("kept", "contaminated", "quarantine", "dups")
        }

    ex, bl = outs["exact"], outs["bloom"]
    assert ex["contaminated"], "fixture produced no contamination — test is vacuous"
    assert bl["contaminated"] >= ex["contaminated"], (
        "Bloom screen missed exact-screen contamination (false negative)"
    )
    assert bl["kept"] | bl["contaminated"] == ex["kept"] | ex["contaminated"]
    assert bl["quarantine"] == ex["quarantine"]
    assert bl["dups"] == ex["dups"]


def test_streaming_corpus_prep_within_batch_dedup(spark, tmp_path):
    """Stage-for-stage q60 parity (VERDICT r5 #6): near-dups and exact
    dups arriving INSIDE one micro-batch are deduped keep-first, not
    just screened against the corpus — the batch's min-id survivor
    lands in kept/, its copies/mutations in dups/ with batch-scoped
    match evidence."""
    from eventsgateway_spark.streaming.corpus_prep import corpus_prep_stream

    corpus = spark.createDataFrame(
        [(0, "an unrelated corpus document that has a sufficient number of "
             "tokens the a of and to is in it with many extra distinct words "
             "for the quality floor")],
        "doc_id long, text string",
    )
    base = ("a brand new training document with more than twenty tokens "
            "containing the a of and to is in it stopwords plus plenty of "
            "distinct other words nothing like the corpus")
    near = base.replace("nothing", "almost-nothing")  # 1-token mutation
    incoming = spark.createDataFrame(
        [(300, base), (301, base), (302, near)], "doc_id long, text string"
    )
    src = str(tmp_path / "in")
    incoming.coalesce(1).write.parquet(src)
    q = corpus_prep_stream(
        spark.readStream.schema(incoming.schema).parquet(src),
        corpus,
        out_root=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out/kept")).collect()}
    dups = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out/dups")).collect()}
    assert kept == {300}  # min-id survivor only
    assert set(dups) == {301, 302}
    assert dups[301].match_kind == "exact_batch" and dups[301].jaccard == 1.0
    assert dups[301].matched_corpus_id == 300
    assert dups[302].match_kind == "near_batch" and dups[302].matched_corpus_id == 300
    assert 0.5 <= dups[302].jaccard < 1.0


def test_streaming_mixture_monitor_matches_batch_q75(spark, tmp_path):
    """Streaming mixture monitor: two micro-batches of documents update
    the running totals/weights tables; after drain the weights table is
    BIT-FOR-BIT the batch q75 math over the union of all arrived docs
    (integer-exact math ⇒ streaming/batch parity is equality, not
    tolerance). The swap is atomic: a reader between batches sees a
    complete table."""
    from eventsgateway_spark.queries.ext_sampling import mixture_weights
    from eventsgateway_spark.streaming.mixture import (
        mixture_monitor_stream,
        read_current,
    )

    rows1 = [(1, "a b c d e", "s1"), (2, "f g h", "s2")]
    rows2 = [(3, "i j k l m n o p", "s1"), (4, "q r", "s3")]
    schema = "doc_id long, text string, source string"
    src = str(tmp_path / "in")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    root = str(tmp_path / "mix")
    q = mixture_monitor_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        root=root,
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    weights = read_current(spark, root, "weights")
    got = {r.source: r.asDict() for r in weights.collect()}
    all_docs = spark.createDataFrame(rows1 + rows2, schema)
    want = {r.source: r.asDict() for r in mixture_weights(all_docs).collect()}
    # FULL-ROW equality, oversample_x100 included — the streaming table
    # is the batch table, not a subset of it
    assert got == want and set(got) == {"s1", "s2", "s3"}
    # totals table stays |sources|-sized; pointer resolves a real dir
    assert read_current(spark, root, "totals").count() == 3


def test_mixture_monitor_replay_guard_and_atomic_version(spark, tmp_path):
    """Re-delivering an already-applied batch_id (foreachBatch is
    at-least-once) must be a no-op — counts are additive and would
    otherwise double. A higher batch_id applies, and totals/weights
    always come from ONE version directory (single pointer)."""
    from eventsgateway_spark.streaming.mixture import (
        current_path,
        last_batch_id,
        read_current,
        update_mixture_batch,
    )

    schema = "doc_id long, text string, source string"
    b0 = spark.createDataFrame([(1, "a b c", "s1")], schema)
    root = str(tmp_path / "mix")

    update_mixture_batch(spark, b0, root, batch_id=0)
    tok0 = read_current(spark, root, "totals").collect()[0].n_tokens
    assert tok0 == 3 and last_batch_id(root) == 0

    update_mixture_batch(spark, b0, root, batch_id=0)  # replay: no-op
    assert read_current(spark, root, "totals").collect()[0].n_tokens == 3
    assert last_batch_id(root) == 0

    b1 = spark.createDataFrame([(2, "d e", "s1")], schema)
    update_mixture_batch(spark, b1, root, batch_id=1)
    assert read_current(spark, root, "totals").collect()[0].n_tokens == 5
    # both tables resolve inside the same version dir
    tp, wp = current_path(root, "totals"), current_path(root, "weights")
    assert os.path.dirname(tp) == os.path.dirname(wp)
    assert last_batch_id(root) == 1


def test_compact_refuses_streaming_sink_tables(spark, tmp_path):
    """A table with _spark_metadata (streaming file sink) is read
    through its transaction log; compacting underneath it would leave
    readers referencing deleted files. compact_partition must refuse."""
    from eventsgateway_spark.sources.lakehouse import compact_partition

    tbl = str(tmp_path / "stream_tbl")
    os.makedirs(os.path.join(tbl, "_spark_metadata"))
    os.makedirs(os.path.join(tbl, "year=2024", "month=01", "day=01"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_partition(spark, tbl, "2024", "01", "01")


def test_stream_packing_equals_batch_q73(spark, tmp_path):
    """VERDICT r6 stretch: stream-accumulated sequence packing must
    equal batch q73 on the same corpus when batches arrive in doc_id
    order — the carried-offset increment is exact, not approximate."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import table as _table
    from eventsgateway_spark.streaming.packing import stream_pack

    docs = _table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    src = str(tmp_path / "src")
    os.makedirs(src)
    parts = [
        docs.filter(F.col("doc_id") <= cuts[0]),
        docs.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        docs.filter(F.col("doc_id") > cuts[1]),
    ]
    # one file per future micro-batch; mtimes force source order so
    # cross-batch doc order matches the batch query's global order
    import time as _time

    for i, part in enumerate(parts):
        tmp = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(tmp)
        (pf,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part-{i}.parquet")
        os.rename(os.path.join(tmp, pf), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pack(
        stream,
        str(tmp_path / "packed"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(300)

    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.seq_id, r.seq_pos, r.crosses_boundary)
        for r in spark.read.parquet(str(tmp_path / "packed")).collect()
    }
    want = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.seq_id, r.seq_pos, r.crosses_boundary)
        for r in QUERIES["q73_sequence_packing"](spark, SF_ORACLE).collect()
    }
    assert got == want
    # the stream really did split the work (3 files -> 3 batches)
    batches = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "packed"))
        .select("batch_id").distinct().collect()
    }
    assert batches == {0, 1, 2}


def test_stream_packing_replay_converges(spark, tmp_path):
    """At-least-once replay of the LAST batch re-packs from
    offset_before and rewrites its own partition — byte-identical
    output, no double-advance of the carried offset."""
    from eventsgateway_spark.streaming import packing as P

    docs = spark.createDataFrame(
        [(i, "w " * 40) for i in range(6)], "doc_id long, text string"
    )
    state_root = str(tmp_path / "state")
    out = str(tmp_path / "out")

    def apply(batch_df, batch_id):
        state = P._read_state(state_root)
        base = (
            state["offset_before"]
            if batch_id == state["batch_id"]
            else state["offset_after"]
        )
        packed = P.pack_batch(batch_df, base).localCheckpoint()
        (
            packed.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(out)
        )
        n = packed.agg(F.sum("n_tokens")).collect()[0][0] or 0
        P._write_state(state_root, {
            "batch_id": batch_id,
            "offset_before": base,
            "offset_after": base + int(n),
        })

    b0 = docs.filter(F.col("doc_id") < 3)
    b1 = docs.filter(F.col("doc_id") >= 3)
    apply(b0, 0)
    apply(b1, 1)
    snap = sorted(map(tuple, spark.read.parquet(out).collect()))
    after = P._read_state(state_root)["offset_after"]
    apply(b1, 1)  # replay the last batch
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == snap
    assert P._read_state(state_root)["offset_after"] == after


def test_stream_packing_rejects_out_of_order_batches(spark, tmp_path):
    """The exactness contract (cross-batch arrival in global doc_id
    order) is ENFORCED: a source delivering a later batch with earlier
    doc_ids fails the stream loudly instead of silently producing
    packing that no longer equals batch q73 (VERDICT r7)."""
    from pyspark.sql.streaming import StreamingQueryException

    from eventsgateway_spark.streaming.packing import stream_pack

    docs = spark.createDataFrame(
        [(i, "w " * 40) for i in range(8)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0 carries the HIGH doc_ids, batch 1 the LOW ones — the
    # mtimes order the file source so the violation lands in batch 1
    import time as _time

    parts = [docs.filter(F.col("doc_id") >= 4), docs.filter(F.col("doc_id") < 4)]
    for i, part in enumerate(parts):
        tmp = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(tmp)
        (pf,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part-{i}.parquet")
        os.rename(os.path.join(tmp, pf), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_pack(
        stream,
        str(tmp_path / "packed"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.awaitTermination(300)
    # batch 0 landed before the guard tripped; batch 1 never did
    batches = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "packed"))
        .select("batch_id").distinct().collect()
    }
    assert batches == {0}


def test_stream_training_order_equals_batch_q76(spark, tmp_path):
    """VERDICT r7 #6: stream-accumulated training order must equal
    batch q76 on the same corpus when each source's docs arrive in the
    batch query's per-source (md5, doc_id) order — the carried
    per-source rank counters are exact, not approximate."""
    import hashlib

    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import table as _table
    from eventsgateway_spark.queries.ext_sampling import mixture_weights
    from eventsgateway_spark.streaming.interleave import stream_training_order

    docs_full = _table(spark, SF_ORACLE, "documents")
    weights = {
        r["source"]: int(r["weight_ppm"])
        for r in mixture_weights(docs_full).collect()
    }
    rows = sorted(
        [(r["source"], r["doc_id"]) for r in
         docs_full.select("source", "doc_id").collect()],
        key=lambda t: (hashlib.md5(str(t[1]).encode()).hexdigest(), t[1]),
    )
    # global (h, doc_id) order => every source's subsequence is in its
    # per-source hash order; cut into 3 future micro-batches
    n = len(rows)
    parts = [rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :]]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, part in enumerate(parts):
        tmp = str(tmp_path / f"stage{i}")
        spark.createDataFrame(part, "source string, doc_id long").coalesce(
            1
        ).write.parquet(tmp)
        (pf,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part-{i}.parquet")
        os.rename(os.path.join(tmp, pf), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("source string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_training_order(
        stream,
        weights,
        str(tmp_path / "ordered"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(300)

    got = {
        (r.source, r.doc_id): (r.rk, r.vt)
        for r in spark.read.parquet(str(tmp_path / "ordered")).collect()
    }
    want = {
        (r.source, r.doc_id): (r.rk, r.vt)
        for r in QUERIES["q76_training_order"](spark, SF_ORACLE).collect()
    }
    assert got == want
    batches = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "ordered"))
        .select("batch_id").distinct().collect()
    }
    assert batches == {0, 1, 2}


def test_stream_training_order_rejects_out_of_order(spark, tmp_path):
    """A later batch carrying a doc that sorts at-or-below its source's
    high-water mark fails the stream loudly (enforced contract, not
    silent drift)."""
    import hashlib

    from pyspark.sql.streaming import StreamingQueryException

    from eventsgateway_spark.streaming.interleave import stream_training_order

    rows = sorted(
        [("a", i) for i in range(8)],
        key=lambda t: (hashlib.md5(str(t[1]).encode()).hexdigest(), t[1]),
    )
    # batch 0 gets the LATER half of the hash order, batch 1 the earlier
    parts = [rows[4:], rows[:4]]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, part in enumerate(parts):
        tmp = str(tmp_path / f"stage{i}")
        spark.createDataFrame(part, "source string, doc_id long").coalesce(
            1
        ).write.parquet(tmp)
        (pf,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part-{i}.parquet")
        os.rename(os.path.join(tmp, pf), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("source string, doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_training_order(
        stream,
        {"a": 500_000},
        str(tmp_path / "ordered"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.awaitTermination(300)
    batches = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "ordered"))
        .select("batch_id").distinct().collect()
    }
    assert batches == {0}


def test_stream_training_order_replay_converges(spark, tmp_path):
    """At-least-once replay of the LAST batch re-ranks from the
    ``before`` counters/marks and rewrites its own partition —
    identical output, no double-advance of any source's rank."""
    import hashlib

    from eventsgateway_spark.streaming import interleave as I

    rows = sorted(
        [("a", i) for i in range(6)] + [("b", i) for i in range(100, 104)],
        key=lambda t: (hashlib.md5(str(t[1]).encode()).hexdigest(), t[1]),
    )
    b0 = spark.createDataFrame(rows[:5], "source string, doc_id long")
    b1 = spark.createDataFrame(rows[5:], "source string, doc_id long")
    weights = {"a": 600_000, "b": 400_000}
    out = str(tmp_path / "out")
    state_root = str(tmp_path / "state")

    I.apply_interleave_batch(b0, 0, weights, out, state_root)
    I.apply_interleave_batch(b1, 1, weights, out, state_root)
    snap = sorted(map(tuple, spark.read.parquet(out).collect()))
    after = I._read_state(state_root)["ranks_after"]
    I.apply_interleave_batch(b1, 1, weights, out, state_root)  # replay
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == snap
    assert I._read_state(state_root)["ranks_after"] == after
    # a stale replay older than the last batch is ignored outright
    I.apply_interleave_batch(b0, 0, weights, out, state_root)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == snap


def test_released_checkpoints_releases_on_exception(spark):
    """The per-batch checkpoint scope must release its frames on the
    FAILURE path too — a foreachBatch body that raises (e.g. the
    packing/interleave ordering guards) would otherwise leak that
    batch's blocks on every failed retry."""
    import pytest

    from eventsgateway_spark.queries._util import released_checkpoints

    def n_stored() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_stored()
    with pytest.raises(RuntimeError, match="boom"):
        with released_checkpoints() as ckpt:
            pinned = ckpt(spark.range(100))
            assert pinned.count() == 100
            assert n_stored() > before  # genuinely pinned mid-scope
            raise RuntimeError("boom")
    assert n_stored() <= before


def test_stream_importance_matches_batch_q82(spark, tmp_path):
    """q82's streaming twin: a model trained on the fixture corpus,
    fed that same corpus in TWO micro-batches, must reproduce batch
    q82 bit-for-bit (all-integer scoring makes the comparison exact,
    not approximate)."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.streaming.importance import (
        save_importance_model,
        stream_importance_weights,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    model = str(tmp_path / "model")
    assert save_importance_model(docs, model) == 0

    # two micro-batches via sequential availableNow runs on one ckpt
    src = str(tmp_path / "src")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.mode("append").parquet(src)
    out, ckpt = str(tmp_path / "weights"), str(tmp_path / "ckpt")
    for part in (0, 1):
        if part:
            docs.filter(F.col("doc_id") >= half).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        q = stream_importance_weights(
            spark.readStream.schema(docs.schema).parquet(src),
            model, out, ckpt, trigger_once=True,
        )
        q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["lang"], r["source"], r["n_tok"], r["wt_unats"], r["tgt_like"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["source"], r["n_tok"], r["wt_unats"], r["tgt_like"])
        for r in QUERIES["q82_importance_weights"](spark, sf).collect()
    }
    assert got == want


def test_stream_importance_oov_and_mixed_generation(spark, tmp_path):
    """(a) a streamed term the frozen reference never saw scores the
    model's OOV constant (the smoothed formula at zero counts);
    (b) a mixed-generation save (lr and meta stamps disagree — the
    crashed-re-save window) is refused at load."""
    from pyspark.sql import functions as SF
    from eventsgateway_spark.streaming.importance import (
        load_importance_model,
        save_importance_model,
        stream_importance_weights,
    )

    ref = spark.createDataFrame(
        [(0, "alpha beta gamma", "en", "web"), (1, "alpha delta", "fr", "web")],
        "doc_id long, text string, lang string, source string",
    )
    model = str(tmp_path / "model")
    save_importance_model(ref, model)
    _lr, meta = load_importance_model(spark, model)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(100, "zzznever zzznever", "en", "web")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "w"), str(tmp_path / "c")
    q = stream_importance_weights(
        spark.readStream.schema(ref.schema).parquet(src),
        model, out, ckpt, trigger_once=True,
        metrics_path=str(tmp_path / "m"),
    )
    q.awaitTermination(120)
    row = spark.read.parquet(out).first()
    assert row["n_tok"] == 2 and row["wt_unats"] == 2 * meta["oov_lr_u"]
    # staleness metric: the batch was 100% OOV
    m = spark.read.parquet(str(tmp_path / "m")).first()
    assert (m["n_tok"], m["n_oov"], m["oov_ppm"]) == (2, 2, 1_000_000)

    # poison: bump only the lr stamp (meta keeps the old gen)
    lr_path = f"{model}/lr"
    poisoned = spark.read.parquet(lr_path).withColumn(
        "gen", SF.col("gen") + 1
    )
    poisoned.toPandas().to_parquet(f"{tmp_path}/lr_poison.parquet")
    import shutil
    shutil.rmtree(lr_path)
    spark.createDataFrame(
        spark.read.parquet(f"{tmp_path}/lr_poison.parquet").toPandas()
    ).write.parquet(lr_path)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mixed-generation"):
        load_importance_model(spark, model)


def test_ivf_sq8_quantized_lookup(spark, tmp_path):
    """IVF-SQ8 (round 11b): (a) the quantized path's top-1 agrees with
    the exact path on most fixture queries (int8 on 64-d unit vectors
    keeps ~0.4% per-component error); (b) the codes survive
    save/load/append — appended vectors are served quantized too;
    (c) a legacy index without codes is refused loudly."""
    import pytest

    from eventsgateway_spark.streaming.ann_lookup import (
        ann_lookup_batch,
        append_ivf_index,
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = emb.filter("vec_id < 10")
    idx = build_ivf_index(emb)
    assert "qs" in idx.assign.columns
    exact = {
        r["qid"]: r["neighbor_id"]
        for r in ann_lookup_batch(queries, idx.assign, idx.cents).collect()
        if r["rn"] == 1
    }
    quant = {
        r["qid"]: r["neighbor_id"]
        for r in ann_lookup_batch(
            queries, idx.assign, idx.cents, quantized=True
        ).collect()
        if r["rn"] == 1
    }
    assert set(quant) == set(exact)
    agree = sum(1 for q in exact if exact[q] == quant[q])
    # measured 10/10 on the fixture; assert with margin
    assert agree >= len(exact) - 2, f"SQ8 top-1 agreement {agree}/{len(exact)}"

    try:
        save_ivf_index(emb.filter("vec_id >= 100"), "tsq8_ivf", buckets=4)
        loaded = load_ivf_index(spark, "tsq8_ivf")
        assert "qs" in loaded.assign.columns
        r = append_ivf_index(spark, "tsq8_ivf", emb.filter("vec_id < 100"))
        assert r["n_new_vecs"] > 0
        reloaded = load_ivf_index(spark, "tsq8_ivf")
        # every row — original AND appended — carries codes
        assert reloaded.assign.filter("qs IS NULL").count() == 0
        got = ann_lookup_batch(
            queries, reloaded.assign, reloaded.cents, quantized=True
        )
        assert got.count() > 0
    finally:
        for s in ("_meta", "_assign", "_centroids", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS tsq8_ivf{s}")

    # legacy index shape (no qs column) must refuse, not silently score
    legacy = idx.assign.drop("qs")
    with pytest.raises(ValueError, match="SQ8"):
        ann_lookup_batch(queries, legacy, idx.cents, quantized=True)


def test_stream_importance_refuses_mid_stream_retrain(spark, tmp_path):
    """Round-11b review finding: the lazy lr frame re-reads parquet per
    action, so a retrain between micro-batches would silently pair the
    NEW lr table with the OLD captured OOV constant. The stream calls
    check_model_generation before every batch; pin the guard directly
    (deterministic — driving it through a live availableNow stream
    races the retrain against the first batch)."""
    import pytest as _pytest

    from eventsgateway_spark.streaming.importance import (
        check_model_generation,
        load_importance_model,
        save_importance_model,
    )

    ref = spark.createDataFrame(
        [(0, "alpha beta gamma", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    model = str(tmp_path / "model")
    save_importance_model(ref, model)
    _lr, meta = load_importance_model(spark, model)
    check_model_generation(spark, model, meta["gen"])  # fresh: passes

    save_importance_model(ref, model)  # retrain: gen+1
    with _pytest.raises(ValueError, match="retrained mid-stream"):
        check_model_generation(spark, model, meta["gen"])
    # a restarted stream loads the new gen and proceeds
    _lr2, meta2 = load_importance_model(spark, model)
    assert meta2["gen"] == meta["gen"] + 1
    check_model_generation(spark, model, meta2["gen"])


def test_build_ivf_index_trained_centroids(spark):
    """VERDICT r12 #2: build_ivf_index(train_iters=N) must run the
    Lloyd trainer — trained centroids differ from the first-k seeding,
    the cell count is preserved, every corpus vector gets an
    assignment consistent with the trained centroids, and the default
    train_iters=0 path is byte-identical to the pre-wiring builder.
    save/load round-trips the train_iters stamp through _meta."""
    from eventsgateway_spark.queries.ext_similarity import (
        IVF_K,
        ivf_assign_with,
        norm_view,
    )
    from eventsgateway_spark.streaming.ann_lookup import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seeded = build_ivf_index(emb, IVF_K)
    trained = build_ivf_index(emb, IVF_K, train_iters=3)
    assert seeded.train_iters == 0 and trained.train_iters == 3

    def cent_map(idx):
        row = idx.cents.first()["cents"]
        return {c["cid"]: list(c["ce"]) for c in row}

    sc, tc = cent_map(seeded), cent_map(trained)
    assert len(sc) == len(tc) == IVF_K  # trainer never shrinks cells
    assert sc != tc  # Lloyd rounds actually moved the centers
    n = emb.count()
    assert seeded.assign.count() == trained.assign.count() == n
    # assignments are consistent with the TRAINED centroids: re-running
    # assignment against trained.cents reproduces the stored cells
    re = {
        r["vec_id"]: r["cell_id"]
        for r in ivf_assign_with(
            norm_view(emb), trained.cents, k=IVF_K
        ).collect()
    }
    stored = {r["vec_id"]: r["cell_id"] for r in trained.assign.collect()}
    assert re == stored

    try:
        save_ivf_index(emb, "ttr_ivf", buckets=4, train_iters=2)
        idx = load_ivf_index(spark, "ttr_ivf")
        assert idx.train_iters == 2
        assert cent_map(idx) != sc  # saved index serves trained centers
        assert idx.assign.count() == n
    finally:
        for t in ("ttr_ivf_meta", "ttr_ivf_assign", "ttr_ivf_centroids",
                  "ttr_ivf_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_media_index_save_load_lookup_append(spark):
    """Durable perceptual-signature index (streaming/media_dup.py):
    save/load round-trips the geometry; lookup of the corpus's own
    signatures reproduces EXACTLY the batch pair join
    (hamming_band_pairs) — the serving path and the batch path must
    agree on the pair universe; appends are per-doc idempotent and
    banded with the SAVED geometry; crash windows (phantom meta,
    mixed generations) and parameter mismatches are refused."""
    import pytest

    from eventsgateway_spark.operators.multimodal import (
        image_dhash,
        synthetic_doc_images,
    )
    from eventsgateway_spark.queries.ext_dedup import (
        IMG_HAM_BANDS,
        IMG_HAM_MAX,
        _IMG_BAND_W,
        hamming_band_pairs,
    )
    from eventsgateway_spark.queries._util import pin, unpin_all
    from eventsgateway_spark.streaming.media_dup import (
        append_media_index,
        load_media_index,
        media_lookup_batch,
        save_media_index,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id")
    corpus = docs.filter(F.col("doc_id") < 300)
    sigs = pin(
        image_dhash(synthetic_doc_images(corpus)).select(
            F.col("asset_id").alias("doc_id"), "dhash"
        )
    )
    try:
        save_media_index(sigs, "tmidx", buckets=4)
        idx = load_media_index(spark, "tmidx")
        assert (idx.n_bands, idx.band_w, idx.max_ham) == (
            IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX,
        )

        # serving == batch on the same corpus: every batch pair (d1<d2)
        # appears in the lookup both ways, nothing else
        batch = {
            (r["d1"], r["d2"]): r["hamming"]
            for r in hamming_band_pairs(
                sigs, "dhash", IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX
            ).collect()
        }
        served = {
            (r["qid"], r["doc_id"]): r["hamming"]
            for r in media_lookup_batch(sigs, idx).collect()
        }
        expect = dict(batch)
        expect.update({(d2, d1): h for (d1, d2), h in batch.items()})
        assert served == expect and len(batch) > 50

        # append: new docs admitted once; replay admits nothing
        more = pin(
            image_dhash(
                synthetic_doc_images(docs.filter(F.col("doc_id") >= 300))
            ).select(F.col("asset_id").alias("doc_id"), "dhash")
        )
        r1 = append_media_index(spark, "tmidx", more)
        assert r1["n_new_docs"] == more.count() > 0
        assert r1["n_repaired_docs"] == 0
        r2 = append_media_index(spark, "tmidx", more)  # replay
        assert r2["n_new_docs"] == 0
        assert r2["n_repaired_docs"] == 0
        n_rows = spark.table("tmidx_bands").count()
        assert n_rows == (corpus.count() + more.count()) * IMG_HAM_BANDS

        # a lookup against the reopened index sees appended docs
        idx2 = load_media_index(spark, "tmidx")
        q = more.limit(5)
        hits = media_lookup_batch(q, idx2).collect()
        assert any(r["doc_id"] >= 300 for r in hits)

        # geometry mismatch on re-save is refused
        with pytest.raises(ValueError, match="refused"):
            save_media_index(sigs, "tmidx", buckets=4, bands=4, band_w=8,
                             max_ham=3)
        # loosening the bound past the pigeonhole guarantee is refused
        with pytest.raises(ValueError, match="pigeonhole"):
            media_lookup_batch(sigs, idx2, max_ham=IMG_HAM_BANDS)
        # tightening is allowed and subsets
        tight = {
            (r["qid"], r["doc_id"])
            for r in media_lookup_batch(sigs, idx2, max_ham=2).collect()
        }
        assert tight and tight < set(
            (r["qid"], r["doc_id"])
            for r in media_lookup_batch(sigs, idx2).collect()
        )

        # phantom meta: first save crashed before _bands — next save
        # clears it and completes
        spark.createDataFrame(
            [(7, 8, 6, 4, 1)],
            "bands int, band_w int, max_ham int, buckets int, gen int",
        ).write.mode("overwrite").saveAsTable("tmidx2_meta")
        with pytest.raises(ValueError, match="phantom|save_media_index"):
            load_media_index(spark, "tmidx2")
        save_media_index(sigs, "tmidx2", buckets=4)
        assert load_media_index(spark, "tmidx2").bands.count() > 0

        # mixed generations: meta one gen ahead of bands → refused
        spark.createDataFrame(
            [(IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX, 4, 99)],
            "bands int, band_w int, max_ham int, buckets int, gen int",
        ).write.mode("overwrite").saveAsTable("tmidx2_meta")
        with pytest.raises(ValueError, match="mixed-generation"):
            load_media_index(spark, "tmidx2")
        with pytest.raises(ValueError, match="mixed-generation"):
            append_media_index(spark, "tmidx2", more)
        # a completed re-save restores consistency
        save_media_index(sigs, "tmidx2", buckets=4)
        assert load_media_index(spark, "tmidx2").bands.count() > 0
    finally:
        unpin_all()
        for t in ("tmidx_meta", "tmidx_bands", "tmidx_occ",
                  "tmidx2_meta", "tmidx2_bands", "tmidx2_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_media_index_occ_summary_and_band_repair(spark):
    """Round-14 admission-path contracts: (a) the _occ summary always
    equals a full groupBy of _bands — whether it was rebuilt (legacy /
    missing) or incrementally refreshed — and the returned skew is the
    full-scan value; (b) a planted viral cluster (many copies of one
    signature) fires the skew gate; (c) a doc whose band rows were
    partially committed by a crashed append is detected and repaired
    with exactly its missing rows, rebuilt from the STORED signature."""
    from eventsgateway_spark.operators.multimodal import (
        image_dhash,
        synthetic_doc_images,
    )
    from eventsgateway_spark.queries.ext_dedup import IMG_HAM_BANDS
    from eventsgateway_spark.queries._util import pin, unpin_all
    from eventsgateway_spark.streaming.media_dup import (
        append_media_index,
        load_media_index,
        media_lookup_batch,
        save_media_index,
    )

    def full_occ():
        return {
            (r["band"], r["bval"]): r["n"]
            for r in spark.table("tocc_bands")
            .groupBy("band", "bval")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def occ_tbl():
        return {
            (r["band"], r["bval"]): r["n"]
            for r in spark.table("tocc_occ").collect()
        }

    def full_skew():
        ns = list(full_occ().values())
        return max(ns) / (sum(ns) / len(ns))

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select("doc_id")
    sigs = pin(
        image_dhash(synthetic_doc_images(docs.filter(F.col("doc_id") < 200)))
        .select(F.col("asset_id").alias("doc_id"), "dhash")
    )
    try:
        save_media_index(sigs, "tocc", buckets=4)
        # save wrote a correct summary
        assert occ_tbl() == full_occ()

        # incremental refresh on append matches the full recompute
        more = pin(
            image_dhash(
                synthetic_doc_images(
                    docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
                )
            ).select(F.col("asset_id").alias("doc_id"), "dhash")
        )
        base = append_media_index(spark, "tocc", more)
        assert occ_tbl() == full_occ()
        assert abs(base["bucket_skew"] - full_skew()) < 1e-9

        # legacy index (no _occ): one full rebuild restores the summary
        spark.sql("DROP TABLE tocc_occ")
        r = append_media_index(spark, "tocc", more)  # replay, no new docs
        assert r["n_new_docs"] == 0 and occ_tbl() == full_occ()

        # planted viral cluster: 500 docs sharing ONE signature
        viral_sig = sigs.limit(1).collect()[0]["dhash"]
        viral = spark.range(100000, 100500).select(
            F.col("id").alias("doc_id"), F.lit(viral_sig).alias("dhash")
        )
        rv = append_media_index(spark, "tocc", viral)
        assert rv["n_new_docs"] == 500
        assert occ_tbl() == full_occ()
        assert rv["bucket_skew"] > 5 * base["bucket_skew"]

        # --- band repair: fake a partial job commit by rewriting the
        # table without two of one doc's band rows
        victim = 42
        kept = spark.table("tocc_bands").filter(
            ~((F.col("doc_id") == victim) & (F.col("band") >= 5))
        ).localCheckpoint()
        kept.write.bucketBy(4, "bval").sortBy("bval").mode(
            "overwrite"
        ).saveAsTable("tocc_bands")
        assert (
            spark.table("tocc_bands").filter(F.col("doc_id") == victim).count()
            == IMG_HAM_BANDS - 2
        )
        # replaying an admission batch containing the victim repairs it
        # from the STORED sig (send a corrupted batch sig to prove
        # first-write-wins)
        batch = sigs.filter(F.col("doc_id") == victim).select(
            "doc_id", (F.col("dhash") + 1).alias("dhash")
        )
        rr = append_media_index(spark, "tocc", batch)
        assert rr["n_new_docs"] == 0 and rr["n_repaired_docs"] == 1
        rows = (
            spark.table("tocc_bands").filter(F.col("doc_id") == victim).collect()
        )
        assert len(rows) == IMG_HAM_BANDS
        assert {r["band"] for r in rows} == set(range(IMG_HAM_BANDS))
        stored = sigs.filter(F.col("doc_id") == victim).collect()[0]["dhash"]
        assert all(r["sig"] == stored for r in rows)
        assert occ_tbl() == full_occ()
        # repaired doc is fully servable again: a 1-bit-flipped probe
        # of the victim's signature MUST hit doc 42 through the index
        # (round-14 review: asserting only on whatever hits come back
        # is vacuously true when the result is empty)
        idx = load_media_index(spark, "tocc")
        probe = spark.createDataFrame(
            [(999_999, int(stored) ^ 1)], "doc_id long, dhash long"
        )
        hits = media_lookup_batch(probe, idx).collect()
        assert (999_999, victim, 1) in {
            (r["qid"], r["doc_id"], r["hamming"]) for r in hits
        }

        # _meta dropped out-of-band → friendly refusal, not AnalysisException
        import pytest

        spark.sql("DROP TABLE tocc_meta")
        with pytest.raises(ValueError, match="_meta"):
            load_media_index(spark, "tocc")
        with pytest.raises(ValueError, match="_meta"):
            append_media_index(spark, "tocc", batch)
    finally:
        unpin_all()
        for t in ("tocc_meta", "tocc_bands", "tocc_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_media_index_wide_geometry_roundtrip(spark):
    """Round-15 derived-geometry tier (VERDICT r14 #2): wide
    ``array<bigint>`` signatures — one band_w-bit word per band — ride
    the SAME banding/verify/index/repair law as the 56-bit BIGINT
    tier. Covers: pigeonhole recall at a derived geometry, save/load/
    append/lookup round-trip, band repair rebuilt from a stored ARRAY
    signature, the torn-signature guard (ADVICE r14), and the two
    refusals (BIGINT lane too narrow for the geometry; query/index
    representation mismatch)."""
    import numpy as np
    import pandas as pd
    import pytest

    from eventsgateway_spark.queries.ext_dedup import (
        hamming_band_pairs,
        media_geometry_for_rows,
    )
    from eventsgateway_spark.streaming.media_dup import (
        append_media_index,
        load_media_index,
        media_lookup_batch,
        save_media_index,
    )

    bands, band_w = media_geometry_for_rows(50_000)
    assert (bands, band_w) == (7, 10)  # 70 bits: past any BIGINT lane
    rng = np.random.default_rng(11)
    n = 300
    sigs = rng.integers(0, 1 << band_w, size=(n, bands), dtype=np.int64)

    def aslists(arr):
        return [[int(x) for x in row] for row in arr]

    def flip(sig, flat_bits):
        out = [int(x) for x in sig]
        for fb in flat_bits:
            out[fb // band_w] ^= 1 << (fb % band_w)
        return out

    # pigeonhole property at the derived geometry: EVERY planted pair
    # within Hamming max_ham=bands-1 is recovered with its exact
    # distance, across many random spreads of the flipped bits
    planted = {}
    for j, seed in enumerate(range(20)):
        prng = np.random.default_rng(seed)
        base = int(prng.integers(0, n // 2))
        ham = int(prng.integers(1, bands))  # 1..6
        bits = prng.choice(bands * band_w, size=ham, replace=False)
        sigs[n // 2 + j] = flip(sigs[base], bits)
        planted[(base, n // 2 + j)] = ham
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": np.arange(n, dtype=np.int64), "dhash": aslists(sigs)}
        )
    )
    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in hamming_band_pairs(df, "dhash", bands, band_w, bands - 1).collect()
    }
    for pair, ham in planted.items():
        assert got.get(pair) == ham, (pair, ham, got.get(pair))

    try:
        for t in ("twide_meta", "twide_bands", "twide_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        # BIGINT sigs cannot carry a >62-bit geometry: refused loudly
        long_df = spark.createDataFrame(
            [(1, 12345)], "doc_id long, dhash long"
        )
        with pytest.raises(ValueError, match="62-bit"):
            save_media_index(long_df, "twide", bands=bands, band_w=band_w)

        save_media_index(df, "twide", bands=bands, band_w=band_w, buckets=4)
        idx = load_media_index(spark, "twide")
        assert (idx.n_bands, idx.band_w) == (bands, band_w)

        # representation mismatch: BIGINT queries on a wide index
        with pytest.raises(ValueError, match="representation"):
            media_lookup_batch(long_df, idx)

        # lookup: a 2-bit-flipped probe of doc 7 must hit doc 7
        probe = spark.createDataFrame(
            pd.DataFrame({"doc_id": [999_000], "dhash": [flip(sigs[7], [3, 64])]})
        )
        hits = {
            (r["qid"], r["doc_id"], r["hamming"])
            for r in media_lookup_batch(probe, idx).collect()
        }
        assert (999_000, 7, 2) in hits

        # append + replay idempotence with array signatures
        a_sigs = rng.integers(0, 1 << band_w, size=(30, bands), dtype=np.int64)
        adf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": np.arange(10_000, 10_030, dtype=np.int64),
                    "dhash": aslists(a_sigs),
                }
            )
        )
        r1 = append_media_index(spark, "twide", adf)
        r2 = append_media_index(spark, "twide", adf)
        assert r1["n_new_docs"] == 30 and r2["n_new_docs"] == 0
        assert r1["n_torn_sig_docs"] == r2["n_torn_sig_docs"] == 0

        # band repair from a stored ARRAY signature: drop two band rows
        # of doc 10_003, replay with a CORRUPTED batch sig — the repair
        # must rebuild the missing rows from the stored array
        victim = 10_003
        kept = (
            spark.table("twide_bands")
            .filter(~((F.col("doc_id") == victim) & (F.col("band") >= bands - 2)))
            .localCheckpoint()
        )
        kept.write.bucketBy(4, "bval").sortBy("bval").mode(
            "overwrite"
        ).saveAsTable("twide_bands")
        stored = aslists(a_sigs)[3]
        bad_batch = spark.createDataFrame(
            pd.DataFrame({"doc_id": [victim], "dhash": [flip(stored, [0])]})
        )
        rr = append_media_index(spark, "twide", bad_batch)
        assert rr["n_new_docs"] == 0 and rr["n_repaired_docs"] == 1
        rows = (
            spark.table("twide_bands").filter(F.col("doc_id") == victim).collect()
        )
        assert {r["band"] for r in rows} == set(range(bands))
        assert all(list(r["sig"]) == stored for r in rows)

        # torn-signature guard (ADVICE r14): doc 10_005 loses one band
        # row AND one of its remaining rows carries a different sig —
        # reported, NOT repaired (min(sig) would fabricate)
        torn = 10_005
        tbl = spark.table("twide_bands")
        torn_stored = aslists(a_sigs)[5]
        patched = (
            tbl.filter(~((F.col("doc_id") == torn) & (F.col("band") == 0)))
            .withColumn(
                "sig",
                F.when(
                    (F.col("doc_id") == torn) & (F.col("band") == 1),
                    F.array(*[F.lit(int(x) ^ 1) for x in torn_stored]),
                ).otherwise(F.col("sig")),
            )
            .localCheckpoint()
        )
        patched.write.bucketBy(4, "bval").sortBy("bval").mode(
            "overwrite"
        ).saveAsTable("twide_bands")
        rt = append_media_index(
            spark,
            "twide",
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [torn], "dhash": [torn_stored]})
            ),
        )
        assert rt["n_new_docs"] == 0 and rt["n_repaired_docs"] == 0
        assert rt["n_torn_sig_docs"] == 1
        # still incomplete — the documented remediation is delete +
        # re-append, never a silent min(sig) fabrication
        assert (
            spark.table("twide_bands").filter(F.col("doc_id") == torn).count()
            == bands - 1
        )
    finally:
        for t in ("twide_meta", "twide_bands", "twide_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_media_occ_invariant_over_random_append_sequence(spark):
    """Protocol soak for streaming/occ.py through the media index: a
    seeded sequence of overlapping admission batches (fresh docs,
    replays, mixtures, an empty batch, plus a mid-sequence _occ drop
    and a gen-bumping re-save) must keep the incremental summary equal
    to a full recount of _bands after EVERY step — the invariant both
    index families' skew gates stand on."""
    import random

    from eventsgateway_spark.streaming.media_dup import (
        append_media_index,
        save_media_index,
    )

    rng = random.Random(99)

    def sig_batch(ids):
        return spark.createDataFrame(
            [(i, (i * 2654435761) % (1 << 56)) for i in ids],
            "doc_id long, dhash long",
        )

    def occ_equal():
        full = {
            (r["band"], r["bval"]): r["n"]
            for r in spark.table("tseq_bands")
            .groupBy("band", "bval")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {
            (r["band"], r["bval"]): r["n"]
            for r in spark.table("tseq_occ").collect()
        }
        return got == full

    try:
        save_media_index(sig_batch(range(100)), "tseq", buckets=4)
        assert occ_equal()
        admitted = set(range(100))
        for step in range(6):
            if step == 2:
                spark.sql("DROP TABLE tseq_occ")  # legacy rebuild path
            if step == 4:
                # gen bump: re-save with same geometry over a superset
                save_media_index(
                    sig_batch(sorted(admitted | {5000, 5001})), "tseq",
                    buckets=4,
                )
                admitted |= {5000, 5001}
                assert occ_equal()
            n_old = rng.randrange(0, 30)
            olds = rng.sample(sorted(admitted), n_old) if n_old else []
            news = list(range(1000 + step * 50, 1000 + step * 50 + rng.randrange(0, 40)))
            r = append_media_index(spark, "tseq", sig_batch(olds + news))
            assert r["n_new_docs"] == len(news)
            admitted |= set(news)
            assert occ_equal(), step
        # empty batch is a no-op that still keeps the invariant
        r = append_media_index(spark, "tseq", sig_batch([]))
        assert r["n_new_docs"] == 0 and occ_equal()
    finally:
        for t in ("tseq_meta", "tseq_bands", "tseq_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_media_dedup_against_index(spark, tmp_path):
    """Streaming perceptual dedup: incoming image assets are hashed
    and checked against a signature index built once; a re-encoded /
    upscaled copy of an indexed image routes to the dup sink with the
    match's id + Hamming evidence, a genuinely different image routes
    novel. Replay idempotence comes from batch_id dynamic overwrite
    (the near_dup sink contract — shared _idempotent_append)."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _nn_resize,
        _synth_pixel_vals,
        encode_png,
        encode_ppm,
        image_dhash,
        synthetic_doc_images,
    )
    from eventsgateway_spark.queries._util import unpin_all
    from eventsgateway_spark.streaming.media_dup import (
        build_media_index,
        stream_media_dedup,
    )

    corpus_docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    sigs = image_dhash(synthetic_doc_images(corpus_docs)).select(
        F.col("asset_id").alias("doc_id"), "dhash"
    )
    index = build_media_index(sigs)

    # incoming: asset 500 = corpus doc 7 re-encoded as PNG and 2x
    # NN-upscaled (dhash-invariant transforms); asset 501 = an image
    # from a FAR group (doc 9990: base 999 — unrelated content)
    v7 = _synth_pixel_vals([7])[0].astype(np.uint8)
    img7 = np.repeat(v7[:, :, None], 3, axis=2)
    dup_payload = encode_png(_nn_resize(img7, 32, 32))
    v_far = _synth_pixel_vals([9990])[0].astype(np.uint8)
    novel_payload = encode_ppm(np.repeat(v_far[:, :, None], 3, axis=2))
    incoming = spark.createDataFrame(
        [
            (500, "image/png", bytearray(dup_payload), len(dup_payload)),
            (501, "image/ppm", bytearray(novel_payload), len(novel_payload)),
        ],
        "asset_id long, media_type string, payload binary, n_bytes long",
    )
    src = str(tmp_path / "assets")
    incoming.coalesce(1).write.parquet(src)

    q = stream_media_dedup(
        spark.readStream.schema(incoming.schema).parquet(src),
        index,
        novel_path=str(tmp_path / "novel"),
        dup_path=str(tmp_path / "dups"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(120)

    dups = spark.read.parquet(str(tmp_path / "dups")).collect()
    novel = spark.read.parquet(str(tmp_path / "novel")).collect()
    # invariant transforms give an exact signature match (hamming 0);
    # docs 6 and 7 share one signature (adjacent planted levels can
    # collide), so the min-struct law breaks the tie to the SMALLER id
    assert [(r["asset_id"], r["matched_id"], r["hamming"]) for r in dups] == [
        (500, 6, 0)
    ]
    assert [r["asset_id"] for r in novel] == [501]
    unpin_all()


def test_stream_media_dedup_quarantines_unhashable(spark, tmp_path):
    """Un-hashable assets (NULL payload — the default hasher drops
    them before signatures) route to the quarantine sink when
    ``quarantine_path`` is given, and to the novel sink (the
    documented default) when it is not — never silently lost
    (ADVICE r13)."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        encode_ppm,
        image_dhash,
        synthetic_doc_images,
    )
    from eventsgateway_spark.queries._util import unpin_all
    from eventsgateway_spark.streaming.media_dup import (
        build_media_index,
        stream_media_dedup,
    )
    from eventsgateway_spark.operators.multimodal import _synth_pixel_vals

    corpus_docs = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    )
    sigs = image_dhash(synthetic_doc_images(corpus_docs)).select(
        F.col("asset_id").alias("doc_id"), "dhash"
    )
    index = build_media_index(sigs)

    v_far = _synth_pixel_vals([9990])[0].astype(np.uint8)
    novel_payload = encode_ppm(np.repeat(v_far[:, :, None], 3, axis=2))
    incoming = spark.createDataFrame(
        [
            (600, "image/ppm", bytearray(novel_payload), len(novel_payload)),
            (601, "image/ppm", None, 0),  # un-hashable
        ],
        "asset_id long, media_type string, payload binary, n_bytes long",
    )
    src = str(tmp_path / "assets")
    incoming.coalesce(1).write.parquet(src)

    # with a quarantine sink: NULL-payload goes there, not to novel
    q = stream_media_dedup(
        spark.readStream.schema(incoming.schema).parquet(src),
        index,
        novel_path=str(tmp_path / "novel"),
        dup_path=str(tmp_path / "dups"),
        checkpoint=str(tmp_path / "ckpt"),
        trigger_once=True,
        quarantine_path=str(tmp_path / "quar"),
    )
    q.awaitTermination(120)
    assert [r["asset_id"] for r in
            spark.read.parquet(str(tmp_path / "novel")).collect()] == [600]
    quar = spark.read.parquet(str(tmp_path / "quar")).collect()
    assert [(r["asset_id"], r["payload"]) for r in quar] == [(601, None)]

    # default (no quarantine): both flow to novel
    q2 = stream_media_dedup(
        spark.readStream.schema(incoming.schema).parquet(src),
        index,
        novel_path=str(tmp_path / "novel2"),
        dup_path=str(tmp_path / "dups2"),
        checkpoint=str(tmp_path / "ckpt2"),
        trigger_once=True,
    )
    q2.awaitTermination(120)
    assert sorted(
        r["asset_id"]
        for r in spark.read.parquet(str(tmp_path / "novel2")).collect()
    ) == [600, 601]
    unpin_all()
