"""The JVM Avro codec (``eventsgateway_spark/jvm/``) against the
pure-Python reference codec: byte-identical encodes and equal decodes
over the schema's edge cases; one UDF pair per SparkContext under
concurrent first use; and the build's failure when no ``javac``
exists."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from eventsgateway_spark.schemas import AVRO_EVENT_SCHEMA, AVRO_EVENT_SCHEMA_JSON
from eventsgateway_spark.sources import avro_codec
from eventsgateway_spark.sources.avro_codec import (
    decode_event,
    encode_event,
    from_avro_col,
    to_avro_col,
)

LONG_MAX = 2**63 - 1
LONG_MIN = -(2**63)
# code points of 1 to 4 UTF-8 bytes; no surrogates, which no UTF-8
# string can hold
_ALPHABET = "aZ09 -_é€ü中文😀\U0010fffd"


def _text(rng: random.Random, max_bytes: int) -> str:
    out, size = [], 0
    target = rng.randint(0, max_bytes)
    while True:
        ch = rng.choice(_ALPHABET)
        size += len(ch.encode("utf-8"))
        if size > target:
            return "".join(out)
        out.append(ch)


def _cases() -> list[tuple]:
    """(id, name, props, serverTimestamp, clientTimestamp) rows: the
    long boundaries, 0 to 11 props in a fixed order (a map of more
    than 4 entries is where a hash map would reorder), NULL props and
    UTF-8 names up to 1.2 KB (past the 1-byte varint lengths)."""
    rng = random.Random(7)
    longs = [0, 1, -1, 63, -64, 64, LONG_MAX, -LONG_MAX, LONG_MIN]
    rows = []
    for i in range(400):
        n = i % 12
        props = None if i % 13 == 5 else {
            f"k{j}-{_text(rng, 24)}": _text(rng, 40) for j in range(n)
        }
        rows.append((
            f"id-{i}-{_text(rng, 30)}",
            _text(rng, 1200),
            props,
            longs[i % len(longs)] if i % 2 else rng.randint(LONG_MIN, LONG_MAX),
            longs[(i + 4) % len(longs)] if i % 3 else rng.randint(LONG_MIN, LONG_MAX),
        ))
    return rows


def _frame(spark, rows):
    """``rows`` as a frame whose props maps keep the dicts' order:
    built from key and value arrays inside Spark, because a Python
    dict reaches the JVM as a hash map."""
    flat = [
        (i, id_, name,
         None if props is None else list(props),
         None if props is None else list(props.values()), sts, cts)
        for i, (id_, name, props, sts, cts) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        flat,
        "i long, id string, name string, ks array<string>, vs array<string>, "
        "serverTimestamp long, clientTimestamp long",
    )
    return df.select(
        "i", "id", "name",
        F.map_from_arrays("ks", "vs").alias("props"),
        "serverTimestamp", "clientTimestamp",
    )


def _decoded(spark, values) -> list[tuple]:
    """JVM-decode ``values`` (bytes, in order); props come back as
    their key and value lists, so their order is visible."""
    df = spark.createDataFrame(
        list(enumerate(values)), "i long, value binary"
    ).select("i", from_avro_col(spark).alias("e"))
    rows = df.select(
        "i", "e.id", "e.name", F.map_keys("e.props"), F.map_values("e.props"),
        "e.serverTimestamp", "e.clientTimestamp",
    ).orderBy("i").collect()
    return [tuple(r)[1:] for r in rows]


def _reference(raw: bytes) -> tuple:
    rec = decode_event(raw)
    props = rec["props"]
    return (rec["id"], rec["name"], list(props), list(props.values()),
            rec["serverTimestamp"], rec["clientTimestamp"])


def test_jvm_codec_matches_python_reference(spark):
    """Every JVM encode equals ``encode_event`` of the original Python
    inputs byte for byte, and the JVM decode of those bytes equals
    ``decode_event``, props order included."""
    rows = _cases()
    encoded = (
        _frame(spark, rows)
        .select("i", to_avro_col(spark).alias("value"))
        .orderBy("i")
        .collect()
    )
    got = [bytes(r["value"]) for r in encoded]
    want = [encode_event(*row) for row in rows]
    mismatched = [i for i, (g, w) in enumerate(zip(got, want)) if g != w]
    assert len(got) == len(rows) and not mismatched, mismatched[:5]
    assert _decoded(spark, got) == [_reference(raw) for raw in got]


def _avro(*items: int | str) -> bytes:
    """Avro binary of a sequence of longs and strings."""
    ba = bytearray()
    for item in items:
        if isinstance(item, int):
            avro_codec._enc_long(ba, item)
        else:
            avro_codec._enc_str(ba, item)
    return bytes(ba)


def test_jvm_decode_reads_negative_block_counts(spark):
    """A props map written as two blocks, the first with a negative
    count and its byte size (as buffering Avro writers emit it),
    decodes to the same record on the JVM as in ``decode_event``."""
    first = _avro("a", "1", "b", "2")
    raw = (
        _avro("id-1", "name", -2, len(first)) + first
        + _avro(1, "c", "3", 0, LONG_MIN, LONG_MAX)
    )
    want = ("id-1", "name", ["a", "b", "c"], ["1", "2", "3"], LONG_MIN, LONG_MAX)
    assert _reference(raw) == want
    assert _decoded(spark, [raw]) == [want]


def test_schema_json_matches_struct():
    """The Avro schema both codecs implement has the storage struct's
    fields, in its order."""
    fields = [f["name"] for f in json.loads(AVRO_EVENT_SCHEMA_JSON)["fields"]]
    assert fields == AVRO_EVENT_SCHEMA.fieldNames()


def test_first_codec_use_builds_udfs_once_across_threads(spark, monkeypatch):
    """Concurrent first uses (the threading HTTP server's requests)
    share one (encode, decode) pair: the check-then-build runs under a
    lock, so no thread sees a half-registered codec."""
    import sys
    import threading

    sc = spark.sparkContext
    monkeypatch.delattr(sc, avro_codec._UDFS_ATTR, raising=False)
    results, errors = [], []

    def first_use():
        try:
            results.append(avro_codec._codec_udfs(spark))
        except Exception as ex:  # reported below, not lost in the thread
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_use) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert len(results) == 8 and all(r is results[0] for r in results)
    assert getattr(sc, avro_codec._UDFS_ATTR) is results[0]


def test_codec_build_without_javac_names_it(tmp_path, monkeypatch):
    """With no compiled jar for the current sources and no ``javac``
    to be found, the build fails with an error that names javac."""
    monkeypatch.setattr(avro_codec, "BUILD_DIR", str(tmp_path / "build"))
    monkeypatch.setattr(avro_codec.shutil, "which", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="javac"):
        avro_codec.codec_jar([])
    assert not (tmp_path / "build").exists()
