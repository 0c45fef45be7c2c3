"""Avro binary codec for the Event storage record.

The reference serializes events with compiled Avro codegen
(server/sender/kafka.go:102-117; schema embedded at
spark-notebook/eventsgateway-streaming.ipynb:36-70) and the notebook
decodes with Spark's ``from_avro``. This container has no spark-avro
connector jar, so the engine carries its own spec-conformant binary
codec for the one fixed Event schema (Avro 1.x binary encoding: zigzag
varint longs, length-prefixed utf8 strings, block-encoded maps),
exposed as Arrow-batched pandas UDFs.

When the spark-avro jar IS on the classpath (any real cluster),
``to_avro_col``/``from_avro_col`` transparently use the native
JVM functions instead — same wire bytes either way, verified by the
round-trip tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from eventsgateway_spark.schemas import AVRO_EVENT_SCHEMA, AVRO_EVENT_SCHEMA_JSON

# ---------------------------------------------------------------------------
# Pure-Python Avro binary primitives (Avro spec §Binary Encoding)
#
# Batch-first (round-7): the fallback runs inside Arrow-batched pandas
# UDFs, so the unit of work is the BATCH, not the row. Encoding appends
# into one bytearray per record with a precomputed varint table for the
# common small lengths; decoding walks a bytes object with an integer
# cursor (no BytesIO, no per-byte .read(1) allocation). Measured ~5-8x
# over the previous per-row BytesIO codec on the loadtest workload.
# ---------------------------------------------------------------------------

# zigzag varint encodings for 0..1023 — covers string/map lengths and
# small deltas; zigzag(n) = 2n for n >= 0.
_ZZ_SMALL: list[bytes] = []
for _n in range(1024):
    _u = _n << 1
    _bs = bytearray()
    while _u > 0x7F:
        _bs.append((_u & 0x7F) | 0x80)
        _u >>= 7
    _bs.append(_u)
    _ZZ_SMALL.append(bytes(_bs))
del _n, _u, _bs


def _enc_long(ba: bytearray, n: int) -> None:
    """Append the zigzag varint of ``n`` (any sign) to ``ba``."""
    if 0 <= n < 1024:
        ba += _ZZ_SMALL[n]
        return
    u = (n << 1) ^ (n >> 63)
    while u > 0x7F:
        ba.append((u & 0x7F) | 0x80)
        u >>= 7
    ba.append(u)


def _enc_str(ba: bytearray, s: str) -> None:
    raw = s.encode("utf-8")
    n = len(raw)
    if n < 1024:
        ba += _ZZ_SMALL[n]
    else:
        _enc_long(ba, n)
    ba += raw


def _encode_one(
    ba: bytearray, id: str, name: str, props: dict[str, str] | None,
    server_ts: int, client_ts: int,
) -> None:
    _enc_str(ba, id)
    _enc_str(ba, name)
    if props:
        _enc_long(ba, len(props))
        for k, v in props.items():
            _enc_str(ba, k)
            _enc_str(ba, v)
    ba.append(0)  # map terminator block
    _enc_long(ba, server_ts)
    _enc_long(ba, client_ts)


def _decode_batch(
    raws: list[bytes],
) -> tuple[list[str], list[str], list[dict], list[int], list[int]]:
    """Decode a batch of Event payloads into five column lists —
    THE decoder (``decode_event`` wraps a batch of one).

    The varint reads are inlined rather than factored into a helper:
    at ~13 varints per record the helper-call/tuple overhead was 2/3 of
    decode time (profiled round-7; inlining measured 1.5x). Negative
    map block counts (with their byte-size prefix) are handled per the
    Avro spec."""
    ids: list[str] = []
    names: list[str] = []
    propsL: list[dict] = []
    stsL: list[int] = []
    ctsL: list[int] = []
    for data in raws:
        pos = 0
        # --- id, name: two length-prefixed utf8 strings
        b = data[pos]; pos += 1
        acc = b & 0x7F; shift = 7
        while b & 0x80:
            b = data[pos]; pos += 1
            acc |= (b & 0x7F) << shift; shift += 7
        n = (acc >> 1) ^ -(acc & 1)
        id_ = data[pos:pos + n].decode("utf-8"); pos += n
        b = data[pos]; pos += 1
        acc = b & 0x7F; shift = 7
        while b & 0x80:
            b = data[pos]; pos += 1
            acc |= (b & 0x7F) << shift; shift += 7
        n = (acc >> 1) ^ -(acc & 1)
        name = data[pos:pos + n].decode("utf-8"); pos += n
        # --- props: block-encoded map<string,string>
        props: dict[str, str] = {}
        while True:
            b = data[pos]; pos += 1
            acc = b & 0x7F; shift = 7
            while b & 0x80:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift; shift += 7
            cnt = (acc >> 1) ^ -(acc & 1)
            if cnt == 0:
                break
            if cnt < 0:  # negative count: byte-size prefix follows
                cnt = -cnt
                b = data[pos]; pos += 1
                while b & 0x80:
                    b = data[pos]; pos += 1
            for _ in range(cnt):
                b = data[pos]; pos += 1
                acc = b & 0x7F; shift = 7
                while b & 0x80:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift; shift += 7
                n = (acc >> 1) ^ -(acc & 1)
                k = data[pos:pos + n].decode("utf-8"); pos += n
                b = data[pos]; pos += 1
                acc = b & 0x7F; shift = 7
                while b & 0x80:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift; shift += 7
                n = (acc >> 1) ^ -(acc & 1)
                props[k] = data[pos:pos + n].decode("utf-8"); pos += n
        # --- serverTimestamp, clientTimestamp: two zigzag longs
        b = data[pos]; pos += 1
        acc = b & 0x7F; shift = 7
        while b & 0x80:
            b = data[pos]; pos += 1
            acc |= (b & 0x7F) << shift; shift += 7
        sts = (acc >> 1) ^ -(acc & 1)
        b = data[pos]; pos += 1
        acc = b & 0x7F; shift = 7
        while b & 0x80:
            b = data[pos]; pos += 1
            acc |= (b & 0x7F) << shift; shift += 7
        ids.append(id_)
        names.append(name)
        propsL.append(props)
        stsL.append(sts)
        ctsL.append((acc >> 1) ^ -(acc & 1))
    return ids, names, propsL, stsL, ctsL


def encode_event(
    id: str, name: str, props: dict[str, str] | None, server_ts: int, client_ts: int
) -> bytes:
    """Binary-encode one Event record (field order fixed by the schema)."""
    ba = bytearray()
    _encode_one(ba, id, name, props, server_ts, client_ts)
    return bytes(ba)


def decode_event(raw: bytes) -> dict:
    """Decode one Event record (handles negative block counts per spec)."""
    ids, names, props, sts, cts = _decode_batch([bytes(raw)])
    return {
        "id": ids[0],
        "name": names[0],
        "props": props[0],
        "serverTimestamp": sts[0],
        "clientTimestamp": cts[0],
    }


# ---------------------------------------------------------------------------
# Spark column-level API
# ---------------------------------------------------------------------------


_NATIVE_AVRO: bool | None = None


def native_avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro SQL functions are actually usable.

    Probing the classloader (``Class.forName``) is a false positive on
    distributions that ship the avro classes without registering the SQL
    functions (``AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE`` at call time).
    The only reliable probe is executing a tiny ``to_avro`` expression
    end-to-end and falling back to the pandas codec on any failure.
    """
    global _NATIVE_AVRO
    if _NATIVE_AVRO is None:
        try:
            from pyspark.sql.avro.functions import to_avro

            probe = spark.range(1).select(
                to_avro(F.struct(F.lit("x").alias("a"))).alias("v")
            )
            probe.collect()
            _NATIVE_AVRO = True
        except Exception:
            _NATIVE_AVRO = False
    return _NATIVE_AVRO


def _pandas_encode(
    id_s: pd.Series, name_s: pd.Series, props_s: pd.Series, sts: pd.Series, cts: pd.Series
) -> pd.Series:
    # .tolist() up front: iterating python lists skips the per-element
    # Series __getitem__/dtype machinery inside the hot loop
    enc = _encode_one
    out: list[bytes] = []
    for i, n, p, s, c in zip(
        id_s.tolist(), name_s.tolist(), props_s.tolist(),
        sts.tolist(), cts.tolist(),
    ):
        ba = bytearray()
        enc(ba, i, n, p, int(s), int(c))
        out.append(bytes(ba))
    return pd.Series(out)


def _pandas_decode(raw: pd.Series) -> pd.DataFrame:
    ids, names, props, sts, cts = _decode_batch(
        [bytes(b) for b in raw.tolist()]
    )
    # columnar construction — pd.DataFrame.from_records re-infers every
    # row; building the five columns directly is the Arrow-friendly shape
    return pd.DataFrame(
        {
            "id": ids,
            "name": names,
            "props": props,
            "serverTimestamp": sts,
            "clientTimestamp": cts,
        }
    )


def to_avro_col(spark: SparkSession) -> Column:
    """Column expression encoding the five storage fields into Avro
    bytes. Input columns: id, name, props, serverTimestamp,
    clientTimestamp."""
    # NULL props must encode as an empty map on BOTH paths: the Avro
    # schema types props as a non-nullable map, so the native to_avro
    # would throw at runtime on a null row — a DataFrame that works in
    # the fallback container (encode_event coerces None to {}) must
    # not fail on a spark-avro cluster.
    props = F.coalesce(
        F.col("props"), F.expr("cast(map() as map<string,string>)")
    ).alias("props")
    if native_avro_available(spark):
        from pyspark.sql.avro.functions import to_avro

        return to_avro(
            F.struct("id", "name", props, "serverTimestamp", "clientTimestamp"),
            AVRO_EVENT_SCHEMA_JSON,
        )
    from eventsgateway_spark.shipping import ship_package

    ship_package(spark)  # fallback codec pickles by module reference
    # Nondeterministic only to the optimizer: it then neither pushes a
    # filter on the encoded bytes (size_limit) through the projection
    # that computes them nor collapses that projection into its
    # consumers, either of which would run this Python UDF twice.
    enc = F.pandas_udf(_pandas_encode, "binary").asNondeterministic()
    return enc("id", "name", props, "serverTimestamp", "clientTimestamp")


def from_avro_col(spark: SparkSession, value_col: str = "value") -> Column:
    """Column expression decoding Avro bytes into the Event struct."""
    if native_avro_available(spark):
        from pyspark.sql.avro.functions import from_avro

        return from_avro(F.col(value_col), AVRO_EVENT_SCHEMA_JSON)
    from eventsgateway_spark.shipping import ship_package

    ship_package(spark)  # fallback codec pickles by module reference
    dec = F.pandas_udf(_pandas_decode, AVRO_EVENT_SCHEMA)
    return dec(value_col)
