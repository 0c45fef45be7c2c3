"""Avro binary codec for the Event storage record.

The reference serializes events with compiled Avro codegen
(server/sender/kafka.go:102-117; schema embedded at
spark-notebook/eventsgateway-streaming.ipynb:36-70) and the notebook
decodes with Spark's ``from_avro``. The spark-avro connector is not a
Spark built-in, but the Avro library it wraps ships in Spark's own
jars, so the engine carries one JVM codec for the one fixed Event
schema: two Java UDFs (``eventsgateway_spark/jvm/``) over Avro's
binary encoder and decoder. ``to_avro_col``/``from_avro_col`` return
plain JVM expressions, so neither the ingest encode nor the ETL decode
starts a Python worker.

The sources are compiled with ``javac`` on the first codec use in a
JVM, into ``eventsgateway_spark/jvm/build/`` keyed by their hash, so a
checkout compiles once per source change; a host without ``javac``
gets an error that says so.

``encode_event``/``decode_event`` are a pure-Python implementation of
the same binary encoding (zigzag varint longs, length-prefixed utf8
strings, block-encoded maps). They are the reference the JVM codec is
tested against byte for byte, and what clients and tests use to read
payloads on the driver.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import zipfile

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventsgateway_spark.schemas import AVRO_EVENT_SCHEMA

# ---------------------------------------------------------------------------
# Pure-Python Avro binary primitives (Avro spec §Binary Encoding)
#
# Encoding appends into one bytearray per record with a precomputed
# varint table for the common small lengths; decoding walks a bytes
# object with an integer cursor (no BytesIO, no per-byte .read(1)
# allocation), so checking many payloads on the driver stays cheap.
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
# Spark column-level API: the JVM codec
# ---------------------------------------------------------------------------

_JVM_SRC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jvm"
)
#: Compiled jars, one per source hash (git-ignored).
BUILD_DIR = os.path.join(_JVM_SRC, "build")
_SOURCES = ("EventAvroEncode.java", "EventAvroDecode.java")
_PACKAGE = "eventsgateway_spark.jvm."
#: One class from each jar the sources compile against; the running
#: JVM says where it loaded them from.
_CLASSPATH_ANCHORS = (
    "org.apache.avro.io.EncoderFactory",
    "org.apache.spark.sql.api.java.UDF6",
    "scala.collection.Seq",
    "scala.reflect.api.TypeTags",  # named by functions.udf's overloads
)
_UDFS_ATTR = "_eventsgateway_avro_udfs"
# The threading HTTP ingest server can make its first codec calls from
# several threads at once; one of them builds and registers.
_UDFS_LOCK = threading.Lock()


def _javac() -> str:
    home = os.environ.get("JAVA_HOME")
    search = os.pathsep.join(
        p for p in (home and os.path.join(home, "bin"), os.environ.get("PATH")) if p
    )
    javac = shutil.which("javac", path=search)
    if javac is None:
        raise RuntimeError(
            "the Avro codec is compiled from eventsgateway_spark/jvm/*.java "
            "on first use and needs javac (a JDK 17 or newer) on PATH or "
            "under JAVA_HOME; no javac was found"
        )
    return javac


def codec_jar(classpath: list[str]) -> str:
    """Path of the codec jar for the current Java sources, compiling
    it against ``classpath`` if this source hash has no jar yet. The
    jar is written under a temporary name and renamed into place, so
    concurrent builders never expose a partial jar."""
    sources = [os.path.join(_JVM_SRC, name) for name in _SOURCES]
    digest = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as fh:
            digest.update(fh.read())
    jar = os.path.join(BUILD_DIR, f"event-avro-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = _javac()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix=".compile-", dir=BUILD_DIR) as tmp:
        classes = os.path.join(tmp, "classes")
        # a short-lived compiler: the C1 JIT and serial GC start fastest
        proc = subprocess.run(
            [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC",
             "--release", "17", "-proc:none", "-nowarn",
             "-cp", os.pathsep.join(classpath), "-d", classes, *sources],
            capture_output=True, text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"javac failed on {_JVM_SRC}:\n{proc.stderr}")
        staged = os.path.join(tmp, "codec.jar")
        with zipfile.ZipFile(staged, "w") as zf:
            for dirpath, _dirs, names in os.walk(classes):
                for name in names:
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(staged, jar)
    return jar


def _codec_udfs(spark: SparkSession):
    """The (encode, decode) JVM UDFs, built once per SparkContext: the
    jar is compiled if needed and added to the session with ADD JAR,
    then both UDF classes are loaded through the session's jar
    class loader."""
    sc = spark.sparkContext
    udfs = getattr(sc, _UDFS_ATTR, None)
    if udfs is not None:
        return udfs
    with _UDFS_LOCK:
        udfs = getattr(sc, _UDFS_ATTR, None)
        if udfs is not None:
            return udfs
        jvm, jss = spark._jvm, spark._jsparkSession
        classpath = [
            jvm.java.io.File(
                jvm.java.lang.Class.forName(name).getProtectionDomain()
                .getCodeSource().getLocation().toURI()
            ).getPath()
            for name in _CLASSPATH_ANCHORS
        ]
        spark.sql(f"ADD JAR '{codec_jar(classpath)}'")
        loader = jss.sharedState().jarClassLoader()

        def udf(cls: str, return_type: T.DataType, name: str):
            impl = jvm.java.lang.Class.forName(_PACKAGE + cls, True, loader)
            jtype = jss.parseDataType(return_type.json())
            return impl.newInstance().toUdf(jtype).withName(name)

        # Nondeterministic only to the optimizer: it then neither pushes
        # a filter on the encoded bytes (the size verdict) through the
        # projection that computes them nor collapses that projection
        # into its consumers, either of which would encode twice.
        encode = udf("EventAvroEncode", T.BinaryType(), "egw_avro_encode")
        udfs = (
            encode.asNondeterministic(),
            udf("EventAvroDecode", AVRO_EVENT_SCHEMA, "egw_avro_decode"),
        )
        setattr(sc, _UDFS_ATTR, udfs)
    return udfs


def _apply(spark: SparkSession, judf, *cols: Column) -> Column:
    from pyspark.sql.classic.column import _to_java_column, _to_seq

    return Column(judf.apply(_to_seq(spark.sparkContext, cols, _to_java_column)))


def to_avro_col(spark: SparkSession) -> Column:
    """Column expression encoding the five storage fields into Avro
    bytes. Input columns: id, name, props, serverTimestamp,
    clientTimestamp. A NULL props map encodes as an empty map, as
    ``encode_event`` does."""
    encode, _ = _codec_udfs(spark)
    props = F.col("props")
    return _apply(
        spark, encode, F.col("id"), F.col("name"), F.map_keys(props),
        F.map_values(props), F.col("serverTimestamp"), F.col("clientTimestamp"),
    )


def from_avro_col(spark: SparkSession, value_col: str = "value") -> Column:
    """Column expression decoding Avro bytes into the Event struct."""
    _, decode = _codec_udfs(spark)
    return _apply(spark, decode, F.col(value_col))
