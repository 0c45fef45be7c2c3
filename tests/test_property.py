"""Property-based tests (hypothesis) for the pure-Python seams where
deterministic fixtures can't cover the input space: the Avro binary
codec (arbitrary unicode envelopes must round-trip bit-exactly) and
the as-of join (must match pandas merge_asof on arbitrary key/time
layouts). Spark-free where possible so hypothesis can run hundreds of
examples cheaply."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from eventsgateway_spark.sources.avro_codec import decode_event, encode_event

# Avro strings are arbitrary UTF-8; surrogates are not encodable.
utf8 = st.text(alphabet=st.characters(codec="utf-8"), max_size=80)
ts = st.integers(min_value=-(2**62), max_value=2**62)


@settings(max_examples=300, deadline=None)
@given(
    id=utf8,
    name=utf8,
    props=st.dictionaries(utf8, utf8, max_size=8),
    sts=ts,
    cts=ts,
)
def test_avro_codec_roundtrip(id, name, props, sts, cts):
    raw = encode_event(id, name, props, sts, cts)
    rec = decode_event(raw)
    assert rec == {
        "id": id,
        "name": name,
        "props": props,
        "serverTimestamp": sts,
        "clientTimestamp": cts,
    }


@settings(max_examples=200, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=20),
    tss=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=20),
)
def test_zigzag_long_boundaries(ids, tss):
    """Negative / boundary longs survive the zigzag varint encoding
    (map sizes, timestamps near ±2^62 are covered by ts above; this
    exercises dense small values where varint lengths change)."""
    for a, b in zip(ids, tss):
        raw = encode_event(str(a), "n", {}, a - b, b - a)
        rec = decode_event(raw)
        assert rec["serverTimestamp"] == a - b and rec["clientTimestamp"] == b - a


def test_asof_join_random_layouts(spark):
    """asof_join ≡ pandas merge_asof(direction='backward') over a grid
    of randomized layouts (fixed seed — deterministic). Covers: keys
    with no right rows, ties, multiple updates between events, and
    right rows after every left row."""
    import numpy as np

    from eventsgateway_spark.operators.asof import asof_join

    rng = np.random.RandomState(7)
    for trial in range(5):
        n_l, n_r = rng.randint(1, 30), rng.randint(0, 30)
        left = pd.DataFrame(
            {
                "k": rng.randint(0, 4, n_l).astype(str),
                "t": rng.randint(0, 40, n_l),
                "lv": np.arange(n_l),
            }
        )
        # unique (k, t) on the right — the operator's documented
        # determinism precondition (pre-dedup ties upstream)
        right = (
            pd.DataFrame(
                {
                    "k": rng.randint(0, 4, n_r).astype(str),
                    "t": rng.randint(0, 40, n_r),
                }
            )
            .drop_duplicates(["k", "t"])
            .reset_index(drop=True)
        )
        right["rv"] = np.arange(len(right))
        if right.empty:
            right = pd.DataFrame({"k": ["zz"], "t": [0], "rv": [0]})
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on=["k"],
                left_time="t",
                right_time="t",
                right_values=["rv"],
            )
            .orderBy("lv")
            .toPandas()
        )
        want = (
            pd.merge_asof(
                left.sort_values(["t", "lv"]),
                right.sort_values("t"),
                on="t",
                by="k",
                direction="backward",
            )
            .sort_values("lv")
            .reset_index(drop=True)
        )
        got_rv = [None if pd.isna(x) else int(x) for x in got["rv_asof"]]
        want_rv = [None if pd.isna(x) else int(x) for x in want["rv"]]
        assert got_rv == want_rv, f"trial {trial}"


def test_chunker_spark_python_parity_random(spark):
    """The JVM chunk plan (q51's posexplode+slice) must agree with the
    pure-Python chunker (the UDTF's logic) on a seeded random corpus
    covering: empty docs, whitespace runs (empty-token artifacts), docs
    shorter than one window, exact window multiples, and long docs."""
    import random

    from eventsgateway_spark.functions.text import CHUNK_STRIDE, CHUNK_TOKENS
    from eventsgateway_spark.queries.ext_text import chunk_documents

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "dddd", "ee"]
    texts = ["", " ", "  ", "one", " ".join(["x"] * CHUNK_TOKENS)]
    for _ in range(200):
        n = rng.randint(0, 3 * CHUNK_TOKENS)
        sep = lambda: " " * rng.randint(1, 3)  # noqa: E731 — double-space artifacts
        texts.append(sep().join(rng.choice(vocab) for _ in range(n)))

    expected = []
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t]
        for chunk_id, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
            w = toks[start : start + CHUNK_TOKENS]
            expected.append((doc_id, chunk_id, len(w), " ".join(w)))

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [tuple(r) for r in chunk_documents(df).collect()]
    assert got == sorted(expected)


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31),
    ws=st.sampled_from([b"\n", b" ", b"\t", b"\r\n"]),
    comment=st.booleans(),
)
def test_ppm_parse_encode_roundtrip(w, h, seed, ws, comment):
    """parse_ppm ∘ encode_ppm is identity on pixels, and the parser
    accepts spec-legal header variants (any whitespace separators,
    comment lines)."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import encode_ppm, parse_ppm

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    pw, ph, out = parse_ppm(encode_ppm(img))
    assert (pw, ph) == (w, h) and np.array_equal(out, img)
    # hand-built header with alternative whitespace + optional comment
    hdr = b"P6" + ws + (b"# c\n" if comment else b"") + str(w).encode()
    hdr += ws + str(h).encode() + ws + b"255\n"
    pw2, ph2, out2 = parse_ppm(hdr + img.tobytes())
    assert (pw2, ph2) == (w, h) and np.array_equal(out2, img)


@settings(max_examples=150, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31),
    alpha=st.booleans(),
)
def test_png_parse_encode_roundtrip(w, h, seed, alpha):
    """parse_png ∘ encode_png is identity on pixels for RGB and RGBA."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import encode_png, parse_png

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 4 if alpha else 3), dtype=np.uint8)
    pw, ph, out = parse_png(encode_png(img))
    assert (pw, ph) == (w, h) and np.array_equal(out, img)


@settings(max_examples=100, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    ch=st.integers(min_value=1, max_value=2),
    rate=st.sampled_from([8_000, 16_000, 44_100]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_parse_encode_roundtrip(n, ch, rate, seed):
    """parse_wav ∘ encode_wav recovers shape, rate, and samples to
    16-bit quantization accuracy; malformed payloads raise ValueError."""
    import numpy as np
    import pytest

    from eventsgateway_spark.operators.multimodal import encode_wav, parse_wav

    rng = np.random.RandomState(seed % (2**31))
    x = rng.uniform(-1, 1, size=(n, ch))
    nch, prate, out, bits = parse_wav(encode_wav(x, rate))
    assert (nch, prate, bits) == (ch, rate, 16) and out.shape == (n, ch)
    assert np.abs(out - x).max() <= 1.5 / 32767.0
    with pytest.raises(ValueError):
        parse_wav(b"RIFFgarbage-not-a-wav" + bytes(rng.randint(0, 256, 16, "u1")))
    # a WAV truncated mid-header must also raise ValueError (the
    # stdlib chunk reader throws EOFError there, not wave.Error)
    with pytest.raises(ValueError):
        parse_wav(encode_wav(x, rate)[:13])


def _png_with_filters(img, filters):
    """Reference encoder applying a GIVEN filter type per scanline
    (forward-filters the image so parse_png must invert every type)."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = img.shape
    px = img.astype(np.int16).reshape(h, w * ch)
    raw = bytearray()
    for y in range(h):
        f = filters[y % len(filters)]
        line = px[y]
        up = px[y - 1] if y > 0 else np.zeros(w * ch, np.int16)
        out = np.empty(w * ch, np.int16)
        for i in range(w * ch):
            a = int(line[i - ch]) if i >= ch else 0
            b = int(up[i])
            c = int(up[i - ch]) if i >= ch and y > 0 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(line[i]) - pred) % 256
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 6, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"tEXt", b"k\x00ancillary-skipped")
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=5, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31),
    alpha=st.booleans(),
)
def test_png_all_filter_types_decode(w, h, seed, alpha):
    """parse_png inverts ALL FIVE scanline filters (wild PNGs mix them
    per line) and skips ancillary chunks."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import parse_png

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 4 if alpha else 3), dtype=np.uint8)
    b = _png_with_filters(img, filters=[0, 1, 2, 3, 4])
    pw, ph, out = parse_png(b)
    assert (pw, ph) == (w, h) and np.array_equal(out, img)


def test_png_malformed_inputs_rejected():
    """Header/CRC/shape defects raise ValueError (never a silent wrong
    image); palette/16-bit/interlaced land on the PIL seam."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from eventsgateway_spark.operators.multimodal import encode_png, parse_png

    img = np.zeros((2, 2, 3), np.uint8)
    good = encode_png(img)
    with pytest.raises(ValueError, match="magic"):
        parse_png(b"NOPE" + good[4:])
    # flip one IDAT payload bit -> CRC mismatch
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with pytest.raises(ValueError):
        parse_png(bytes(bad))
    # palette color type (3) -> unsupported
    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )
    pal_ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    with pytest.raises(ValueError, match="color_type"):
        parse_png(b"\x89PNG\r\n\x1a\n" + pal_ihdr + chunk(b"IDAT", b"x") + chunk(b"IEND", b""))
    # truncated pixel data
    short = zlib.compress(b"\x00" * 3)  # one filter byte + 2 bytes, needs 2*(6+1)
    with pytest.raises(ValueError, match="shorter"):
        parse_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", short)
            + chunk(b"IEND", b"")
        )


# ---------------------------------------------------------------------------
# Bloom filter (operators/bloom.py) — the no-false-negative guarantee must
# hold for ARBITRARY int64 hash sets and any fpp, not just the seeded
# fixtures in test_bloom.py; all driver-side numpy, no Spark session.
# ---------------------------------------------------------------------------

i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(
    items=st.lists(i64, max_size=300),
    probes=st.lists(i64, max_size=50),
    fpp=st.sampled_from([1e-1, 1e-2, 1e-4, 1e-6]),
)
def test_bloom_never_false_negative_and_deterministic(items, probes, fpp):
    import numpy as np

    from eventsgateway_spark.operators.bloom import (
        bloom_from_hashes,
        might_contain,
    )

    arr = np.array(items, dtype=np.int64)
    bf = bloom_from_hashes(arr, fpp=fpp)
    bf2 = bloom_from_hashes(arr, fpp=fpp)
    assert bf.words.tobytes() == bf2.words.tobytes()  # bit-identical rebuild
    assert bf.m_bits & (bf.m_bits - 1) == 0
    if len(items):
        assert might_contain(bf, arr).all()  # inserted => positive, always
    hits = might_contain(bf, np.array(probes, dtype=np.int64)) if probes else []
    for h, p in zip(hits, probes):
        if p in set(items):
            assert h  # membership implies positive regardless of layout


def test_keep_first_and_owner_min_random_layouts(spark):
    """with_keep_first ≡ brute-force min-per-group over randomized
    layouts with nulls, singleton groups, and one deliberately hot key
    (fixed seed — deterministic)."""
    import numpy as np

    from eventsgateway_spark.queries.ext_dedup import with_keep_first

    rng = np.random.RandomState(13)
    for trial in range(5):
        n = rng.randint(1, 60)
        keys = [
            None if rng.rand() < 0.15
            else ("hot" if rng.rand() < 0.4 else f"k{rng.randint(0, 8)}")
            for _ in range(n)
        ]
        ids = rng.permutation(1000)[:n].tolist()
        df = spark.createDataFrame(
            list(zip(ids, keys)), "doc_id long, k string"
        )
        want = {}
        for i, k in zip(ids, keys):
            want[i] = min(
                j for j, kk in zip(ids, keys) if kk == k
            )  # None == None here: python groups nulls together too
        got = {r["doc_id"]: r["keep_id"] for r in with_keep_first(df, "k").collect()}
        assert got == want, f"trial {trial}"


def test_quality_propagation_random_graphs(spark):
    """quality_propagation ≡ a pure-python reference over randomized
    graphs (fixed seed): disconnected nodes, stars, chains, multi-edges
    excluded by construction (the Jaccard pair set is unique by
    (d1, d2)). Pins the integer-exact iteration semantics — per-
    neighbor integer division BEFORE the sum, isolated docs hold their
    seed — independent of the corpus-derived edge path."""
    import numpy as np

    from eventsgateway_spark.queries.ext_dedup import quality_propagation

    rng = np.random.RandomState(29)
    for trial in range(4):
        n = int(rng.randint(3, 25))
        # docs whose token counts are the seed scores (text = k tokens)
        counts = rng.randint(1, 40, n)
        docs = spark.createDataFrame(
            [(i, " ".join(["tok"] * int(c))) for i, c in enumerate(counts)],
            "doc_id long, text string",
        )
        # random unique undirected edges as a (d1 < d2) pair table
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        rng.shuffle(all_pairs)
        pairs = all_pairs[: int(rng.randint(0, min(len(all_pairs), 2 * n)))]
        edges0 = spark.createDataFrame(
            pairs or [(-1, -2)], "d1 long, d2 long"
        )  # (-1,-2) keeps the frame non-empty; ids outside 0..n-1 touch no doc
        got = {
            r["doc_id"]: (r["deg"], r["s0"], r["s3"])
            for r in quality_propagation(docs, edges0=edges0).collect()
        }
        # python reference
        nbrs = {i: set() for i in range(n)}
        for a, b in pairs:
            nbrs[a].add(b)
            nbrs[b].add(a)
        s = {i: int(c) for i, c in enumerate(counts)}
        s0 = dict(s)
        for _ in range(3):
            s = {
                v: (
                    s0[v]
                    if not nbrs[v]
                    else (850 * sum(s[u] // len(nbrs[u]) for u in nbrs[v])
                          + 150 * s0[v]) // 1000
                )
                for v in range(n)
            }
        want = {v: (len(nbrs[v]), s0[v], s[v]) for v in range(n)}
        assert got == want, f"trial {trial}"


@given(est=st.integers(min_value=1, max_value=10**14),
       floor_p=st.integers(min_value=4, max_value=10),
       floor_t=st.integers(min_value=1, max_value=4))
@settings(max_examples=300, deadline=None)
def test_lsh_ladder_invariants(est, floor_p, floor_t):
    """Round-12 OR-construction ladder properties, for ANY input size
    and family floors:

    - floors respected and monotone non-decreasing in est_rows;
    - tables capped at 8x the floor (round 13), planes at 16 + 2 doublings;
    - uniform-ideal candidate volume T / 2^p_eff never exceeds the
      floor family's floor_t / 2^base (each table-doubling must buy
      its plane — the budget-neutrality contract);
    - the effective plane count equals base + log2(T / floor_t)."""
    from eventsgateway_spark.queries.ext_similarity import (
        planes_for_rows,
        tables_for_rows,
    )

    base = planes_for_rows(est, floor_p)
    t = tables_for_rows(est, floor_p, floor_t)
    assert base >= floor_p and t >= floor_t
    assert t <= 8 * floor_t  # round-13 cap (1M-vector probe, SCALE.md)
    assert t % floor_t == 0 and (t // floor_t).bit_length() - 1 >= 0
    doublings = (t // floor_t).bit_length() - 1
    assert floor_t << doublings == t  # a power-of-two multiple
    p_eff = base + doublings
    assert t / (1 << p_eff) <= floor_t / (1 << base) + 1e-15
    # monotonicity in input size (same floors)
    base2 = planes_for_rows(est * 2, floor_p)
    t2 = tables_for_rows(est * 2, floor_p, floor_t)
    assert base2 >= base and t2 >= t
