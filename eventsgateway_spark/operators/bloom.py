"""Broadcast Bloom-filter membership screen — the 100 TB form of
test-set decontamination (the exact broadcast-join q53's scale sibling).

q53 broadcasts the eval corpus's distinct n-gram STRINGS and hash-joins
the exploded training grams against them. That is exact and already
shuffle-free, but the broadcast scales with eval-set text size: 100M
distinct 5-grams is 3+ GB of strings — past executor broadcast budgets
long before the corpus side becomes the problem. The Bloom screen
replaces the string set with an m-bit filter over ``xxhash64(gram)``:
~14.4 bits/element at 0.1% false-positive probability (18 MB for 10M
grams, 180 MB for 100M), with ZERO false negatives — every truly
contaminated document is flagged; a tunable, tiny fraction of clean
grams is over-flagged, which is the safe failure mode for
decontamination (over-removal, never leakage into training data).

Plan shape on the corpus side: one JVM projection (tokens -> distinct
n-gram xxhash64 values, built-ins inside codegen) + one Arrow-batched
pandas UDF probing the broadcast bitset with numpy — no explode, no
join, no shuffle. The eval side is one distinct-hash aggregation
(small by definition: benchmarks are KBs-to-MBs against a TB corpus)
collected to the driver to set bits; the bitset ships to executors via
``SparkContext.broadcast`` once per probe UDF.

Bit layout is deterministic (no RNG): k probe positions per element by
Kirsch-Mitzenmacher double hashing ``h_i = h1 + i*h2 (mod m)`` with
both 64-bit mixes derived from the element's xxhash64 — the public
standard composition ("Less hashing, same performance", 2006). The
same build therefore yields a bit-identical filter on any cluster
size, and probe results are reproducible run-to-run.

Spark exposes the same construction JVM-side only internally (the
``bloom_filter_agg`` / ``might_contain`` expressions that power
runtime row-group filters are not registered as SQL functions in
4.1), so the engine carries its own — which also keeps the wire
format (plain uint64 little-endian words) engine-neutral.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# SplitMix64 finalizer constants (public domain, Steele et al.). h2
# MUST be a full-avalanche mix of h1, not a plain multiply-add: with m
# a power of two, (h1*c + d) mod 2^b depends only on the LOW b bits of
# h1, so two elements colliding in those bits would collide on ALL k
# probe positions — measured as FPR = n/m (9.5% at a configured 1%)
# before the finalizer. The xor-shift steps feed the high bits back
# into the low ones, restoring Kirsch-Mitzenmacher independence. h2 is
# forced odd so it is a unit mod 2^64 and the k positions never
# collapse onto one index.
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_LN2 = math.log(2.0)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    return z ^ (z >> np.uint64(31))


@dataclass(frozen=True)
class BloomFilter:
    """Immutable bitset + parameters. ``words`` is uint64[m_bits/64],
    bit ``i`` of the filter = bit ``i % 64`` of ``words[i // 64]``."""

    m_bits: int
    k: int
    words: np.ndarray
    n_items: int

    def __post_init__(self):  # cheap structural sanity
        assert self.m_bits >= 64 and self.m_bits & (self.m_bits - 1) == 0, (
            "m_bits must be a power of two >= 64 (probe mod is a bitmask)"
        )
        assert self.k >= 1
        assert self.words.dtype == np.uint64
        assert len(self.words) == self.m_bits // 64


def optimal_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Textbook sizing: m = -n ln p / (ln 2)^2 bits, rounded UP to the
    next power of two so every probe's ``mod m`` is a bitmask (the mod
    is the hot instruction — k probes per element per scan row; integer
    division is ~20x an AND). The round-up only ever ADDS bits, so the
    realized fpp is <= the requested one (at most 2x fewer expected
    false positives — never more). k is then sized for the realized m.
    n_items=0 degenerates to the smallest valid filter (one zero word:
    contains nothing)."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if n_items <= 0:
        return 64, 1
    m = math.ceil(-n_items * math.log(fpp) / (_LN2 * _LN2))
    m = 1 << max(6, (m - 1).bit_length())
    k = max(1, round(m / n_items * _LN2))
    return m, k


def _positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(k, len(h)) uint64 probe indices for xxhash64 values ``h``
    (int64 or uint64). Overflow wraps mod 2^64 by uint64 arithmetic —
    exactly the composition the docstring pins, on every platform."""
    h1 = h.astype(np.uint64, copy=False)
    h2 = _splitmix64(h1) | np.uint64(1)
    mask = np.uint64(m_bits - 1)  # m_bits is a power of two by construction
    out = np.empty((k, len(h1)), dtype=np.uint64)
    for i in range(k):
        out[i] = (h1 + np.uint64(i) * h2) & mask
    return out


def bloom_from_hashes(hashes: np.ndarray, fpp: float = 1e-3) -> BloomFilter:
    """Build a filter from pre-computed 64-bit element hashes."""
    hashes = np.asarray(hashes, dtype=np.int64)
    m_bits, k = optimal_params(len(hashes), fpp)
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    if len(hashes):
        idx = _positions(hashes, m_bits, k).ravel()
        # np.bitwise_or.at handles repeated word indices in one batch
        np.bitwise_or.at(
            words, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    return BloomFilter(m_bits=m_bits, k=k, words=words, n_items=len(hashes))


def _member_mask(bf_words: np.ndarray, m_bits: int, k: int, h: np.ndarray) -> np.ndarray:
    """bool[len(h)]: True where all k probed bits are set."""
    if len(h) == 0:
        return np.zeros(0, dtype=bool)
    idx = _positions(h, m_bits, k)
    member = np.ones(len(h), dtype=bool)
    for i in range(k):
        w = bf_words[(idx[i] >> np.uint64(6)).astype(np.int64)]
        member &= ((w >> (idx[i] & np.uint64(63))) & np.uint64(1)).astype(bool)
    return member


def might_contain(bf: BloomFilter, hashes: np.ndarray) -> np.ndarray:
    """Driver-side probe (tests + small batches)."""
    return _member_mask(
        bf.words, bf.m_bits, bf.k, np.asarray(hashes, dtype=np.int64)
    )


def build_bloom(df: DataFrame, col: str | Column, fpp: float = 1e-3) -> BloomFilter:
    """Build a filter over the DISTINCT ``xxhash64`` of a column.

    The distinct + hash runs distributed (one hash-aggregate); only the
    8-byte hashes land on the driver — by construction the build side
    is the SMALL side (eval/benchmark corpus), so this is a bounded
    driver transfer, same posture as q53's broadcast or the kmeans
    centroid collect (operators/kmeans.py)."""
    rows = (
        df.select(F.xxhash64(col).alias("h")).distinct().toPandas()["h"].to_numpy()
    )
    return bloom_from_hashes(rows, fpp=fpp)


def bloom_probe_count_udf(spark: SparkSession, bf: BloomFilter):
    """Arrow-batched pandas UDF ``array<bigint> -> bigint``: how many of
    a row's element hashes probe positive. The bitset rides one
    ``SparkContext.broadcast`` per call (not a per-row closure copy),
    owned by the returned UDF: it is released with the frames that use
    the UDF, and a caller that probes many frames with one filter
    (``streaming.corpus_prep``, once per stream) builds the UDF once.
    The probe is numpy over the CONCATENATION of a whole Arrow batch's
    arrays, then a per-row segmented sum — no Python-per-element work."""
    from eventsgateway_spark.shipping import ship_package

    ship_package(spark)  # probe_count references _member_mask by module
    b_words = spark.sparkContext.broadcast(bf.words)
    m_bits, k = bf.m_bits, bf.k

    # Marked nondeterministic below NOT because it is (the probe is a
    # pure function of its input) but as the standard planner hint that
    # stops Catalyst from duplicating the expression when a filter on
    # the UDF output is pushed through the projection — duplicated, the
    # UDF (and the whole JVM lineage feeding it) evaluates once in the
    # Filter and again in the Project: measured 8.7 s vs 2.8 s on the
    # sf0.1 q79 scan. The hint keeps exactly one evaluation.
    @F.pandas_udf("bigint")
    def probe_count(arrs: pd.Series) -> pd.Series:
        words = b_words.value
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(arrs), dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in arrs if a is not None and len(a)]
        )
        member = _member_mask(words, m_bits, k, flat).astype(np.int64)
        bounds = np.zeros(len(arrs) + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
        csum = np.concatenate([[0], np.cumsum(member)])
        return pd.Series(csum[bounds[1:]] - csum[bounds[:-1]])

    return probe_count.asNondeterministic()
