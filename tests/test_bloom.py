"""Bloom-filter decontamination screen (operators/bloom.py + q79).

A Bloom filter is approximate only in ONE direction, so the contract
splits into an exact invariant (no false negatives: q79 flags a
SUPERSET of the exact-join q53, with per-doc counts >=) and a
statistical one (gram-level false-positive rate near the configured
fpp). Both are pinned here; q79 is ALWAYS_LOCAL — it never
hash-matches an oracle by design.
"""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL


def test_optimal_params_shapes():
    from eventsgateway_spark.operators.bloom import optimal_params

    m, k = optimal_params(10_000, 1e-3)
    # power of two (probe mod is a bitmask), >= the textbook
    # ~14.4 bits/elem at 0.1% and < 2x it
    assert m & (m - 1) == 0
    assert 14 * 10_000 <= m < 29 * 10_000
    # k re-sized for the realized m: m/n * ln2
    assert k == round(m / 10_000 * 0.6931471805599453)
    # degenerate: empty filter is one zero word
    assert optimal_params(0, 0.01) == (64, 1)


def test_empty_filter_contains_nothing():
    from eventsgateway_spark.operators.bloom import bloom_from_hashes, might_contain

    bf = bloom_from_hashes(np.array([], dtype=np.int64))
    assert not might_contain(bf, np.arange(1000, dtype=np.int64)).any()


def test_build_is_deterministic_and_has_no_false_negatives():
    from eventsgateway_spark.operators.bloom import bloom_from_hashes, might_contain

    rng = np.random.default_rng(7)
    items = rng.integers(-(2**63), 2**63, size=50_000, dtype=np.int64)
    bf1 = bloom_from_hashes(items, fpp=1e-3)
    bf2 = bloom_from_hashes(items, fpp=1e-3)
    assert bf1.words.tobytes() == bf2.words.tobytes()
    assert (bf1.m_bits, bf1.k) == (bf2.m_bits, bf2.k)
    # every inserted element probes positive — unconditionally
    assert might_contain(bf1, items).all()


def test_false_positive_rate_is_near_configured():
    from eventsgateway_spark.operators.bloom import bloom_from_hashes, might_contain

    rng = np.random.default_rng(11)
    items = rng.integers(-(2**63), 2**63, size=100_000, dtype=np.int64)
    bf = bloom_from_hashes(items, fpp=1e-2)
    probes = rng.integers(-(2**63), 2**63, size=200_000, dtype=np.int64)
    fresh = probes[~np.isin(probes, items)]
    fpr = might_contain(bf, fresh).mean()
    # double hashing costs a small constant factor over ideal; 3x margin
    assert fpr <= 3e-2, fpr
    assert fpr > 0  # at this scale some false positives MUST occur


def test_probe_udf_matches_driver_probe(spark):
    from pyspark.sql import functions as F

    from eventsgateway_spark.operators.bloom import (
        bloom_from_hashes,
        bloom_probe_count_udf,
        might_contain,
    )

    rng = np.random.default_rng(3)
    items = rng.integers(-(2**63), 2**63, size=1_000, dtype=np.int64)
    bf = bloom_from_hashes(items, fpp=1e-3)
    rows = [
        (0, [int(items[0]), int(items[1]), 12345]),
        (1, []),
        (2, None),
        (3, [int(x) for x in items[:50]]),
        (4, [999_999_999_999, -1]),
    ]
    df = spark.createDataFrame(rows, "id bigint, hs array<bigint>")
    probe = bloom_probe_count_udf(spark, bf)
    got = {
        r["id"]: r["n"]
        for r in df.select("id", probe("hs").alias("n")).collect()
    }
    for rid, hs in rows:
        want = (
            0
            if not hs
            else int(might_contain(bf, np.array(hs, dtype=np.int64)).sum())
        )
        assert got[rid] == want, rid


def test_q79_flags_superset_of_exact_q53(spark):
    """The load-bearing invariant: zero false negatives vs the exact
    broadcast-join decontamination, and per-doc flagged-gram counts
    that dominate the exact shared-gram counts."""
    from eventsgateway_spark.queries import QUERIES

    exact = {
        r["doc_id"]: r["n_shared_grams"]
        for r in QUERIES["q53_decontaminate"](spark, SF_SMALL).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged_grams"]
        for r in QUERIES["q79_bloom_decontaminate"](spark, SF_SMALL).collect()
    }
    assert set(exact) <= set(bloom)
    for doc_id, n_exact in exact.items():
        assert bloom[doc_id] >= n_exact, doc_id
    # and the over-flagging is statistically bounded: each clean gram
    # false-positives with probability ~BLOOM_FPP, so extra docs are at
    # most ~n_clean_gram_probes * fpp in expectation (observed ~5 at
    # sf0.001). 10x margin catches a broken filter (e.g. all-ones bits
    # would flag every document) without flaking on the expectation.
    from pyspark.sql import functions as F

    from eventsgateway_spark.functions.text import ngrams, tokens
    from eventsgateway_spark.queries.ext_text import BLOOM_FPP, DECON_N, EVAL_SOURCE
    from eventsgateway_spark.queries._util import spread, table

    n_clean_grams = (
        spread(table(spark, SF_SMALL, "documents"))
        .filter(F.col("source") != EVAL_SOURCE)
        .select(
            F.size(F.array_distinct(ngrams(tokens("text"), DECON_N))).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    extra = len(bloom) - len(exact)
    assert extra <= max(5.0, 10 * n_clean_grams * BLOOM_FPP), (
        extra,
        n_clean_grams,
    )
