"""Embedding-vector column functions (SURVEY §2.5 Q18/Q20 [EXT]).

Everything is built from ``zip_with``/``transform``/``aggregate`` —
JVM-side higher-order functions over ``array<float>`` columns, no
Python in the loop. The folds are *sequential* (left fold over the
array), which makes per-row results bit-identical to DuckDB's
``list_transform``/``list_sum`` on the same data — that is what lets
cosine/norm queries be value-hash-checked against the oracle.

Scale note (100 TB): these are per-row O(dim) expressions inside
whole-stage codegen; they add no shuffle. Top-k searches built on them
control cost by bounding the *candidate set* (broadcast query side or
LSH bucket join), never by all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """array<float> → array<double> (promote once, multiply exactly)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two equal-length double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def norm(a: Column) -> Column:
    return F.sqrt(norm_sq(a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity (full formula — robust to non-unit vectors)."""
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (signed projections → bit signature)
# ---------------------------------------------------------------------------

# Integer-formula hyperplane weights — a deterministic pseudo-random
# family expressible identically in Spark and DuckDB SQL (no RNG state,
# no platform drift):
#
#     w(j, d) = ((A*(j+1)*(d+1) + B*(j+1)^2*(d+1)^2) mod 1021) - 510
#
# The round-11 decorrelated form. The original additive family
# (A*(j+1) + B*(d+1)) made every plane a constant mod-shift of every
# other (plane-pair |cos| up to 0.73): correlated sign bits concentrate
# vectors into hot buckets, measured max/mean occupancy ≈ 29 at 100k
# vectors and Σocc² (= LSH candidate volume) 1.21e8 vs the 1.46e7
# uniform ideal. Making BOTH terms multiplicative in (j+1) gives each
# plane its own quadratic residue sequence mod the prime 1021
# (pairwise |cos| ≤ 0.37 over the first 16 planes): measured occupancy
# max/mean 4.1-4.3 per table, Σocc² 1.93e7 (1.32× ideal), and planted
# near-dup recall 24/30 vs 16/30 (numpy replication, SCALE.md
# round-11b table). Same cross-engine determinism — the weights are
# pure integer arithmetic on (j, d).
LSH_A = 1_315_423_911
LSH_B = 2_654_435_761
_LSH_P = 1021


def _plane_coeffs(j: int) -> tuple[int, int]:
    """Per-plane constants pre-reduced mod the prime so the column-side
    product stays far under int64: c1*(d+1) + c2*(d+1)^2 with c1, c2 <
    1021 and d+1 <= 4097 is < 1.8e10 (the unreduced B*(j+1)^2*(d+1)^2
    would overflow BIGINT past dim ~1500 in both engines)."""
    return (LSH_A * (j + 1)) % _LSH_P, (LSH_B * (j + 1) * (j + 1)) % _LSH_P


def hyperplane_weight(j: int, d: Column) -> Column:
    """Weight of hyperplane j at dimension d (d is a 1-based column).

    The pre-reduced coefficients MUST be lifted to BIGINT explicitly:
    they are < 1021, so ``F.lit`` makes them *int32* literals — unlike
    the pre-round-11b ``F.lit(LSH_B)`` (2.65e9, a long) — and
    ``c2*(d+1)*(d+1)`` in int32 overflows at dim ≥ ~1451 (ANSI mode:
    runtime ARITHMETIC_OVERFLOW; caught by the round-11b code review,
    regression-pinned by tests/test_ext.py::
    test_lsh_bucket_survives_high_dims). With the BIGINT lift the
    product is ≤ 1021 × 4097² ≈ 1.7e10 at dim 4096 — far under the
    int64 ceiling, matching the DuckDB mirror whose range() yields
    BIGINT natively."""
    c1, c2 = _plane_coeffs(j)
    c1l, c2l = F.lit(c1).cast("bigint"), F.lit(c2).cast("bigint")
    return (c1l * (d + 1) + c2l * (d + 1) * (d + 1)) % _LSH_P - 510


def sq8_codes(e: Column, nrm: Column) -> Column:
    """INT8 codes of the unit vector: round(127·x/‖x‖) per dimension —
    the ONE copy of the symmetric scalar quantizer (q81's ranking, the
    IVF-SQ8 serving index in streaming/ann_lookup.py). Codes are
    BIGINTs in [-127, 127]; exact integer math downstream."""
    return F.transform(e, lambda x: F.round(x * 127 / nrm).cast("bigint"))


def dot_codes(a: Column, b: Column) -> Column:
    """Integer dot product of two code arrays — exact BIGINT fold
    (|code| ≤ 127 ⇒ a 4096-dim dot ≤ 6.6e7, no overflow, no float
    accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def lsh_buckets_arrow(vec: Column, n_planes: int, n_tables: int) -> Column:
    """ALL ``n_tables`` bucket ids for a vector in one Arrow batch —
    ``array<bigint>`` indexed by table id; bit/plane layout identical
    to ``lsh_bucket`` (plane j = table_id·n_planes + b).

    The round-12 table ladder made bucket computation the hot loop
    (T·p interpreted fold projections per vector — 104 at the 8×13
    rung); this kernel computes the whole T·p × dim projection as one
    numpy matmul per batch. Numerics: each product x·w is EXACT in
    float64 (float32-promoted mantissa 24 bits × |w| ≤ 510 ≈ 10 bits),
    so summation order cannot flip a sign unless the 53-bit budget is
    exceeded — fixture-scale equality with the JVM fold is pinned by
    tests/test_ext.py::test_lsh_buckets_arrow_matches_fold. Used only
    ABOVE the oracle regime (q38/q85 gate on the family being past
    its floors), so hash-checked rows never depend on it.

    Coefficients are captured as plain ints in the closure (no module
    references — cloudpickle ships the nested function by value, so
    no ship_package dependency)."""
    import numpy as np
    import pandas as pd

    coeffs = [_plane_coeffs(j) for j in range(n_tables * n_planes)]
    pw = np.left_shift(1, np.arange(n_planes, dtype=np.int64))

    def _buckets(es):
        w_cache: dict[int, np.ndarray] = _buckets._w  # per-worker
        try:
            X = np.stack(es.values).astype(np.float64, copy=False)
            if X.ndim != 2:
                # an all-NULL batch stacks 0-d Nones into a 1-D object
                # array instead of raising — route it to the fallback
                raise ValueError("non-rectangular batch")
        except (ValueError, TypeError):
            # NULL / ragged rows break np.stack; mirror the fold
            # per-row (taken only on bad batches — the q38/q85 gates
            # filter norm_sq > 0 first, so neither occurs in practice).
            # A NULL vector folds to bucket 0 in EVERY table on the
            # JVM path (NULL projection → when(NULL >= 0) is false-ish
            # → otherwise(0) per bit), so mirror that, not NULL.
            out = []
            for v in es.values:
                if v is None:
                    out.append(np.zeros(n_tables, dtype=np.int64))
                    continue
                one = _buckets(pd.Series([v]))
                out.append(one.iloc[0])
            return pd.Series(out)
        dim = X.shape[1]
        if dim == 0:
            # empty vectors fold to bucket 0 on the JVM path (its
            # zip_with against sequence(1, 0) = [1, 0] pads with NULLs
            # → NULL projection → otherwise(0) per bit), NOT to the
            # all-ones bucket a literal 0.0-projection would give
            return pd.Series([np.zeros(n_tables, dtype=np.int64)] * len(X))
        W = w_cache.get(dim)
        if W is None:
            d1 = np.arange(2, dim + 2, dtype=np.int64)
            W = np.array(
                [(c1 * d1 + c2 * d1 * d1) % 1021 - 510 for c1, c2 in coeffs],
                dtype=np.float64,
            ).T  # dim × (T·p)
            w_cache[dim] = W
        bits = (X @ W) >= 0  # B × (T·p)
        per_table = [
            bits[:, t * n_planes:(t + 1) * n_planes] @ pw
            for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    _buckets._w = {}
    return F.pandas_udf(_buckets, "array<bigint>")(vec)


def lsh_probe_buckets_arrow(
    vec: Column, n_planes: int, n_tables: int, n_flips: int
) -> Column:
    """Query-directed MULTIPROBE buckets: per table, the exact bucket
    followed by ``n_flips`` single-bit variants, flipping the planes
    whose |projection| is smallest — the bits most likely to disagree
    with a true near neighbor's signature (Lv et al.'s multi-probe
    LSH, the recall knob that costs NO extra index: only the QUERY
    side probes extra buckets; the corpus keeps one bucket per
    table). Returns ``array<bigint>`` of length n_tables·(1+n_flips),
    position-major by table: ``pos // (1+n_flips)`` is the table id —
    the join-side contract ann_topk_bucketed's multiprobe path
    decodes. Tie-break on equal |projection| is stable argsort →
    plane index order, deterministic. The exact bucket (flip 0) is
    bit-equal to ``lsh_bucket``/``lsh_buckets_arrow`` (same exact-
    float64-product argument; pinned by tests/test_ext.py::
    test_lsh_multiprobe_contract)."""
    import numpy as np
    import pandas as pd

    coeffs = [_plane_coeffs(j) for j in range(n_tables * n_planes)]
    pw = np.left_shift(1, np.arange(n_planes, dtype=np.int64))
    width = 1 + n_flips

    def _degenerate_row():
        # NULL/empty vector: exact bucket 0 per table (lsh_bucket's
        # NULL-projection semantics); flip variants resolve the all-tie
        # |projection| order stably in plane order → single-bit buckets
        per_table = np.concatenate((
            [0],
            np.left_shift(1, np.arange(min(n_flips, n_planes), dtype=np.int64)),
            np.zeros(max(0, n_flips - n_planes), dtype=np.int64),
        ))
        return np.concatenate([per_table] * n_tables)

    def _probes(es):
        w_cache: dict[int, np.ndarray] = _probes._w
        out_width = n_tables * width
        try:
            X = np.stack(es.values).astype(np.float64, copy=False)
            if X.ndim != 2:
                raise ValueError("non-rectangular batch")
        except (ValueError, TypeError):
            out = []
            for v in es.values:
                if v is None:
                    out.append(_degenerate_row())
                    continue
                out.append(_probes(pd.Series([v])).iloc[0])
            return pd.Series(out)
        dim = X.shape[1]
        if dim == 0:
            return pd.Series([_degenerate_row() for _ in range(len(X))])
        W = w_cache.get(dim)
        if W is None:
            d1 = np.arange(2, dim + 2, dtype=np.int64)
            W = np.array(
                [(c1 * d1 + c2 * d1 * d1) % 1021 - 510 for c1, c2 in coeffs],
                dtype=np.float64,
            ).T
            w_cache[dim] = W
        P = X @ W  # B × (T·p) signed projections
        bits = P >= 0
        cols = []
        for t in range(n_tables):
            seg = slice(t * n_planes, (t + 1) * n_planes)
            b0 = bits[:, seg] @ pw  # exact bucket
            cols.append(b0)
            if n_flips:
                order = np.argsort(np.abs(P[:, seg]), axis=1, kind="stable")
                for f in range(min(n_flips, n_planes)):
                    cols.append(b0 ^ np.left_shift(1, order[:, f].astype(np.int64)))
                for _ in range(max(0, n_flips - n_planes)):
                    cols.append(b0)  # degenerate n_flips > planes: repeat
        M = np.stack(cols, axis=1)  # B × (T·width)
        assert M.shape[1] == out_width
        return pd.Series(list(M))

    _probes._w = {}
    return F.pandas_udf(_probes, "array<bigint>")(vec)


def lsh_bucket(vec: Column, n_planes: int = 8, table_id: int = 0) -> Column:
    """Signed-random-projection bucket id in [0, 2^n_planes).

    bit_j = 1 iff Σ_d vec[d] * w(j,d) >= 0; bucket = Σ bit_j << j.
    ``table_id`` offsets the hyperplane family, giving independent hash
    tables for OR-amplified multi-table search. Sequential per-row fold
    → oracle-reproducible. Near-duplicate vectors land in the same
    bucket with high probability, so candidate generation is a bucket
    equi-join (shuffle on bucket id), never a cartesian product.
    """
    def weight_fn(j: int):
        # closure factory: the returned lambda must take exactly the two
        # zip_with arguments (Spark binds lambda variables by signature)
        return lambda x, d: x.cast("double") * hyperplane_weight(j, d)

    bucket = F.lit(0)
    for b in range(n_planes):
        j = table_id * n_planes + b
        proj = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(1), F.size(vec)), weight_fn(j)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket
