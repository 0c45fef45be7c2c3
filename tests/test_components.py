"""Star-contraction connected components (operators/components.py):
correctness on known graphs + the giant-component iteration bound that
motivated replacing hash-to-min label propagation (VERDICT r4 #5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eventsgateway_spark.operators.components import connected_components


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "u bigint, v bigint")
    res = connected_components(df)
    return {r.node: r.label for r in res.labels.collect()}, res.iterations


def test_two_components(spark):
    lab, _ = _labels(spark, [(1, 2), (2, 3), (10, 11), (3, 1)])
    assert lab == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_star_and_singleton_edge(spark):
    lab, _ = _labels(spark, [(5, 1), (6, 1), (7, 1), (20, 21)])
    assert lab == {1: 1, 5: 1, 6: 1, 7: 1, 20: 20, 21: 20}


def test_self_loops_and_duplicates_ignored(spark):
    lab, _ = _labels(spark, [(1, 1), (1, 2), (2, 1), (1, 2)])
    assert lab == {1: 1, 2: 1}


def test_empty_graph(spark):
    df = spark.createDataFrame([], "u bigint, v bigint")
    res = connected_components(df)
    assert res.labels.count() == 0 and res.iterations == 0


def test_giant_chain_converges_in_logarithmic_rounds(spark):
    """A 128-node pairwise chain (the viral-duplicate shape): plain
    hash-to-min needs O(diameter)=127 label-propagation rounds; star
    contraction must land in O(log n) — allow a 2x cushion over
    log2(128)=7."""
    n = 128
    edges = [(i, i + 1) for i in range(n - 1)]
    lab, iters = _labels(spark, edges)
    assert lab == {i: 0 for i in range(n)}
    assert iters <= 14, f"expected O(log n) rounds, got {iters}"


def test_random_graph_matches_bruteforce(spark):
    """Deterministic pseudo-random graph vs driver-side union-find."""
    rnd_edges = [((i * 37) % 50, (i * 61 + 13) % 50) for i in range(60)]
    rnd_edges = [e for e in rnd_edges if e[0] != e[1]]

    parent = list(range(50))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rnd_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in rnd_edges:
        for x in (a, b):
            expected[x] = find(x)
    # canonical label = min node in component
    comp_min = {}
    for x, r in expected.items():
        comp_min.setdefault(find(r), min(x, find(r)))
        comp_min[find(r)] = min(comp_min[find(r)], x)
    expected = {x: comp_min[find(x)] for x in expected}

    lab, _ = _labels(spark, rnd_edges)
    assert lab == expected


def test_union_of_ranges_graph_shape(spark):
    """Regression: star-contraction rounds over a checkpointed
    union-of-ranges edge frame hit a Catalyst-internal 'key not found'
    (LogicalRDD constraint rewrite) before the operator disabled
    constraint propagation for the loop. This pins the exact input
    shape that failed, at a size small enough for the suite."""
    from pyspark.sql import functions as F

    chain = spark.range(2_000).select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    rand = spark.range(3_000).select(
        (F.abs(F.xxhash64("id")) % 10_000 + 10_000).alias("u"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 10_000 + 10_000).alias("v"),
    )
    res = connected_components(chain.union(rand))
    assert res.iterations <= 2 * 11  # O(log n) bound with 2x cushion
    # the 2001-node chain is one component labelled 0
    lab = res.labels.filter(F.col("node") <= 2_000)
    assert lab.filter(F.col("label") != 0).count() == 0
    assert lab.count() == 2_001
    # conf restored after the loop
    assert spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"


def test_q13_tolerates_malformed_client_json(spark, tmp_path):
    """props is CLIENT-controlled JSON: a malformed '$.k' must group
    under the SENTINEL bucket (-2147483648 — round-11 convention: a
    NULL in a BIGINT oracle column degrades the driver's pandas fetch
    to float64 and hash-diverges every row), not kill the query with
    CAST_INVALID_INPUT under the driver session's default ANSI mode."""
    import datetime

    from eventsgateway_spark.queries import QUERIES

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0), 1, "a", 1.0, '{"k": "12"}'),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 1), 2, "a", 1.0, '{"k": "oops"}'),
        (3, datetime.datetime(2024, 1, 1, 0, 0, 2), 3, "a", 1.0, '{"other": 1}'),
    ]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r["k_bucket"]: r["n_events"]
           for r in QUERIES["q13_props_json_extract"](spark, str(tmp_path)).collect()}
    # valid k=12 -> bucket 1; dirty + missing -> the sentinel bucket
    assert out == {1: 1, -2147483648: 2}


def test_non_convergence_raise_releases_checkpoints(spark):
    """The non-convergence raise must not strand the last round's
    checkpoint: a 64-node chain needs several rounds, so max_iter=1
    raises, and no RDD holds stored blocks that did not before the
    call. (Ids, not a count: earlier tests' asynchronous releases may
    still shrink the census meanwhile.)"""
    import pytest

    def stored_rdds() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "u bigint, v bigint"
    )
    before = stored_rdds()
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, max_iter=1)
    assert stored_rdds() <= before
