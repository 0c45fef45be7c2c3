"""Tests for the [EXT] LLM-pipeline operators (SURVEY §2.5 Q17-Q20,
Q5) that go beyond what the declared-query oracle covers: ANN recall
vs the exact baseline, as-of join vs pandas merge_asof, multimodal
stub plumbing, and vector math vs numpy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventsgateway_spark.operators.asof import asof_join
from eventsgateway_spark.operators.multimodal import (
    FEATURES_SCHEMA,
    decode_media,
    documents_as_media,
)
from eventsgateway_spark.functions.vectors import as_double, cosine, lsh_bucket
from eventsgateway_spark.queries.ext_similarity import ann_topk_bucketed
from tests.conftest import SF_ORACLE


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------


def test_cosine_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(50)
    pdf = emb.toPandas()
    a0 = np.array(pdf["embedding"][0], dtype=np.float64)
    got = (
        emb.select(
            "vec_id",
            cosine(
                as_double(F.col("embedding")),
                F.lit(a0.tolist()).cast("array<double>"),
            ).alias("cos"),
        )
        .orderBy("vec_id")
        .toPandas()
    )
    for _, row in got.iterrows():
        b = np.array(pdf.loc[pdf.vec_id == row.vec_id, "embedding"].iloc[0], dtype=np.float64)
        want = float(a0 @ b / (np.linalg.norm(a0) * np.linalg.norm(b)))
        assert abs(row.cos - want) < 1e-9


def test_zero_norm_vectors_excluded_not_fatal(spark):
    """Under Spark 4's default ANSI mode, a zero-norm vector reaching
    the cosine denominator is a runtime DIVIDE_BY_ZERO — norm_view
    must EXCLUDE it (documented semantic: no direction => never enters
    a similarity computation), so downstream brute-force / IVF paths
    run clean on data the fixtures don't cover."""
    from eventsgateway_spark.functions.vectors import dot
    from eventsgateway_spark.queries.ext_similarity import norm_view

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(20)
    dims = len(emb.first()["embedding"])
    zero = spark.createDataFrame(
        [(9999, [0.0] * dims)], "vec_id long, embedding array<double>"
    )
    poisoned = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    ).union(zero)
    nv = norm_view(poisoned)
    assert nv.filter("vec_id = 9999").count() == 0
    # q33/q43's cosine shape over the poisoned corpus: the division by
    # (qn * nrm) must never see the zero vector
    q = nv.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    rows = (
        nv.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            (dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))).alias("cos"),
        )
        .collect()  # must not raise DIVIDE_BY_ZERO under ANSI
    )
    assert rows and all(r["vec_id"] != 9999 and r["qid"] != 9999 for r in rows)


def test_ann_bucketed_recall_vs_exact(spark):
    """LSH-bucketed ANN must (a) return only same-bucket candidates
    and (b) recall a reasonable share of exact top-1 neighbors. The
    pipeline is fully deterministic, so the recall value is stable."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 30)
    ann = {
        r["qid"]: r["neighbor_id"]
        for r in ann_topk_bucketed(emb, queries, k=1, n_planes=4, n_tables=8).collect()
    }
    # exact top-1 via numpy
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    exact = {}
    for qi in range(30):
        sims = mat @ mat[qi]
        sims[qi] = -2
        exact[ids[qi]] = ids[int(np.argmax(sims))]
    hits = sum(1 for q, n in ann.items() if exact.get(q) == n)
    # 8 tables × 4 hyperplanes over 500 UNIFORM-random 64-d vectors —
    # the hardest case for LSH (nearest neighbors barely beat random).
    # Measured recall@1: 16/30 under the round-10 additive family,
    # 26/30 under the round-11 decorrelated quadratic family (and
    # 30/30 with n_flips=2 multiprobe — test_lsh_multiprobe_contract);
    # assert with margin so other scale factors stay green. Chance
    # would be ≈ 1/500.
    assert len(ann) >= 25, f"too few queries got candidates: {len(ann)}"
    assert hits >= 10, f"recall collapsed: {hits}/{len(ann)}"
    # every returned neighbor must share a bucket with its query in at
    # least one hash table (candidates only come from bucket joins)
    tables = [
        {
            r["vec_id"]: r["b"]
            for r in emb.select(
                "vec_id", lsh_bucket(F.col("embedding"), 4, t).alias("b")
            ).collect()
        }
        for t in range(8)
    ]
    for q, n in ann.items():
        assert any(tab[q] == tab[n] for tab in tables)


def test_ivf_assignment_and_recall(spark):
    """IVF path (q43 machinery): (a) every vector is assigned to its
    true nearest centroid (vs numpy), (b) probe lists are the true
    nprobe nearest cells, and (c) cell-restricted search still recalls
    a decent share of exact top-1 neighbors on uniform vectors."""
    from eventsgateway_spark.queries.ext_similarity import (
        IVF_K,
        ivf_assign,
        ivf_probes,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assign = {r["vec_id"]: r["cell_id"] for r in ivf_assign(emb).collect()}

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    cents = mat[:IVF_K]  # centroids are the first K ids
    d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want_cell = d2.argmin(axis=1)  # ties broken by lowest cid, same as argmin
    for i, vid in enumerate(ids):
        assert assign[vid] == want_cell[i], f"vec {vid} misassigned"

    probes = ivf_probes(emb, (F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    got_probes: dict[int, set[int]] = {}
    for r in probes.collect():
        got_probes.setdefault(r["qid"], set()).add(r["cell_id"])
    for qid, cells in got_probes.items():
        qi = int(np.where(ids == qid)[0][0])
        want = set(np.argsort(d2[qi], kind="stable")[:2].tolist())
        assert cells == want, f"probe cells for {qid}: {cells} != {want}"

    # recall@1 within probed cells vs exact brute force
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    hits = n_q = 0
    for qid, cells in got_probes.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = normed @ normed[qi]
        sims[qi] = -2
        exact_n = ids[int(np.argmax(sims))]
        in_cells = [i for i in range(len(ids)) if want_cell[i] in cells and ids[i] != qid]
        best = max(in_cells, key=lambda i: (sims[i], -ids[i]))
        n_q += 1
        hits += int(ids[best] == exact_n)
    # uniform-random 64-d vectors are LSH/IVF's worst case; nprobe=2 of
    # 8 cells covers ~25% of the corpus. Measured 5/10 at sf0.01.
    assert n_q == 10 and hits >= 2, f"IVF recall collapsed: {hits}/{n_q}"


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_join_matches_pandas_merge_asof(spark):
    left = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b", "c"],
            "t": [5, 10, 3, 7, 1, 4],
            "lv": [50, 100, 30, 70, 10, 40],
        }
    )
    right = pd.DataFrame(
        {
            "k": ["a", "a", "b", "d"],
            "t": [4, 9, 7, 1],
            "rv": [400, 900, 700, 100],
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on=["k"],
            left_time="t",
            right_time="t",
            right_values=["rv"],
        )
        .orderBy("k", "t")
        .toPandas()
    )
    want = (
        pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t"),
            on="t",
            by="k",
            direction="backward",  # rv at the latest right.t <= left.t
        )
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    assert got["lv"].tolist() == want["lv"].tolist()
    got_rv = [None if pd.isna(x) else int(x) for x in got["rv_asof"]]
    want_rv = [None if pd.isna(x) else int(x) for x in want["rv"]]
    assert got_rv == want_rv  # incl. tie at (b, t=7) and no-match rows


# ---------------------------------------------------------------------------
# multimodal stub
# ---------------------------------------------------------------------------


def test_multimodal_decode_stub(spark):
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(20)
    assets = documents_as_media(docs)
    assert assets.schema["payload"].dataType.typeName() == "binary"
    feats = decode_media(assets)
    assert feats.schema == FEATURES_SCHEMA
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 64
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # determinism: second run produces identical features
    again = {r["asset_id"]: r["feature"] for r in decode_media(assets).collect()}
    assert all(again[r["asset_id"]] == r["feature"] for r in rows)


def test_multimodal_real_decode_gates_pil_formats(spark):
    """The real-decode path handles image/ppm natively; every other
    media type must hit the explicit PIL/libav seam at execution (the
    stub contract from r2, narrowed to the formats that truly need
    external libraries)."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(1)
    with pytest.raises(Exception, match="PIL|libav|NotImplemented"):
        decode_media(documents_as_media(docs), stub=False).collect()


# ---------------------------------------------------------------------------
# dedup consistency
# ---------------------------------------------------------------------------


def test_jaccard_pairs_are_clustered_together(spark):
    """Clustering consistency: every near-dup pair (q30, the cluster
    edge set) must land inside ONE q32 cluster, and every cluster id
    must be the minimum member doc_id."""
    from eventsgateway_spark.queries import QUERIES

    pairs = QUERIES["q30_jaccard_pairs"](spark, SF_ORACLE).collect()
    clusters = QUERIES["q32_dedup_clusters"](spark, SF_ORACLE).collect()
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in clusters}
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert cluster_of[p["d1"]] == cluster_of[p["d2"]], (p["d1"], p["d2"])
    by_cluster: dict[int, list[int]] = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)
        assert len(members) >= 2  # singletons never enter the edge set


# ---------------------------------------------------------------------------
# multimodal resize / frame-sample stubs
# ---------------------------------------------------------------------------


def test_resize_and_frame_sample_stubs(spark):
    from eventsgateway_spark.operators.multimodal import resize_media, sample_frames

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(10)
    assets = documents_as_media(docs)
    thumbs = resize_media(assets).collect()
    assert len(thumbs) == 10
    assert all(r["width"] == 32 and len(r["thumb"]) > 0 for r in thumbs)

    frames = sample_frames(assets, every_n=20, max_frames=3).collect()
    by_asset: dict[int, list] = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert set(by_asset) == {r["asset_id"] for r in assets.collect()}
    for rows in by_asset.values():
        assert 1 <= len(rows) <= 3
        assert [r["frame_idx"] for r in sorted(rows, key=lambda x: x["frame_idx"])] == list(range(len(rows)))


# ---------------------------------------------------------------------------
# skew salting
# ---------------------------------------------------------------------------


def test_salted_agg_matches_plain(spark):
    """Two-phase salted aggregation must be value-identical to the
    direct groupBy for algebraic aggregates (integer sums avoid float
    order effects)."""
    from eventsgateway_spark.operators.skew import salted_agg
    from eventsgateway_spark.queries._util import table

    ev = table(spark, SF_ORACLE, "events").select(
        "event_type", "event_id", (F.col("value") * 100).cast("bigint").alias("cents")
    )
    plain = {
        r["event_type"]: (r["n"], r["total"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count("event_id").alias("n"), F.sum("cents").alias("total"), F.max("cents").alias("mx"))
        .collect()
    }
    salted = {
        r["event_type"]: (r["n"], r["total"], r["mx"])
        for r in salted_agg(
            ev,
            ["event_type"],
            {"n": ("event_id", "count"), "total": ("cents", "sum"), "mx": ("cents", "max")},
        ).collect()
    }
    assert plain == salted


def test_topk_per_key_matches_naive_window(spark):
    """Salted two-phase top-k must equal the single-window plan
    row-for-row, including on a pathologically hot key (one user with
    ~40% of all rows)."""
    from eventsgateway_spark.operators.skew import topk_per_key
    from eventsgateway_spark.queries._util import table
    from pyspark.sql.window import Window

    ev = table(spark, SF_ORACLE, "events").select("user_id", "event_id", "ts")
    hot = ev.limit(2000).withColumn("user_id", F.lit(-1))
    df = ev.unionAll(hot)

    order = [F.col("ts").desc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id")
    )
    fast = topk_per_key(df, ["user_id"], order, k=3).select(
        "user_id", "rn", "event_id"
    )
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, fast.collect()))


def test_skew_safe_running_sum_matches_naive_window(spark):
    """The distributed prefix sum must reproduce the naive unbounded
    window's (rn, running_sum) exactly — integer cents, so equality is
    bit-exact. Includes a hot key spanning many buckets."""
    from eventsgateway_spark.operators.skew import skew_safe_running_sum
    from eventsgateway_spark.queries._util import table
    from pyspark.sql.window import Window

    ev = table(spark, SF_ORACLE, "events").select(
        "user_id", "event_id", "ts", (F.col("value") * 100).cast("bigint").alias("cents")
    )
    hot = ev.limit(3000).withColumn("user_id", F.lit(-1))
    df = ev.unionAll(hot)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    naive = df.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_sum"),
    )
    fast = skew_safe_running_sum(
        df,
        keys=["user_id"],
        order_by=["ts", "event_id"],
        value=F.col("cents"),
        bucket=F.to_date("ts"),
    ).select("user_id", "event_id", "rn", "running_sum")
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, fast.collect()))


def test_udtf_chunker_matches_jvm_chunker(spark):
    """Q16 UDTF surface: the Python table function must reproduce q51's
    JVM-side chunking exactly (same windows, same order) — proving the
    UDTF escape hatch and the fast path share semantics."""
    from eventsgateway_spark.functions.udtfs import register_udtfs
    from eventsgateway_spark.queries import QUERIES

    register_udtfs(spark)
    spark.read.parquet(f"{SF_ORACLE}/documents.parquet").createOrReplaceTempView(
        "_udtf_docs"
    )
    via_udtf = spark.sql(
        """
        SELECT cd.* FROM _udtf_docs d,
        LATERAL chunk_doc(d.doc_id, d.text) cd
        ORDER BY doc_id, chunk_id
        """
    ).collect()
    via_jvm = QUERIES["q51_doc_chunks"](spark, SF_ORACLE).collect()
    assert [tuple(r) for r in via_udtf] == [tuple(r) for r in via_jvm]


def test_kmeans_trainer_converges_and_improves_assignment(spark):
    """Lloyd trainer: inertia is monotone non-increasing across rounds,
    trained centroids beat the first-k seeding on inertia, every cell
    stays populated, and the trained centroid row plugs straight into
    the IVF assignment helper."""
    from eventsgateway_spark.operators.kmeans import train_centroids
    from eventsgateway_spark.queries.ext_similarity import (
        IVF_K,
        ivf_assign_with,
        norm_view,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    cents, history = train_centroids(emb, k=IVF_K, iters=4)
    assert len(history) == 4
    for a, b in zip(history, history[1:]):
        assert b <= a * (1 + 1e-9), history  # monotone up to float noise
    assert history[-1] < history[0]  # training actually moved the centers

    assign = ivf_assign_with(norm_view(emb), cents)
    cells = assign.groupBy("cell_id").count().collect()
    assert len(cells) == IVF_K  # no cell collapsed to empty
    assert {r["cell_id"] for r in cells} <= set(range(IVF_K))


def test_kmeans_duplicate_seeds_keep_k_cells(spark):
    """Duplicate seed vectors (common in dedup corpora): the losing
    cell gets zero members in round 1 (ties break to the lower cid).
    Its centroid must be carried forward, not silently dropped — the
    trained index always has exactly k cells."""
    from eventsgateway_spark.operators.kmeans import train_centroids

    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]),  # identical seeds 0 and 1
        (2, [0.0, 1.0]), (3, [0.0, 0.9]), (4, [0.9, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, _ = train_centroids(emb, k=3, iters=2)
    cell_ids = sorted(
        c["cid"] for c in cents.collect()[0]["cents"]
    )
    assert cell_ids == [0, 1, 2]  # cell 1 survived despite zero members


def test_simhash_hamming_banding_semantics(spark):
    """q63's Manku banding: a 1-token edit of a long doc must surface
    as a bounded-Hamming pair (close token distributions ⇒ few sign
    flips), an unrelated doc must not pair with it, and the banding
    candidate set must contain every pair the exhaustive popcount scan
    finds (exact recall by pigeonhole)."""
    from eventsgateway_spark.queries.ext_dedup import (
        HAM_MAX,
        HAM_SIG_BITS,
        simhash_sigs,
    )

    base = " ".join(f"tok{i}" for i in range(120))
    edited = " ".join(f"tok{i}" for i in range(119)) + " changed"
    other = " ".join(f"zzz{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_sigs(docs, HAM_SIG_BITS).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sigs[1], sigs[2]) <= HAM_MAX  # near-dup lands in bound
    assert ham(sigs[1], sigs[3]) > HAM_MAX  # unrelated stays out

    # exact recall: run the declared query's plan over these docs by
    # writing them as the documents table in a temp dir
    import os
    import tempfile

    from eventsgateway_spark.queries import QUERIES

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        pairs = {
            (r["d1"], r["d2"]): r["hamming"]
            for r in QUERIES["q63_simhash_hamming_pairs"](spark, d).collect()
        }
    expect = {
        (a, b): ham(sigs[a], sigs[b])
        for a in sigs
        for b in sigs
        if a < b and ham(sigs[a], sigs[b]) <= HAM_MAX
    }
    assert pairs == expect and (1, 2) in pairs


def test_bench_plan_parity(spark, monkeypatch):
    """The plan the bench times must return the rows the oracle checks.
    With ``FIXTURE_INPUT_BYTES`` at 0 every input counts as bench scale,
    so q30/q38/q43/q70/q94 run their bench plans (pin/spread, the q38
    bucket GEMM kernel, the q70/q94 GEMM cell kernels) on the sf0.01
    fixture and must match the default fixture-scale plans row for
    row."""
    from eventsgateway_spark.queries import QUERIES, _util

    def rows(name):
        try:
            return [tuple(r) for r in QUERIES[name](spark, SF_ORACLE).collect()]
        finally:
            _util.unpin_all()

    names = (
        "q30_jaccard_pairs",
        "q38_embedding_near_dup",
        "q43_ivf_ann",
        "q70_semantic_dedup",  # GEMM cell kernel (r15)
        "q94_knn_label_consistency",  # GEMM cell kernel (r15)
    )
    base = {n: rows(n) for n in names}
    monkeypatch.setattr(_util, "FIXTURE_INPUT_BYTES", 0)
    for n, expected in base.items():
        assert rows(n) == expected and len(expected) > 0, n


def test_input_bytes_decodes_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns URIs (a space arrives as %20); input_bytes
    must size the decoded paths, not fall back to its unknown-size
    sentinel, so a fixture under such a directory is still
    fixture-scale."""
    import os

    from eventsgateway_spark.queries._util import input_bytes, is_fixture_scale

    path = tmp_path / "a dir" / "t.parquet"
    spark.range(10).coalesce(1).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    assert any("%20" in uri for uri in df.inputFiles())
    want = sum(
        os.path.getsize(path / f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert input_bytes(df) == want
    assert is_fixture_scale(df)


def test_semd_knn_gemm_kernel_parity(spark, monkeypatch, tmp_path):
    """The r15 within-cell GEMM kernels (q70 prior / q94 3-NN vote)
    must be row-identical to the fixture-scale fold plans — including
    the lone-vector edge (a cell of one emits NO kernel row; the left
    join + coalesce supplies the -1/0 sentinels exactly like the fold
    path's missing-top3 case). A tiny parquet fixture (10 vectors,
    8 derived cells => several single-member cells) forces that edge;
    the shipped sf fixtures cover the dense case via
    test_bench_plan_parity."""
    from pyspark.sql import types as T

    from eventsgateway_spark.queries import QUERIES, _util

    rows_in = [
        (i, [float((i * 7 + j * 3) % 11 - 5) or 1.0 for j in range(4)], i % 3)
        for i in range(10)
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows_in, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))

    def run(name):
        try:
            return [tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect()]
        finally:
            _util.unpin_all()

    fold = {n: run(n) for n in ("q70_semantic_dedup", "q94_knn_label_consistency")}
    monkeypatch.setattr(_util, "FIXTURE_INPUT_BYTES", 0)
    for n, expected in fold.items():
        assert run(n) == expected and len(expected) == 10, n
    # the edge actually fired: at 10 vectors / 8 seeded cells some
    # vector is alone in its cell => sentinel row present in both paths
    assert any(r[2] == -1 for r in fold["q94_knn_label_consistency"])


def test_semantic_dedup_keep_first_invariants(spark):
    """q70 SemDeDup semantics: decisions partition the corpus; every
    dropped vector has a SURVIVING smaller-id witness at >= tau in its
    cell (keep-first is well-founded: the minimum id of any near-dup
    group always survives)."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries.ext_similarity import SEMD_TAU_U

    rows = QUERIES["q70_semantic_dedup"](spark, SF_ORACLE).collect()
    assert len(rows) == 500  # every vector gets a decision
    dropped = [r for r in rows if r.dropped == 1]
    kept = [r for r in rows if r.dropped == 0]
    assert len(dropped) > 0 and len(kept) > 0
    for r in dropped:
        assert r.max_prior_sim_u >= SEMD_TAU_U
    for r in kept:
        assert r.max_prior_sim_u < SEMD_TAU_U
    # the minimum vec_id in every cell can have no smaller-id neighbor
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r.cell_id, []).append(r)
    for cell_rows in by_cell.values():
        first = min(cell_rows, key=lambda r: r.vec_id)
        assert first.dropped == 0


def test_ppm_decode_and_resize_are_real(spark):
    """stub=False genuinely decodes binary PPM (P6) with numpy: parsed
    dimensions, per-channel stats, and a nearest-neighbor thumbnail
    that round-trips through the PPM encoder — no media libraries."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_ppm,
        parse_ppm,
        resize_media,
    )

    grad = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)  # 4x2
    solid = np.full((4, 4, 3), [10, 200, 30], dtype=np.uint8)  # 4x4
    # header with a comment line — spec-legal, must parse
    commented = b"P6\n# a comment\n4 4\n255\n" + solid.tobytes()
    rows = [
        (1, "image/ppm", bytearray(encode_ppm(grad)), len(encode_ppm(grad))),
        (2, "image/ppm", bytearray(commented), len(commented)),
    ]
    assets = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r.asset_id: r for r in decode_media(assets, stub=False).collect()}
    assert (feats[1].width, feats[1].height) == (4, 2)
    assert (feats[2].width, feats[2].height) == (4, 4)
    exp_means = solid.reshape(-1, 3).mean(axis=0) / 255.0
    got = feats[2].feature
    assert abs(got[2] - exp_means[0]) < 1e-6
    assert abs(got[3] - exp_means[1]) < 1e-6
    assert abs(got[4] - exp_means[2]) < 1e-6
    assert got[5] == got[6] == got[7] == 0.0  # solid color: zero stddev

    thumbs = {r.asset_id: r for r in resize_media(assets, 2, 2, stub=False).collect()}
    w, h, timg = parse_ppm(bytes(thumbs[1].thumb))
    assert (w, h) == (2, 2)
    # nearest-neighbor gather: rows 0,1 -> 0,1 ; cols 0,2
    exp = grad[[0, 1]][:, [0, 2]]
    assert np.array_equal(timg, exp)
    # media outside the native tier (ppm/png) must hit the PIL seam
    import pytest as _pytest

    other = spark.createDataFrame(
        [(3, "image/jpeg", bytearray(b"fake"), 4)], MEDIA_SCHEMA
    )
    with _pytest.raises(Exception, match="PIL|NotImplemented"):
        decode_media(other, stub=False).collect()


def test_png_decode_and_resize_are_real(spark):
    """stub=False genuinely decodes PNG with stdlib zlib + numpy
    (VERDICT r5 #5 — the format wild fixtures actually use): parsed
    dimensions, RGB stats excluding alpha, and a nearest-neighbor
    thumbnail that round-trips through the PNG encoder. Mixed
    ppm+png batches decode side by side (per-row dispatch)."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_png,
        encode_ppm,
        parse_png,
        resize_media,
    )

    grad = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)  # 4x2 RGB
    solid_rgba = np.zeros((4, 4, 4), dtype=np.uint8)
    solid_rgba[:, :, :3] = [10, 200, 30]
    solid_rgba[:, :, 3] = 7  # alpha must not leak into color stats
    rows = [
        (1, "image/png", bytearray(encode_png(grad)), len(encode_png(grad))),
        (2, "image/png", bytearray(encode_png(solid_rgba)), len(encode_png(solid_rgba))),
        (3, "image/ppm", bytearray(encode_ppm(grad)), len(encode_ppm(grad))),
    ]
    assets = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r.asset_id: r for r in decode_media(assets, stub=False).collect()}
    assert (feats[1].width, feats[1].height) == (4, 2)
    assert (feats[2].width, feats[2].height) == (4, 4)
    exp_means = np.array([10, 200, 30]) / 255.0
    got = feats[2].feature
    assert abs(got[2] - exp_means[0]) < 1e-6
    assert abs(got[3] - exp_means[1]) < 1e-6
    assert abs(got[4] - exp_means[2]) < 1e-6
    assert got[5] == got[6] == got[7] == 0.0  # solid color: zero stddev
    # ppm and png of the same image land on identical features
    assert feats[1].feature == feats[3].feature

    thumbs = {r.asset_id: r for r in resize_media(assets, 2, 2, stub=False).collect()}
    w, h, timg = parse_png(bytes(thumbs[1].thumb))
    assert (w, h) == (2, 2)
    assert np.array_equal(timg, grad[[0, 1]][:, [0, 2]])
    # RGBA thumb keeps its alpha channel
    _, _, timg2 = parse_png(bytes(thumbs[2].thumb))
    assert timg2.shape == (2, 2, 4) and (timg2[:, :, 3] == 7).all()


def test_wav_decode_is_real(spark):
    """stub=False genuinely decodes PCM WAV with stdlib wave + numpy:
    n_frames is the PCM frame count (not the images' constant 1), and
    the feature row carries rate/duration/RMS/ZCR the batch really has.
    Audio and image assets decode side by side in one mapInPandas."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        encode_ppm,
        encode_wav,
    )

    rate, n = 16_000, 1600  # 100 ms
    t = np.arange(n) / rate
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * t)  # mono A440
    stereo = np.stack([sine, -sine], axis=1)  # anti-correlated channels
    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    rows = [
        (1, "audio/wav", bytearray(encode_wav(sine, rate)), 0),
        (2, "audio/wav", bytearray(encode_wav(stereo, rate)), 0),
        (3, "image/ppm", bytearray(encode_ppm(img)), 0),
    ]
    assets = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.asset_id: r for r in decode_media(assets, stub=False).collect()}

    mono, st2 = feats[1], feats[2]
    assert (mono.width, mono.height, mono.n_frames) == (1, 16, n)
    assert (st2.width, st2.height, st2.n_frames) == (2, 16, n)
    f = mono.feature
    assert abs(f[0] - rate / 48_000.0) < 1e-6
    assert abs(f[1] - (n / rate) / 60.0) < 1e-6
    assert abs(f[2] - 0.5 / np.sqrt(2)) < 1e-2  # sine RMS = A/sqrt(2)
    assert abs(f[4] - 2 * 440.0 / rate) < 5e-3  # ZCR of a 440 Hz tone
    assert abs(st2.feature[7] - (-1.0)) < 1e-6  # anti-correlated stereo
    # stereo mix of s and -s cancels: silent mono mix, zero RMS
    assert st2.feature[2] < 1e-9
    assert feats[3].n_frames == 1  # images keep single-frame semantics


def test_wav_resample_is_real(spark):
    """resample_audio really changes the sample grid: a 16 kHz sine
    downsampled to 8 kHz halves the frame count, round-trips through
    the WAV codec, and preserves the tone (RMS within quantization);
    non-WAV media hit the libav seam."""
    import numpy as np
    import pytest as _pytest

    from eventsgateway_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        parse_wav,
        resample_audio,
    )

    rate, n = 16_000, 1600
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(n) / rate)
    assets = spark.createDataFrame(
        [(1, "audio/wav", bytearray(encode_wav(sine, rate)), 0)], MEDIA_SCHEMA
    )
    out = resample_audio(assets, rate=8_000).collect()[0]
    assert (out.rate, out.n_frames) == (8_000, 800)
    nch, got_rate, x, bits = parse_wav(bytes(out.audio))
    assert (nch, got_rate, x.shape[0], bits) == (1, 8_000, 800, 16)
    # nearest-sample pick of a slow sine keeps amplitude statistics
    assert abs(float(np.sqrt((x[:, 0] ** 2).mean())) - 0.5 / np.sqrt(2)) < 2e-2

    other = spark.createDataFrame(
        [(2, "audio/mp3", bytearray(b"fake"), 4)], MEDIA_SCHEMA
    )
    with _pytest.raises(Exception, match="libav|NotImplemented"):
        resample_audio(other).collect()

    # header-only WAV (0 frames) is valid input: 0-frame output, no crash
    empty = spark.createDataFrame(
        [(3, "audio/wav", bytearray(encode_wav(np.zeros((0, 1)), rate)), 0)],
        MEDIA_SCHEMA,
    )
    got = resample_audio(empty, rate=8_000).collect()[0]
    assert got.n_frames == 0
    _, _, ex, _ = parse_wav(bytes(got.audio))
    assert ex.shape[0] == 0


# ---------------------------------------------------------------------------
# corpus-prep selectors (q73 packing / q74 budget sampling)
# ---------------------------------------------------------------------------


def test_training_order_interleave_invariants(spark):
    """q76 semantics beyond the oracle hash: (a) within each source,
    vt is strictly increasing in rk (stride scheduling never reorders
    a source's own stream); (b) the realized mixture tracks the q75
    weights — in the first half of the vt-ordered stream, every
    source's share is within 6 percentage points of its weight_ppm
    share (the whole point of interleaving by virtual time)."""
    from collections import Counter

    from eventsgateway_spark.queries import QUERIES

    rows = QUERIES["q76_training_order"](spark, SF_ORACLE).collect()
    assert rows
    last_vt: dict = {}
    for r in rows:
        if r.source in last_vt:
            assert r.vt >= last_vt[r.source]
        last_vt[r.source] = r.vt

    weights = {
        r.source: r.weight_ppm
        for r in QUERIES["q75_domain_mixture"](spark, SF_ORACLE).collect()
    }
    half = rows[: len(rows) // 2]
    got = Counter(r.source for r in half)
    wtot = sum(weights.values())
    for src, w in weights.items():
        expect = w / wtot
        # sources exhaust when small; realized share can only fall
        # short near the end of a source's stream, never overshoot
        # by more than one stride
        assert abs(got[src] / len(half) - expect) < 0.06, (src, got[src])


def test_sequence_packing_invariants(spark):
    """q73 semantics beyond the oracle hash: offsets form one exact
    global prefix sum in (doc_id, chunk_id) order (contiguous token
    stream, no gaps/overlaps), positions stay inside the sequence, and
    the boundary flag marks exactly the straddling chunks."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries.ext_pipeline import SEQ_LEN

    rows = QUERIES["q73_sequence_packing"](spark, SF_ORACLE).collect()
    assert rows
    off = 0
    for r in rows:  # driver-side replay of the stream
        assert r.seq_id == off // SEQ_LEN
        assert r.seq_pos == off % SEQ_LEN
        assert r.crosses_boundary == (
            1 if (off + r.n_tokens - 1) // SEQ_LEN != r.seq_id else 0
        )
        assert 0 < r.n_tokens <= 32  # CHUNK_TOKENS
        off += r.n_tokens
    # every full sequence is exactly SEQ_LEN tokens
    total = off
    assert total > SEQ_LEN  # fixture big enough to pack multiple sequences


def test_token_budget_sample_greedy_maximal(spark):
    """q74: per-source kept set is the maximal doc_id-ordered prefix
    whose token total fits the budget — adding each source's next doc
    would exceed it."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import table
    from eventsgateway_spark.queries.ext_sampling import SOURCE_TOKEN_BUDGET
    from eventsgateway_spark.functions.text import tokens

    kept = QUERIES["q74_token_budget_sample"](spark, SF_ORACLE).collect()
    assert kept
    docs = (
        table(spark, SF_ORACLE, "documents")
        .select("source", "doc_id", F.size(tokens("text")).alias("n"))
        .collect()
    )
    by_src: dict[str, list] = {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        by_src.setdefault(d.source, []).append(d)
    got: dict[str, list] = {}
    for r in kept:
        assert r.cum_tokens <= SOURCE_TOKEN_BUDGET
        got.setdefault(r.source, []).append(r)
    for src, docs_in_order in by_src.items():
        expect, cum = [], 0
        for d in docs_in_order:
            if cum + d.n > SOURCE_TOKEN_BUDGET:
                break  # greedy prefix stops at the first overflow
            cum += d.n
            expect.append((d.doc_id, cum))
        assert [(r.doc_id, r.cum_tokens) for r in got.get(src, [])] == expect, src


def test_mixture_weights_zero_token_corpus_no_ansi_crash(spark):
    """weights_from_totals must survive an all-zero-token totals frame
    under Spark 4 ANSI mode (unguarded `div 0` raises DIVIDE_BY_ZERO):
    weights come out 0, oversample the -1 sentinel (round-11
    convention: a NULL in a BIGINT oracle column degrades the driver's
    pandas fetch to float64 and hash-diverges every row) — same as the
    GREATEST-guarded oracle. This is the shared formula, so streaming
    inherits the guarantee."""
    from eventsgateway_spark.queries.ext_sampling import weights_from_totals

    totals = spark.createDataFrame(
        [("s1", 2, 0), ("s2", 1, 0)], "source string, n_docs long, n_tokens long"
    )
    rows = {r.source: r for r in weights_from_totals(totals).collect()}
    assert rows["s1"].share_ppm == rows["s1"].weight_ppm == 0
    assert rows["s1"].oversample_x100 == -1


def test_leakage_safe_split_invariants(spark):
    """q77 semantics beyond the oracle hash: (a) every near-dup pair
    (Jaccard>=0.5) lands in ONE split — the contamination q47-style
    per-doc splitting allows; (b) singleton docs get exactly the q47
    assignment for their own id (the split rule degrades gracefully)."""
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries.ext_dedup import doc_shingles, jaccard_pairs
    from eventsgateway_spark.queries._util import table as _table

    rows = QUERIES["q77_leakage_safe_split"](spark, SF_ORACLE).collect()
    split_of = {r.doc_id: r.split for r in rows}
    cluster_of = {r.doc_id: r.cluster_id for r in rows}

    docs = _table(spark, SF_ORACLE, "documents")
    pairs = jaccard_pairs(doc_shingles(docs), 0.5).select("d1", "d2").collect()
    assert pairs  # the fixture has near-dups; the test must bite
    for p in pairs:
        assert split_of[p.d1] == split_of[p.d2], (p.d1, p.d2)
        assert cluster_of[p.d1] == cluster_of[p.d2]

    from eventsgateway_spark.queries.ext_sampling import TRAIN_PCT, VAL_PCT, hash_pct
    from pyspark.sql import functions as F

    singles = [d for d in split_of if cluster_of[d] == d]
    some = spark.createDataFrame([(d,) for d in singles[:50]], "doc_id long")
    pct = {r.doc_id: r.p for r in some.select("doc_id", hash_pct(F.col("doc_id")).alias("p")).collect()}
    for d, p in pct.items():
        want = "train" if p < TRAIN_PCT else ("val" if p < VAL_PCT else "test")
        assert split_of[d] == want


def test_asof_null_timestamps_match_nothing(spark):
    """A NULL-timestamp state row must not leak values into early left
    rows (it would sort NULLS FIRST and become carried state), and a
    NULL-timestamp left row gets no match — DuckDB/pandas ASOF
    semantics."""
    left = spark.createDataFrame(
        [("k1", 50, 1), ("k1", None, 2)], "k string, t long, lv long"
    )
    right = spark.createDataFrame(
        [("k1", None, 99), ("k1", 100, 10)], "k string, t long, rv long"
    )
    got = {
        r.lv: r.rv_asof
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="t",
            right_values=["rv"],
        ).collect()
    }
    assert got == {1: None, 2: None}


def test_dedup_cluster_labels_shared_and_cached(spark):
    """q32 and q77 read the one cluster-label lineage
    (``dedup_cluster_labels``) and agree on every clustered doc's
    label; the clustered docs are exactly the nodes of q30's
    Jaccard>=0.5 pair graph."""
    import os

    from eventsgateway_spark.queries import QUERIES

    sf_big = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf_big, "documents.parquet")):
        pytest.skip("sf0.1 fixture absent")
    q32_labels = {
        r.doc_id: r.cluster_id
        for r in QUERIES["q32_dedup_clusters"](spark, sf_big).collect()
    }
    q77_labels = {
        r.doc_id: r.cluster_id
        for r in QUERIES["q77_leakage_safe_split"](spark, sf_big).collect()
    }
    assert q32_labels  # the fixture has near-dups; the test must bite
    for doc_id, cl in q32_labels.items():
        assert q77_labels[doc_id] == cl
    # docs outside the pair graph are their own cluster in q77
    for doc_id, cl in q77_labels.items():
        if doc_id not in q32_labels:
            assert cl == doc_id
    pair_nodes = {
        d
        for r in QUERIES["q30_jaccard_pairs"](spark, sf_big).collect()
        for d in (r.d1, r.d2)
    }
    assert set(q32_labels) == pair_nodes


def test_with_keep_first_expected_rows(spark):
    """ext_dedup.with_keep_first (q60's exact-dedup stage and the
    streaming corpus-prep screen) annotates every row with its key
    group's minimum doc_id; null keys form ONE group (the join-back is
    null-safe <=>), so no caller silently drops null-keyed rows."""
    from eventsgateway_spark.queries.ext_dedup import with_keep_first

    df = spark.createDataFrame(
        [(1, "a"), (5, "a"), (3, "a"), (2, "b"), (9, "c"), (4, "c"),
         (7, None), (6, None)],
        "doc_id long, k string",
    )
    rows = sorted(
        (r["doc_id"], r["k"], r["keep_id"])
        for r in with_keep_first(df, "k").collect()
    )
    assert rows == [
        (1, "a", 1), (2, "b", 2), (3, "a", 1),
        (4, "c", 4), (5, "a", 1), (6, None, 6),
        (7, None, 6), (9, "c", 4),
    ]


def test_quantized_ann_agrees_with_exact(spark):
    """q81's int8-quantized ranking vs q33's exact cosine ranking on
    the shipped fixture: quantizing a 64-d unit vector to int8 keeps
    ~0.4% per-component error, so the top-1 neighbor should agree for
    (almost) every query and the top-3 SET should overlap heavily.
    Measured on sf0.001: 10/10 top-1 agreement, 30/30 top-3 overlap —
    asserted with margin so fixture regens stay green."""
    from eventsgateway_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.qid, r.rn): r.neighbor_id
        for r in QUERIES["q33_cosine_top3"](spark, sf).collect()
    }
    quant = {
        (r.qid, r.rn): r.neighbor_id
        for r in QUERIES["q81_quantized_ann"](spark, sf).collect()
    }
    assert set(q for q, _ in quant) == set(q for q, _ in exact)
    qids = sorted({q for q, _ in exact})
    top1_agree = sum(1 for q in qids if exact[(q, 1)] == quant[(q, 1)])
    assert top1_agree >= len(qids) - 2, f"top-1 agreement {top1_agree}/{len(qids)}"
    overlap = sum(
        1
        for q in qids
        for n in {quant[(q, r)] for r in (1, 2, 3)}
        if n in {exact[(q, r)] for r in (1, 2, 3)}
    )
    assert overlap >= 2 * len(qids), f"top-3 overlap {overlap}/{3 * len(qids)}"


def test_importance_weights_favor_target_language(spark):
    """q82 semantic invariant: with the target = the lang='en' slice,
    English documents must score higher on average than non-English
    ones (that is the entire point of the importance weight), and the
    tgt_like flag must be exactly (wt_unats >= 0)."""
    from eventsgateway_spark.queries import QUERIES

    rows = QUERIES["q82_importance_weights"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "q82 returned no rows on the fixture"
    en = [r.wt_unats / r.n_tok for r in rows if r.lang == "en"]
    rest = [r.wt_unats / r.n_tok for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    for r in rows:
        assert r.tgt_like == (1 if r.wt_unats >= 0 else 0)


def test_bigram_lm_catches_shuffled_tokens(spark, tmp_path):
    """q84's reason to exist: a doc built by SHUFFLING another doc's
    tokens has the identical token multiset — q71's unigram NLL scores
    the two IDENTICALLY — but its adjacent pairs are improbable, so
    q84's bigram conditional NLL must score the shuffle strictly
    higher. Corpus: many copies of a stereotyped phrase (so its
    bigrams are high-probability) plus one shuffled copy."""
    from eventsgateway_spark.queries import QUERIES

    phrase = "the quick brown fox jumps over the lazy dog"
    shuffled = "dog the over quick lazy fox the brown jumps"  # same bag
    assert sorted(phrase.split()) == sorted(shuffled.split())
    rows = [(i, phrase, "en", "web") for i in range(20)] + [
        (99, shuffled, "en", "web")
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    sf = str(tmp_path)
    uni = {r.doc_id: r.avg_nll_u for r in QUERIES["q71_lm_quality_score"](spark, sf).collect()}
    assert uni[99] == uni[0], "unigram LM must be blind to token order"
    bi = {r.doc_id: r.avg_nll_u for r in QUERIES["q84_bigram_lm_score"](spark, sf).collect()}
    assert bi[99] > bi[0], f"bigram LM must flag the shuffle: {bi[99]} vs {bi[0]}"


def test_lsh_bucket_survives_high_dims(spark):
    """Round-11b regression (caught in code review): the mod-1021
    pre-reduced plane coefficients are small enough that F.lit makes
    them int32 literals, and c2*(d+1)^2 in int32 overflows at
    dim >= ~1451 — ARITHMETIC_OVERFLOW under ANSI, silent wraparound
    (= oracle divergence) without it. The BIGINT lift must keep
    lsh_bucket working at any plausible embedding width."""
    rows = [(0, [0.25] * 2048), (1, [-0.25] * 2048)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", lsh_bucket(F.col("embedding"), 8, 0).alias("b")
        ).collect()
    }
    assert set(got) == {0, 1}
    # antipodal vectors flip every projection sign: complementary buckets
    assert got[0] ^ got[1] == (1 << 8) - 1


def test_ivf_probe_arrow_matches_fold(spark):
    """ivf_probe_arrow must emit exactly the JVM array_sort+slice
    path's rows — HALF_UP-at-6dp squared-L2, (dist, cid) tie-break,
    first nprobe cells — at several nprobe values including past the
    cell count (slice truncates; argsort take must too)."""
    from eventsgateway_spark.queries.ext_similarity import (
        IVF_K,
        ivf_centroids,
        ivf_probe_arrow,
        ivf_probe_with,
        norm_view,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    v = norm_view(emb).filter(F.col("vec_id") < 40)
    cents = ivf_centroids(emb, IVF_K).localCheckpoint()
    for nprobe in (1, 2, 3, IVF_K, IVF_K + 5):
        fold = {
            (r["qid"], r["cell_id"])
            for r in ivf_probe_with(v, cents, nprobe).collect()
        }
        arrow = {
            (r["qid"], r["cell_id"])
            for r in ivf_probe_arrow(v, cents, nprobe).collect()
        }
        assert fold == arrow and len(arrow) > 0, nprobe


def test_lsh_buckets_arrow_matches_fold(spark):
    """lsh_buckets_arrow must emit, per vector, EXACTLY the per-table
    lsh_bucket fold values for every table — at the q38 floors and at
    a ladder rung (8x13: plane indices up to 103, the BIGINT-lift
    regime). Each product x·w is exact in float64, so the matmul's
    summation order cannot diverge from the sequential fold within
    the 53-bit budget; this pins it on real fixture data."""
    from eventsgateway_spark.functions.vectors import (
        lsh_bucket,
        lsh_buckets_arrow,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    for n_planes, n_tables in ((6, 2), (13, 8)):
        cols = [
            lsh_bucket(F.col("embedding"), n_planes, t).alias(f"f{t}")
            for t in range(n_tables)
        ]
        fold = {
            r["vec_id"]: tuple(r[f"f{t}"] for t in range(n_tables))
            for r in emb.select("vec_id", *cols).collect()
        }
        arrow = {
            r["vec_id"]: tuple(r["bs"])
            for r in emb.select(
                "vec_id",
                lsh_buckets_arrow(
                    F.col("embedding"), n_planes, n_tables
                ).alias("bs"),
            ).collect()
        }
        assert fold == arrow and len(arrow) > 0, (n_planes, n_tables)
    # hostile shapes: NULL vector (JVM folds to bucket 0 per table via
    # the NULL-projection otherwise(0)), ragged lengths, EMPTY array
    # (zip_with vs sequence(1,0) pads to NULL → bucket 0, not the
    # all-ones a literal 0.0 projection would set), all-zero vector
    # (0.0 projections → all-ones bucket on BOTH paths)
    hostile = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5]), (1, None), (2, [0.25] * 7), (3, []),
         (4, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    fold = {
        r["vec_id"]: tuple(r[f"f{t}"] for t in range(3))
        for r in hostile.select(
            "vec_id",
            *[lsh_bucket(F.col("embedding"), 5, t).alias(f"f{t}")
              for t in range(3)],
        ).collect()
    }
    arrow = {
        r["vec_id"]: tuple(r["bs"])
        for r in hostile.select(
            "vec_id",
            lsh_buckets_arrow(F.col("embedding"), 5, 3).alias("bs"),
        ).collect()
    }
    assert fold == arrow
    assert fold[1] == (0, 0, 0) and fold[3] == (0, 0, 0)  # NULL + empty
    assert fold[4] == (31, 31, 31)  # all-zero vector: every proj 0.0 >= 0


def test_lsh_multiprobe_contract(spark):
    """Query-directed multiprobe (round 12): (a) flip position 0 of
    the probe kernel is exactly the lsh_buckets_arrow/fold bucket per
    table; (b) each flip variant differs from its table's exact bucket
    by exactly ONE bit; (c) ann_topk recall@1 is monotone
    non-decreasing in n_flips and the flips=0 candidates are a subset
    of the flips=2 candidates (the knob only ADDS probes)."""
    import numpy as np

    from eventsgateway_spark.functions.vectors import (
        lsh_buckets_arrow,
        lsh_probe_buckets_arrow,
    )
    from eventsgateway_spark.queries.ext_similarity import ann_topk_bucketed

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    n_planes, n_tables, n_flips = 4, 8, 2
    width = 1 + n_flips
    exact = {
        r["vec_id"]: list(r["bs"])
        for r in emb.select(
            "vec_id",
            lsh_buckets_arrow(F.col("embedding"), n_planes, n_tables).alias("bs"),
        ).collect()
    }
    probes = {
        r["vec_id"]: list(r["ps"])
        for r in emb.select(
            "vec_id",
            lsh_probe_buckets_arrow(
                F.col("embedding"), n_planes, n_tables, n_flips
            ).alias("ps"),
        ).collect()
    }
    for vid, ps in probes.items():
        assert len(ps) == n_tables * width
        for t in range(n_tables):
            seg = ps[t * width:(t + 1) * width]
            assert seg[0] == exact[vid][t], (vid, t)  # flip 0 = exact
            for variant in seg[1:]:
                assert bin(variant ^ seg[0]).count("1") == 1, (vid, t)

    queries = emb.filter(F.col("vec_id") < 30)
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    top1 = {}
    for qi in range(30):
        sims = mat @ mat[qi]
        sims[qi] = -2
        top1[ids[qi]] = ids[int(np.argmax(sims))]
    prev_hits = -1
    for flips in (0, 2):
        res = ann_topk_bucketed(
            emb, queries, k=1, n_planes=n_planes, n_tables=n_tables,
            n_flips=flips,
        ).collect()
        hits = sum(1 for r in res if top1.get(r["qid"]) == r["neighbor_id"])
        assert hits >= prev_hits, (flips, hits)  # monotone recall
        prev_hits = hits
        # top-1 under a SUPERSET of probes can only improve against
        # the exact ranking (monotone assertion above); the fixture-
        # measured values (26/30 -> 30/30) are asserted with margin
        if flips == 0:
            assert hits >= 20, hits
        else:
            assert hits >= 26, hits

    # degenerate shapes: NULL and empty vectors probe bucket 0 plus
    # single-bit flips in plane order (the fold's NULL-projection
    # semantics + stable all-tie ordering); all-zero vectors probe the
    # all-ones bucket and its flips; ragged dims are per-row fine
    hostile = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5]), (1, None), (2, [0.25] * 7), (3, []),
         (4, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    ps = {
        r["vec_id"]: list(r["ps"])
        for r in hostile.select(
            "vec_id",
            lsh_probe_buckets_arrow(F.col("embedding"), 4, 2, 2).alias("ps"),
        ).collect()
    }
    assert ps[1] == [0, 1, 2, 0, 1, 2]  # NULL
    assert ps[3] == [0, 1, 2, 0, 1, 2]  # empty
    assert ps[4] == [15, 14, 13, 15, 14, 13]  # all-zero → all-ones
    # the well-formed rows in the ragged batch must carry the SAME
    # probe values the vectorized path computes for them in a clean
    # single-dim frame — pins the per-row fallback recursion's VALUES,
    # not just its shape (round-12 review finding)
    clean = {
        r["vec_id"]: list(r["ps"])
        for r in spark.createDataFrame(
            [(0, [1.0, -2.0, 0.5])], "vec_id long, embedding array<float>"
        ).select(
            "vec_id",
            lsh_probe_buckets_arrow(F.col("embedding"), 4, 2, 2).alias("ps"),
        ).collect()
    }
    assert ps[0] == clean[0]
    clean7 = {
        r["vec_id"]: list(r["ps"])
        for r in spark.createDataFrame(
            [(2, [0.25] * 7)], "vec_id long, embedding array<float>"
        ).select(
            "vec_id",
            lsh_probe_buckets_arrow(F.col("embedding"), 4, 2, 2).alias("ps"),
        ).collect()
    }
    assert ps[2] == clean7[2]


def test_ann_topk_bucketed_rejects_single_pinned_knob(spark):
    """Pinning exactly one of n_planes/n_tables is refused (ADVICE
    r12): the other knob would silently come from the (8,4)-floored
    ladder and break the T*N^2/2^p candidate-volume invariance the
    coupled ladder holds. Both-pinned and neither-pinned still work."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="together"):
        ann_topk_bucketed(emb, q, k=1, n_planes=16)
    with pytest.raises(ValueError, match="together"):
        ann_topk_bucketed(emb, q, k=1, n_tables=8)
    assert ann_topk_bucketed(emb, q, k=1, n_planes=4, n_tables=2).count() > 0
    assert ann_topk_bucketed(emb, q, k=1).count() > 0


def test_ivf_probe_routes_on_k_hint(spark):
    """ADVICE r12: a HINTLESS ivf_probe_with call (q43's oracle path)
    stays on the sequential fold — _rounded_d2's expanded-form distance
    can in principle round differently at a .5-ulp boundary, so
    hash-declared plans never reach the Arrow kernel. A ``k`` hint past
    ``_IVF_ARROW_K`` (the serving paths) routes to it, with the same
    rows."""
    from eventsgateway_spark.queries.ext_similarity import (
        _IVF_ARROW_K,
        IVF_K,
        ivf_centroids,
        ivf_probe_with,
        norm_view,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    v = norm_view(emb).filter(F.col("vec_id") < 5)
    cents = ivf_centroids(emb, IVF_K).localCheckpoint()

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    hintless = ivf_probe_with(v, cents, 2)
    assert "EvalPython" not in plan(hintless)  # fold: no Python stage
    hinted = ivf_probe_with(v, cents, 2, k=_IVF_ARROW_K + 1)
    assert "EvalPython" in plan(hinted)  # past the size rule: Arrow kernel
    rows = lambda df: {(r["qid"], r["cell_id"]) for r in df.collect()}
    assert rows(hintless) == rows(hinted) and len(rows(hintless)) > 0


def test_ivf_assign_arrow_matches_fold(spark):
    """ivf_assign_arrow (the kernel ivf_assign_with routes to past
    ``_IVF_ARROW_K``) must assign every sf0.01 vector to the same cell
    as the fold path at the oracle cell count."""
    from eventsgateway_spark.queries.ext_similarity import (
        IVF_K,
        ivf_assign_arrow,
        ivf_assign_with,
        ivf_centroids,
        norm_view,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    v = norm_view(emb)
    cents = ivf_centroids(emb, IVF_K).localCheckpoint()
    rows = lambda df: sorted((r["vec_id"], r["cell_id"]) for r in df.collect())
    fold = rows(ivf_assign_with(v, cents, k=IVF_K))
    assert rows(ivf_assign_arrow(v, cents)) == fold and len(fold) > 0


def test_dhash_invariant_to_upscale_and_reencode(spark):
    """The planted-near-dup transforms q89 exists to catch: a 2x
    nearest-neighbor upscale and a lossless PPM->PNG re-encode must
    hash IDENTICALLY (integer NN sampling picks the same pixels;
    decode returns the same array), and the REAL Spark pipeline
    (mapInPandas decode) must agree with the local hash."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _nn_resize,
        _synth_pixel_vals,
        dhash56,
        encode_png,
        encode_ppm,
        image_dhash,
    )

    v = _synth_pixel_vals([7])[0].astype(np.uint8)
    img = np.repeat(v[:, :, None], 3, axis=2)
    base = dhash56(img)
    up = _nn_resize(img, 32, 32)  # 2x NN upscale
    assert dhash56(up) == base
    rows = [
        (0, "image/ppm", bytearray(encode_ppm(img))),
        (1, "image/ppm", bytearray(encode_ppm(up))),
        (2, "image/png", bytearray(encode_png(img))),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    got = {r["asset_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got == {0: base, 1: base, 2: base}
    # PIL seam: an unsupported media type fails loudly, never a fake hash
    bad = spark.createDataFrame(
        [(9, "image/jpeg", bytearray(b"\xff\xd8"))],
        "asset_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="needs PIL"):
        image_dhash(bad).collect()


def test_q89_banding_recall_exact_for_bound(spark):
    """The Manku pigeonhole claim, verified: q89's banded pairs over
    the sf-oracle fixture must EQUAL the brute-force all-pairs set at
    Hamming <= 6 (banding is a candidate filter with exact recall for
    the bound, not an approximation), and the planted levels must give
    a non-trivial mix of distances."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _synth_pixel_vals,
        dhash56,
    )
    from eventsgateway_spark.queries import QUERIES

    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in QUERIES["q89_image_dhash_near_dup"](spark, SF_ORACLE).collect()
    }
    import duckdb

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_ORACLE}/documents.parquet' ORDER BY 1"
        ).fetchall()
    ]
    vals = _synth_pixel_vals(ids).astype(np.uint8)
    hs = {
        d: dhash56(np.repeat(v[:, :, None], 3, axis=2))
        for d, v in zip(ids, vals)
    }
    brute = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            h = bin(hs[d1] ^ hs[d2]).count("1")
            if h <= 6:
                brute[(d1, d2)] = h
    assert got == brute and len(got) > 100
    assert len(set(got.values())) >= 4  # a real distance gradient


def test_afp_invariant_to_amplitude_stereo_and_reencode(spark):
    """The planted transforms q90 exists to catch: a 4x-amplified
    copy, a stereo channel-duplicated copy, and a lossless WAV
    re-encode must fingerprint IDENTICALLY (energies scale together /
    channel 0 is hashed / the int16 lattice round-trips exactly), and
    the REAL Spark pipeline must agree with the local hash. The libav
    seam fails loudly for foreign formats."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _synth_audio_samples,
        afp56,
        audio_fingerprint,
        encode_wav,
        parse_wav,
    )

    q = _synth_audio_samples([13])[0]
    base_bytes = encode_wav(q / 32767.0, rate=16_000)
    base = afp56(parse_wav(base_bytes)[2][:, 0])
    amp4 = encode_wav(4 * q / 32767.0, rate=16_000)
    stereo = encode_wav(np.stack([q, q], axis=1) / 32767.0, rate=16_000)
    reenc = encode_wav(parse_wav(base_bytes)[2], rate=16_000)
    rows = [
        (0, "audio/wav", bytearray(base_bytes)),
        (1, "audio/wav", bytearray(amp4)),
        (2, "audio/wav", bytearray(stereo)),
        (3, "audio/wav", bytearray(reenc)),
    ]
    df = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    got = {r["asset_id"]: r["afp"] for r in audio_fingerprint(df).collect()}
    assert got == {0: base, 1: base, 2: base, 3: base}
    bad = spark.createDataFrame(
        [(9, "audio/mp3", bytearray(b"ID3"))],
        "asset_id long, media_type string, payload binary",
    )
    with pytest.raises(Exception, match="needs libav"):
        audio_fingerprint(bad).collect()


def test_wide_perceptual_hashes(spark):
    """Round-15 derived-geometry hashers (dhash_geom / afp_geom —
    media_geometry_for_rows's wide tier): word-per-band layout with
    band_w informative bits per word, the SAME invariance class as the
    fixed 56-bit tier (non-saturating brightness shift / amplitude
    scaling / channel duplication exact), and the Arrow-batched Spark
    wrappers agree with the local hash bit-for-bit."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _synth_audio_samples,
        _synth_pixel_vals,
        afp_geom,
        audio_fingerprint_wide,
        dhash_geom,
        encode_ppm,
        encode_wav,
        image_dhash_wide,
        parse_wav,
    )
    from eventsgateway_spark.queries.ext_dedup import media_geometry_for_rows

    bands, band_w = media_geometry_for_rows(50_000)
    assert (bands, band_w) == (7, 10)

    # --- image: word bounds, brightness invariance, Spark parity
    v = _synth_pixel_vals([7])[0].astype(np.uint8)
    img = np.repeat(v[:, :, None], 3, axis=2)
    base = dhash_geom(img, bands, band_w)
    assert len(base) == bands
    assert all(0 <= w < (1 << band_w) for w in base)
    assert len(set(base)) > 1  # informative, not degenerate
    # +20 brightness without saturation: adjacent comparisons shift
    # together — exact invariance, like dhash56
    lifted = np.clip(img.astype(np.int64), 0, 235).astype(np.uint8) + 20
    assert dhash_geom(lifted, bands, band_w) == dhash_geom(
        np.clip(img.astype(np.int64), 0, 235).astype(np.uint8), bands, band_w
    )
    df = spark.createDataFrame(
        [(0, "image/ppm", bytearray(encode_ppm(img)))],
        "asset_id long, media_type string, payload binary",
    )
    got = image_dhash_wide(df, bands, band_w).collect()
    assert [list(r["dhash"]) for r in got] == [base]

    # --- audio: amplitude scaling + channel duplication exact
    q = _synth_audio_samples([13])[0]
    mono = parse_wav(encode_wav(q / 32767.0, rate=16_000))[2][:, 0]
    abase = afp_geom(mono, bands, band_w)
    assert len(abase) == bands
    assert all(0 <= w < (1 << band_w) for w in abase)
    assert afp_geom(4.0 * np.asarray(mono), bands, band_w) == abase
    stereo = encode_wav(np.stack([q, q], axis=1) / 32767.0, rate=16_000)
    adf = spark.createDataFrame(
        [(0, "audio/wav", bytearray(stereo))],
        "asset_id long, media_type string, payload binary",
    )
    agot = audio_fingerprint_wide(adf, bands, band_w).collect()
    assert [list(r["afp"]) for r in agot] == [abase]


def test_q90_banding_recall_exact_for_bound(spark):
    """q90's banded pairs over the sf-oracle fixture must EQUAL the
    brute-force all-pairs set at Hamming <= 6 (exact recall by
    pigeonhole), with a non-trivial distance mix."""
    import duckdb
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _synth_audio_samples,
        afp56,
    )
    from eventsgateway_spark.queries import QUERIES

    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in QUERIES["q90_audio_fingerprint_near_dup"](
            spark, SF_ORACLE
        ).collect()
    }
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_ORACLE}/documents.parquet' ORDER BY 1"
        ).fetchall()
    ]
    qs = _synth_audio_samples(ids)
    hs = {d: afp56(q / 32768.0) for d, q in zip(ids, qs)}
    brute = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            h = bin(hs[d1] ^ hs[d2]).count("1")
            if h <= 6:
                brute[(d1, d2)] = h
    assert got == brute and len(got) > 100
    assert len(set(got.values())) >= 4


def test_perceptual_hash_negative_invariance():
    """The UNCOVERED side of the invariance matrix (VERDICT r13 #5 —
    negative pinning prevents overclaiming): transforms the docstrings
    say dHash-56 / afp56 do NOT survive must land OUTSIDE the
    Hamming-6 near-dup bound, and the one extra invariance theory
    guarantees (non-saturating uniform brightness shift preserves
    every adjacent-pixel comparison) must be EXACT. Borderline
    transforms (1-px crop, saturating brightness) are deliberately
    NOT pinned either way — measured 2-8 bits on the fixture family,
    i.e. sometimes within the bound — and the docstrings say so."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        AFP_FRAME_LEN,
        _synth_audio_samples,
        _synth_pixel_vals,
        afp56,
        dhash56,
    )
    from eventsgateway_spark.queries.ext_dedup import IMG_HAM_MAX

    ids = [3, 17, 42, 101, 257, 999]
    vals = _synth_pixel_vals(ids).astype(np.uint8)
    img_negatives = {
        "rot90": lambda im: np.rot90(im, 1, axes=(0, 1)).copy(),
        "crop_quarter": lambda im: im[4:, 4:, :],
        "fliplr": lambda im: np.fliplr(im).copy(),
    }
    for name, tf in img_negatives.items():
        for v in vals:
            img = np.repeat(v[:, :, None], 3, axis=2)
            ham = bin(dhash56(img) ^ dhash56(tf(img))).count("1")
            assert ham > IMG_HAM_MAX, (name, ham)
    # provable positive: a uniform brightness shift WITHOUT saturation
    # preserves every adjacent-pixel comparison, so the hash is exact.
    # Halve the fixture pixels first to guarantee headroom (the raw
    # family peaks at 255, where +8 would clip and the guarantee ends).
    for v in vals:
        base = np.repeat((v // 2)[:, :, None], 3, axis=2)
        shifted = (base.astype(np.int64) + 8).astype(np.uint8)
        assert dhash56(shifted) == dhash56(base)

    qs = _synth_audio_samples(ids)
    half = AFP_FRAME_LEN // 2
    for shift in (half, AFP_FRAME_LEN):
        for q in qs:
            moved = np.concatenate([np.zeros(shift, q.dtype), q[:-shift]])
            ham = bin(afp56(q / 32768.0) ^ afp56(moved / 32768.0)).count("1")
            assert ham > IMG_HAM_MAX, (shift, ham)


def test_perceptual_hash_null_payload_excluded(spark):
    """A NULL payload row is EXCLUDED (the zero-norm-vector
    convention), not a mid-batch TypeError — for both perceptual
    hashers."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _synth_audio_samples,
        _synth_pixel_vals,
        audio_fingerprint,
        encode_ppm,
        encode_wav,
        image_dhash,
    )

    v = _synth_pixel_vals([1])[0].astype(np.uint8)
    img_rows = [
        (0, "image/ppm", bytearray(encode_ppm(np.repeat(v[:, :, None], 3, 2)))),
        (1, "image/ppm", None),
    ]
    df = spark.createDataFrame(
        img_rows, "asset_id long, media_type string, payload binary"
    )
    assert [r["asset_id"] for r in image_dhash(df).collect()] == [0]

    q = _synth_audio_samples([1])[0]
    wav_rows = [
        (0, "audio/wav", bytearray(encode_wav(q / 32767.0))),
        (1, "audio/wav", None),
    ]
    df = spark.createDataFrame(
        wav_rows, "asset_id long, media_type string, payload binary"
    )
    assert [r["asset_id"] for r in audio_fingerprint(df).collect()] == [0]


def test_queries_leave_no_module_state(spark):
    """Queries keep no state between executions: after q79 (Bloom
    filter), q92 (media signatures) and q31 (MinHash family) run over
    sf0.1 and ``unpin_all()`` returns, no module global anywhere in
    ``eventsgateway_spark`` holds a DataFrame, a BloomFilter or a
    Broadcast, directly or inside a dict, list, tuple or set."""
    import os
    import sys

    from pyspark import Broadcast
    from pyspark.sql import DataFrame

    from eventsgateway_spark.operators.bloom import BloomFilter
    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import unpin_all

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 fixture absent")
    for name in (
        "q79_bloom_decontaminate",
        "q92_media_band_stats",
        "q31_minhash_lsh_pairs",
    ):
        QUERIES[name](spark, sf01).write.format("noop").mode("overwrite").save()
    unpin_all()

    def held(obj, depth=0):
        if isinstance(obj, (DataFrame, BloomFilter, Broadcast)):
            return True
        if depth > 3:
            return False
        if isinstance(obj, dict):
            obj = list(obj.keys()) + list(obj.values())
        if isinstance(obj, (list, tuple, set, frozenset)):
            return any(held(x, depth + 1) for x in obj)
        return False

    leaks = [
        f"{mod_name}.{attr}"
        for mod_name, mod in list(sys.modules.items())
        if mod_name == "eventsgateway_spark"
        or mod_name.startswith("eventsgateway_spark.")
        for attr, val in list(vars(mod).items())
        if held(val)
    ]
    assert not leaks, f"module state survives unpin_all: {leaks}"


def test_unpin_all_releases_checkpoint_pins(spark):
    """Checkpoint pins are released like persist pins: q63 (a
    checkpointed signature table) and then q60 (three checkpoint pins)
    run over sf0.1, and after each ``unpin_all()`` the SparkContext
    holds no persisted RDD the query made."""
    import os

    from eventsgateway_spark.queries import QUERIES
    from eventsgateway_spark.queries._util import unpin_all

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 fixture absent")
    jsc = spark.sparkContext._jsc
    unpin_all()
    before = set(jsc.getPersistentRDDs().keys())
    for name in ("q63_simhash_hamming_pairs", "q60_corpus_prep"):
        QUERIES[name](spark, sf01).write.format("noop").mode("overwrite").save()
        unpin_all()
        left = set(jsc.getPersistentRDDs().keys()) - before
        assert not left, f"{name} leaves persisted RDDs {sorted(left)}"


def test_bench_plans_are_plain_lineages(spark):
    """The plan the bench times over sf0.1 is the plan the oracle
    checks at fixture scale, up to pin() and spread(): q72 and q92,
    which pin nothing, read no cached relation (InMemoryRelation)
    and no checkpointed one (LogicalRDD)."""
    import os

    from eventsgateway_spark.queries import QUERIES

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 fixture absent")
    for name in ("q72_substring_dedup", "q92_media_band_stats"):
        plan = (
            QUERIES[name](spark, sf01)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "InMemoryRelation" not in plan, name
        assert "LogicalRDD" not in plan, name


def test_q38_bucket_gemm_matches_fold(spark):
    """r15 batch 4: q38's bench-regime candidate+verify runs as ONE
    groupBy(tbl, bucket) GEMM kernel. It must be row-identical to the
    fold shape it replaced (bucket equi-join candidates -> distinct ->
    two vec_id joins -> interpreted dot fold -> threshold), built here
    from the same shared frames. Also pins that the fixture-scale plan
    keeps the fold path (no pandas kernel in the driver-oracle plan)."""
    import os

    import eventsgateway_spark.queries.ext_similarity as es
    from eventsgateway_spark.functions.vectors import dot
    from eventsgateway_spark.queries import QUERIES

    # fixture scale: the oracle-declared fold plan, no Python kernel
    fixture_plan = (
        QUERIES["q38_embedding_near_dup"](spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" not in fixture_plan

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "embeddings.parquet")):
        pytest.skip("sf0.1 fixture absent")
    got = [
        tuple(r)
        for r in QUERIES["q38_embedding_near_dup"](spark, sf01).collect()
    ]
    # the pre-batch-4 fold comparator over the same shared frames
    bt = es.lsh_bucket_frame(spark, sf01, es._ND_PLANES, es._ND_TABLES)
    v = es.norm_frame(spark, sf01)
    x, y = bt.alias("x"), bt.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("id1"), F.col("y.vec_id").alias("id2"))
        .distinct()
    )
    a = v.select(
        F.col("vec_id").alias("id1"), F.col("e").alias("e1"),
        F.col("nrm").alias("n1"),
    )
    z = v.select(
        F.col("vec_id").alias("id2"), F.col("e").alias("e2"),
        F.col("nrm").alias("n2"),
    )
    exp = [
        tuple(r)
        for r in (
            cand.join(a, "id1")
            .join(z, "id2")
            .select(
                "id1",
                "id2",
                F.round(
                    dot(F.col("e1"), F.col("e2"))
                    / (F.col("n1") * F.col("n2")) * 1e6
                )
                .cast("bigint")
                .alias("cos_sim_u"),
            )
            .filter(F.col("cos_sim_u") >= 400000)
            .orderBy("id1", "id2")
        ).collect()
    ]
    assert got == exp and len(got) > 0


def test_media_batch_kernels_match_scalar_law():
    """r16 vectorization (guide §4.2): the batched dhash/afp kernels
    and the fast WAV chunk walk must reproduce the scalar law bit for
    bit — the q89/q90 oracles pin the end-to-end signatures, this pins
    each kernel in isolation over a sweep of shapes/paddings."""
    import numpy as np

    from eventsgateway_spark.operators.multimodal import (
        _afp56_batch,
        _afp_geom_batch,
        _dhash56_batch,
        _dhash_geom_batch,
        _synth_audio_samples,
        _synth_pixel_vals,
        _wav_mono_fast,
        afp56,
        afp_geom,
        dhash56,
        dhash_geom,
        encode_wav,
        parse_wav,
    )

    rng = np.random.default_rng(42)
    # images: fixture dims AND a non-square odd-dims RGBA-ish stack
    vals = _synth_pixel_vals(np.arange(64)).astype(np.uint8)
    imgs16 = np.repeat(vals[:, :, :, None], 3, axis=3)
    assert [dhash56(im) for im in imgs16] == _dhash56_batch(imgs16).tolist()
    odd = rng.integers(0, 256, size=(7, 13, 9, 4), dtype=np.uint8)
    assert [dhash56(im) for im in odd] == _dhash56_batch(odd).tolist()
    assert [
        dhash_geom(im, 9, 7) for im in odd
    ] == _dhash_geom_batch(odd, 9, 7).tolist()

    # audio: exact fixture lattice, short (padded), long (truncated)
    for monos in (
        _synth_audio_samples(np.arange(32)) / 32767.0,
        rng.uniform(-1, 1, size=(5, 100)),
        rng.uniform(-1, 1, size=(5, 700)),
    ):
        assert [afp56(m) for m in monos] == _afp56_batch(monos).tolist()
        assert [
            afp_geom(m, 9, 7) for m in monos
        ] == _afp_geom_batch(monos, 9, 7).tolist()

    # fast WAV walk == stdlib wave decode (channel 0), incl. stereo
    mono = rng.uniform(-1, 1, size=456)
    stereo = rng.uniform(-1, 1, size=(300, 2))
    for payload in (encode_wav(mono), encode_wav(stereo, rate=8000)):
        fast = _wav_mono_fast(payload)
        _, _, x, _ = parse_wav(payload)
        assert fast is not None
        np.testing.assert_array_equal(fast, x[:, 0])
    # malformed payloads must fall to the wave path (None), not crash
    assert _wav_mono_fast(b"RIFFxxxxWAVE") is None
    assert _wav_mono_fast(encode_wav(mono)[:30]) is None
    assert _wav_mono_fast(b"not a wav") is None
