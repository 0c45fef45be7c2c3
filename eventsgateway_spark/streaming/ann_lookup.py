"""Streaming ANN lookups against a static IVF index.

The vector sibling of streaming/near_dup.py: a stream of query
embeddings is answered per micro-batch from an IVF index (centroid
cells + cell assignments) built ONCE over the corpus — the
"embed-and-retrieve over a fixed corpus" serving shape. Each batch:
assign probe cells to the queries (broadcast centroids, map-only),
equi-join cell_id against the corpus assignment table, exact-cosine
score, keep top-k per query.

Executed via ``foreachBatch`` (top-k needs a window over candidates,
not expressible in append-mode streaming). Scale posture: the index is
the only large object and it is never reshuffled per batch — at real
scale store the assignment table bucketed by cell_id so the per-batch
candidate join co-locates. The query side carries NO forced broadcast
hint (an availableNow first batch can be a full backlog replay) — AQE
broadcasts a genuinely small batch at runtime. Zero streaming state.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from eventsgateway_spark.functions.vectors import (
    dot,
    dot_codes,
    sq8_codes,
)
from eventsgateway_spark.queries.ext_similarity import (
    ivf_assign_with,
    ivf_centroids,
    ivf_probe_with,
    norm_view,
)


# Serving-path nprobe default, pinned by the round-12 recall sweep
# (scaleprobe --ivf at 100k vectors / 262 derived cells, SCALE.md):
# near-dup-grade queries (the dedup/serving regime) hit 27-29/30
# recall@1 at nprobe=4 vs 12-22/30 at the oracle constant 2, for
# ~1.4× the candidate volume; nprobe=8 only adds 1-2 hits for 2×.
# The declared q43 keeps IVF_NPROBE=2 — that constant is baked into
# its DuckDB mirror and defines the operator; this one tunes the
# non-oracle serving APIs below.
ANN_SERVING_NPROBE = 4


def _cents_k(cents: DataFrame) -> int:
    """Cell count of a centroid row — the Arrow-routing hint for
    batch-against-loaded-index assignment (ivf_assign_with k=...).
    One tiny job over the one-row frame (milliseconds against a saved
    table; append/foreachBatch sites already run per-batch driver
    jobs). Without the hint a batch assigned against a derived-k
    (hundreds-of-cells) index would silently take the interpreted
    O(k·dim)-per-row JVM fold."""
    return int(cents.select(F.size("cents").alias("k")).first()["k"])


class IvfIndex(NamedTuple):
    """The two reusable sides of an IVF index."""

    #: (vec_id, e, nrm, cell_id, qs) corpus assignment — ``qs`` is the
    #: int8 code array of the unit vector (IVF-SQ8, round 11b): the
    #: quantized lookup path scores candidates with an exact integer
    #: dot over codes that are 4× smaller than the fp32 embedding
    #: (8× smaller than the promoted doubles), which at serving scale
    #: is the difference between a cell scan that is memory-bound and
    #: one that streams through cache.
    assign: DataFrame
    cents: DataFrame  # single row: array of (cid, ce) centroid structs
    #: Lloyd rounds the centroids were trained with (0 = deterministic
    #: first-k seeding — the oracle regime). Carried into the saved
    #: index's ``_meta`` so a reopened index reports how it was built.
    train_iters: int = 0


def build_ivf_index(
    corpus_emb: DataFrame, k: int | None = None, train_iters: int = 0
) -> IvfIndex:
    """In-session index (localCheckpoint pins); the durable form is
    :func:`save_ivf_index` + :func:`load_ivf_index`.

    ``k`` (cell count) defaults to the input-size-derived
    ``semd_cell_count`` (round 12 — a FIXED 8-cell index over a
    growing corpus degrades per-probe work linearly in corpus size;
    the derived count holds cell occupancy ~constant instead). At
    every fixture/oracle scale the derivation floors to ``IVF_K`` = 8,
    so existing indexes and tests are unchanged; above the fixture
    regime assignment auto-routes to the Arrow kernel
    (``_IVF_ARROW_K`` in queries/ext_similarity.py — identical
    assignments, parity-pinned). Recall-vs-nprobe at the derived cell
    count is measured in SCALE.md round-12 (``scaleprobe --ivf``).

    ``train_iters`` (round 13 — VERDICT r12 #2): Lloyd rounds run by
    ``operators.kmeans.train_centroids`` before assignment. Default 0
    keeps the deterministic first-k seeding (every oracle constant and
    saved-index generation unchanged); the round-12 sweep measured
    trained centroids nearly doubling nprobe=1 serving recall (12/30
    → 21/30 fresh-gaussian at 100k vectors, SCALE.md), so serving
    indexes should pass ``train_iters>=3``. Training is iters× one
    corpus scan + one (cell, dim) shuffle — see kmeans.py's scale
    posture."""
    from eventsgateway_spark.queries.ext_similarity import semd_cell_count

    if k is None:
        k = semd_cell_count(corpus_emb)
    if train_iters > 0:
        from eventsgateway_spark.operators.kmeans import train_centroids

        # train_centroids localCheckpoints its final cents frame
        cents, _ = train_centroids(corpus_emb, k=k, iters=train_iters)
    else:
        cents = ivf_centroids(corpus_emb, k).localCheckpoint()
    assign = (
        ivf_assign_with(norm_view(corpus_emb), cents, k=k)
        .withColumn("qs", sq8_codes(F.col("e"), F.col("nrm")))
        .localCheckpoint()
    )
    return IvfIndex(assign=assign, cents=cents, train_iters=train_iters)


def _table_gen(spark, table_name: str) -> int | None:
    """Generation stamp of a saved index table (one-row/one-file read —
    never a corpus scan: overwrites replace every file, so any row
    carries the table's generation). None for a pre-gen (round-10 or
    earlier) table without the column, or an empty table."""
    df = spark.table(table_name)
    if "gen" not in df.columns:
        return None
    row = df.select("gen").limit(1).collect()
    return int(row[0]["gen"]) if row else None


def _check_same_generation(spark, table_prefix: str) -> int:
    """Refuse a mixed-generation IVF index (ADVICE r10): a RE-save that
    crashes between the ``_centroids`` and ``_assign`` overwrites
    leaves all three tables present — the all-tables-present guard
    calls that complete, and without this check ``load`` would silently
    serve new centroids against old assignments. Every save stamps the
    same ``gen`` into all three tables, so equality across whichever
    tables carry the stamp proves one generation; pre-gen legacy tables
    (no column) are skipped — a legacy index cannot be verified, only
    re-saved into the stamped protocol. Returns the index generation
    (0 for fully-legacy)."""
    meta = spark.table(f"{table_prefix}_meta")
    gens = {
        "_meta": (
            int(meta.collect()[0]["gen"]) if "gen" in meta.columns else None
        ),
        "_centroids": _table_gen(spark, f"{table_prefix}_centroids"),
        "_assign": _table_gen(spark, f"{table_prefix}_assign"),
    }
    known = {k: v for k, v in gens.items() if v is not None}
    if len(set(known.values())) > 1:
        detail = ", ".join(f"{k}=gen {v}" for k, v in sorted(known.items()))
        raise ValueError(
            f"mixed-generation IVF index at {table_prefix!r} ({detail}) — "
            "a re-save crashed mid-way; re-run save_ivf_index to "
            "completion before loading or appending"
        )
    return next(iter(known.values()), 0)


def save_ivf_index(
    corpus_emb: DataFrame | None,
    table_prefix: str,
    buckets: int = 32,
    index: IvfIndex | None = None,
    train_iters: int = 0,
) -> None:
    """Materialize the IVF index as catalog tables — the 100 TB
    posture: the assignment table is BUCKETED on ``cell_id`` (the
    candidate-join key), the centroid row is a one-row table; neither
    is ever pinned in executor memory or reshuffled per batch, and the
    index survives session restarts (serving shape). Pass a prebuilt
    ``index`` (e.g. with `operators.kmeans.train_centroids` centers)
    to persist trained centers instead of the first-K seeding.

    Every save stamps a monotonically-increasing ``gen`` into all
    three tables (``_meta`` plus a constant column in the data
    tables); :func:`load_ivf_index` / :func:`append_ivf_index` verify
    the stamps agree, so a re-save that crashes between the
    ``_centroids`` and ``_assign`` overwrites is DETECTED instead of
    silently serving mixed generations (ADVICE r10)."""
    if index is None and corpus_emb is None:
        raise ValueError("need corpus_emb or a prebuilt index")
    spark = (index.assign if index is not None else corpus_emb).sparkSession
    # refusal guards FIRST — they need only the catalog, and a refused
    # re-save must not pay for (and then orphan) a full inline index
    # build over the corpus. An in-place re-save with a DIFFERENT
    # bucket count is refused: a crash mid-save would pair one
    # generation's layout with the other generation's parameters (same
    # contract as save_corpus_index, incl. the pre-_meta branch).
    complete = spark.catalog.tableExists(
        f"{table_prefix}_assign"
    ) and spark.catalog.tableExists(f"{table_prefix}_centroids")
    if spark.catalog.tableExists(f"{table_prefix}_meta") and not complete:
        # phantom/half-built FIRST save (meta written, but not BOTH
        # data tables — a crash can land between the _centroids and
        # _assign writes): its parameters pin nothing loadable; clear
        # every remnant instead of refusing a rebuild of an index that
        # never completed (ADVICE r8 + r9; mirrors save_corpus_index).
        # A crashed RE-save leaves all three tables present (possibly
        # mixed generations) and is NOT cleared — re-run the save to
        # completion, as save_corpus_index documents.
        for suffix in ("_meta", "_assign", "_centroids", "_occ"):
            spark.sql(f"DROP TABLE IF EXISTS {table_prefix}{suffix}")
    if spark.catalog.tableExists(f"{table_prefix}_meta"):
        old = int(spark.table(f"{table_prefix}_meta").collect()[0]["buckets"])
        if old != int(buckets):
            raise ValueError(
                f"{table_prefix} already holds an index bucketed {old}; "
                f"re-saving in place with buckets={buckets} is refused — "
                "save to a fresh prefix and swap names."
            )
    elif spark.catalog.tableExists(f"{table_prefix}_assign"):
        from eventsgateway_spark.queries._util import table_buckets

        old = table_buckets(spark, f"{table_prefix}_assign")
        if old != int(buckets):
            raise ValueError(
                f"{table_prefix} holds a pre-_meta index bucketed {old}; "
                f"re-saving in place with buckets={buckets} is refused — "
                "save to a fresh prefix and swap names."
            )
    # next generation: previous meta gen + 1 (legacy meta without the
    # column counts as gen 0). Deterministic — no wall clock.
    gen = 1
    if spark.catalog.tableExists(f"{table_prefix}_meta"):
        m = spark.table(f"{table_prefix}_meta")
        gen = (int(m.collect()[0]["gen"]) if "gen" in m.columns else 0) + 1
    built_here = index is None
    idx = (
        index
        if index is not None
        else build_ivf_index(corpus_emb, train_iters=train_iters)
    )
    # _meta records how the centroids were built (0 = first-k seeded);
    # a caller-passed index carries its own count in the named tuple
    spark.createDataFrame(
        [(int(buckets), int(gen), int(idx.train_iters))],
        "buckets int, gen int, train_iters int",
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_meta")
    # _centroids (one tiny row) lands BEFORE the corpus-sized _assign:
    # _assign is the commit point — a first save that crashes anywhere
    # leaves at most _meta+_centroids, which the half-built guard above
    # clears on the retry; an index with _assign present is complete
    # (and its gen stamp proves WHICH save completed it).
    idx.cents.withColumn("gen", F.lit(gen)).write.mode("overwrite").saveAsTable(
        f"{table_prefix}_centroids"
    )
    assign_out = idx.assign
    if "qs" not in assign_out.columns:
        # caller-passed index built by older code: derive the SQ8
        # codes at save time so every SAVED index serves quantized
        assign_out = assign_out.withColumn(
            "qs", sq8_codes(F.col("e"), F.col("nrm"))
        )
    (
        assign_out.withColumn("gen", F.lit(gen))
        .write.bucketBy(buckets, "cell_id")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_assign")
    )
    # cell-occupancy summary last, read back from the committed table
    # (save is already O(corpus)); crash before this write leaves a
    # stale-gen _occ that the next append fully rebuilds. Protocol:
    # streaming/occ.py (the one copy shared with the media index).
    from eventsgateway_spark.streaming.occ import write_occ_snapshot

    write_occ_snapshot(
        spark, table_prefix, spark.table(f"{table_prefix}_assign"),
        ["cell_id"], gen,
    )
    if built_here:
        # reclaim the inline build's checkpoint blocks now — the saved
        # tables supersede them (caller-passed indexes stay pinned:
        # the caller may keep using the frames). release_frame, not
        # df.unpersist — the latter is a no-op for localCheckpoints.
        from eventsgateway_spark.queries._util import release_frame

        for frame in (idx.assign, idx.cents):
            release_frame(frame)


def load_ivf_index(spark, table_prefix: str) -> IvfIndex:
    """Reopen a saved index after verifying all tables carry one
    generation (see :func:`_check_same_generation`); the stamp column
    is dropped so the served frames keep the build-time shape.
    ``train_iters`` is read back from ``_meta`` (0 for an index saved
    before round 13 recorded it)."""
    _check_same_generation(spark, table_prefix)
    meta = spark.table(f"{table_prefix}_meta")
    ti = (
        int(meta.collect()[0]["train_iters"])
        if "train_iters" in meta.columns
        else 0
    )
    return IvfIndex(
        assign=spark.table(f"{table_prefix}_assign").drop("gen"),
        cents=spark.table(f"{table_prefix}_centroids").drop("gen"),
        train_iters=ti,
    )


def append_ivf_index(spark, table_prefix: str, new_emb: DataFrame) -> dict:
    """Admit new vectors into a SAVED IVF index incrementally — the
    vector sibling of ``near_dup.append_corpus_index``, run on the
    compaction cadence so lookups/semantic-dedup start seeing newly
    accepted corpus vectors without retraining or rebuilding.

    Semantics vs a rebuild: the CENTROIDS ARE FROZEN. New vectors are
    assigned to the existing cells (broadcast centroids, map-only) and
    appended under the SAME ``cell_id`` bucket spec, so the per-batch
    candidate join keeps its co-location and recall within a probed
    cell is exact, same as at build time. What degrades under
    distribution drift is cell BALANCE (a runaway cell makes its
    probes expensive), so each append reports ``cell_skew`` — max/mean
    cell occupancy — as the retrain/rebuild gate; the centroids
    themselves are retrained with ``operators.kmeans`` and re-saved
    when it grows past tolerance. Since round 14 the occupancy lives
    in an incrementally-maintained ``{prefix}_occ`` summary (cell_id,
    n, gen): each append recounts ONLY the cells its batch touched via
    a bucket-pruned scan, so the metric costs O(batch + touched-cell
    rows), never O(corpus); a missing/stale-generation summary (legacy
    index, crash mid-protocol) triggers one full rebuild, and the
    touched set comes from the batch BEFORE the idempotence filter so
    replays self-heal. Health metric only — ``_assign`` is never
    derived from it.

    Idempotent per vector: ``new_emb`` is deduplicated by vec_id within
    the call (at-least-once upstream can deliver a vector twice in one
    compaction batch), then vec_ids already assigned are dropped — a
    broadcast-semi scan of the corpus table (bounded output) plus a
    broadcast anti-join, never a corpus-side shuffle (round 14; the
    previous direct left_anti sort-merged every stored vec_id per
    batch). Zero-norm vectors are silently skipped (norm_view's
    contract) and do not count toward ``n_new_vecs``. The index
    mutation is ONE table
    append, so a replay after a crash either sees the ids (no-op) or
    re-appends the whole batch — never a partial duplicate. The bucket
    count comes from the index's ``_meta`` table, pinned at save time.

    ``new_emb`` has the raw embeddings-table shape
    ``(vec_id, embedding)``."""
    missing = [
        s
        for s in ("_assign", "_centroids")
        if not spark.catalog.tableExists(f"{table_prefix}{s}")
    ]
    if spark.catalog.tableExists(f"{table_prefix}_meta") and missing:
        # phantom/half-built _meta (crashed FIRST save — possibly
        # between the _centroids and _assign writes) — name the real
        # state instead of a raw table-not-found (ADVICE r8 + r9)
        raise ValueError(
            f"no complete IVF index at {table_prefix!r} (a phantom/"
            f"half-built first save left {'/'.join(missing)} missing) "
            "— run save_ivf_index to completion first"
        )
    if not spark.catalog.tableExists(f"{table_prefix}_meta"):
        # index saved before _meta existed: backfill once from the
        # saved assignment table's OWN catalog bucket spec — a
        # pre-upgrade index saved with a non-default count must not
        # get appends in a mismatched layout. A nonexistent prefix
        # raises BEFORE anything is written (a phantom _meta would
        # make the save guard refuse the first legitimate save).
        from eventsgateway_spark.queries._util import table_buckets

        if missing:
            raise ValueError(
                f"no IVF index at {table_prefix!r} — save_ivf_index first"
            )
        bk = table_buckets(spark, f"{table_prefix}_assign")
        spark.createDataFrame([(int(bk),)], "buckets int").write.mode(
            "overwrite"
        ).saveAsTable(f"{table_prefix}_meta")
    buckets = int(
        spark.table(f"{table_prefix}_meta").collect()[0]["buckets"]
    )
    # refuse a mixed-generation index before mutating it (ADVICE r10) —
    # appending fresh assignments under new centroids into an OLD
    # assignment table would bake the inconsistency in
    cur_gen = _check_same_generation(spark, table_prefix)
    from eventsgateway_spark.queries._util import released_checkpoints

    assign_cols = spark.table(f"{table_prefix}_assign").columns
    with released_checkpoints() as ckpt:
        cents = spark.table(f"{table_prefix}_centroids")
        # assign the WHOLE deduped batch BEFORE the idempotence filter
        # (zero-norm vectors are dropped here — norm_view's contract):
        # the batch's cell set feeds the occupancy refresh below even
        # on a pure replay, which is what heals a crash between the
        # _assign append and the _occ overwrite.
        batch = ckpt(
            ivf_assign_with(
                norm_view(new_emb.dropDuplicates(["vec_id"])),
                cents,
                k=_cents_k(cents),
            )
        )
        # round 14: the idempotence filter is a semi scan of the corpus
        # table (output bounded by the batch) followed by an anti-join.
        # NO forced broadcast (the media_lookup / verify_pairs
        # contract): AQE broadcasts the batch side while it is
        # genuinely small — the compaction-cadence norm, turning the
        # previous corpus-side sort-merge exchange into a map-side
        # semi — and a backfill-scale batch degrades to a shuffle join
        # instead of dying on the broadcast size limit.
        present = ckpt(
            spark.table(f"{table_prefix}_assign")
            .select("vec_id")
            .join(batch.select("vec_id"), "vec_id", "semi")
        )
        fresh = batch.join(present, "vec_id", "left_anti")
        n_new = fresh.count()
        if n_new:
            assigned = fresh
            if "qs" in assign_cols:
                # appended rows carry SQ8 codes iff the saved table
                # does (a legacy pre-SQ8 table keeps its shape — a
                # schema-widening append would fail/poison it)
                assigned = assigned.withColumn(
                    "qs", sq8_codes(F.col("e"), F.col("nrm"))
                )
            if "gen" in assign_cols:
                # appended rows extend the CURRENT generation (a
                # fully-legacy pre-gen table keeps its shape)
                assigned = assigned.withColumn("gen", F.lit(cur_gen))
            (
                assigned.write.bucketBy(buckets, "cell_id")
                .mode("append")
                .saveAsTable(f"{table_prefix}_assign")
            )
        # --- cell-occupancy summary refresh ({prefix}_occ: cell_id,
        # n, gen): only the batch's cells are recounted (bucket-pruned
        # scan of the cell_id-bucketed table), so the skew health
        # metric costs O(batch + touched-cell rows) instead of the
        # O(corpus) groupBy it replaced (VERDICT r13 #2). Protocol:
        # streaming/occ.py (the one copy shared with the media index).
        from eventsgateway_spark.streaming.occ import refresh_occ

        skew = refresh_occ(
            spark, table_prefix, spark.table(f"{table_prefix}_assign"),
            ["cell_id"], "cell_id", batch.select("cell_id"), cur_gen, ckpt,
        )
    return {"n_new_vecs": n_new, "cell_skew": skew}


def ann_lookup_batch(
    queries: DataFrame, assign: DataFrame, cents: DataFrame,
    nprobe: int = ANN_SERVING_NPROBE, topk: int = 3,
    quantized: bool = False, k: int | None = None,
) -> DataFrame:
    """(qid, rn, neighbor_id, cos_sim) — top-k corpus neighbors for a
    (vec_id, embedding) query frame, searching only the probed cells.
    No forced broadcast of the (micro-batch-derived) probe side — an
    availableNow backlog replay can be arbitrarily large; AQE
    broadcasts it while it is genuinely small (ADVICE r5).

    ``quantized=True`` is the IVF-SQ8 serving path: candidates are
    ranked by the exact integer dot of the index's stored int8 codes
    against the query's codes (output column ``score_i8`` instead of
    ``cos_sim``) — the per-candidate payload shrinks 4-8× and the
    kernel is an integer multiply-add, at the cost of quantization
    error in the RANKING only (top-1 agreement vs the exact path is
    pinned by tests/test_streaming.py). Requires an index whose assign
    frame carries the ``qs`` column (every index built or saved by
    this version does; a legacy table without it is refused loudly —
    re-save to upgrade)."""
    if k is None:
        k = _cents_k(cents)
    probes = ivf_probe_with(norm_view(queries), cents, nprobe, k=k)
    if quantized:
        if "qs" not in assign.columns:
            raise ValueError(
                "quantized lookup needs SQ8 codes in the assign table "
                "(column 'qs') — this index predates IVF-SQ8; re-run "
                "save_ivf_index to upgrade it"
            )
        qprobes = probes.select(
            "qid", "cell_id", sq8_codes(F.col("qe"), F.col("qn")).alias("qqs")
        )
        scored = assign.join(qprobes, "cell_id").select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            dot_codes(F.col("qqs"), F.col("qs")).alias("score_i8"),
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("score_i8"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= topk)
            .select("qid", "rn", "neighbor_id", "score_i8")
        )
    scored = (
        assign.join(probes, "cell_id")
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qe"), F.col("e"))
                / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("qid", "rn", "neighbor_id", "cos_sim")
    )


def ann_label_vote_batch(
    queries: DataFrame,
    assign: DataFrame,
    cents: DataFrame,
    labels: DataFrame,
    nprobe: int = ANN_SERVING_NPROBE,
    topk: int = 3,
    k: int | None = None,
) -> DataFrame:
    """(qid, knn_label, n_nbrs, n_agree) — majority label among the
    top-``topk`` ANN neighbors of each query vector: the SERVING twin
    of q94_knn_label_consistency (queries/ext_similarity.py), voting
    over the IVF-probed candidate set instead of the exact within-cell
    universe, with the SAME deterministic vote law (count desc,
    smallest label tie-break; q94's -1/0 sentinels when no probed cell
    yields a neighbor). Use it to screen incoming labeled examples
    against the indexed corpus (mislabel quarantine at admission time)
    the way media_dup screens perceptual dups; neighbor recall — and
    therefore vote quality — follows the nprobe/recall table in
    SCALE.md (scaleprobe --ivf).

    ``labels`` is a (vec_id, label) frame for the INDEXED corpus; it
    joins onto the reduced top-k frame (topk rows per query), never
    onto the candidate join's input — q94's scale discipline.

    A query whose OWN vec_id is in the index (checkpoint replay after
    the compaction cadence admitted the batch; corpus self-audit)
    never votes for itself: q94's ``a.vec_id <> b.vec_id`` law,
    enforced here by retrieving topk+1 and dropping the self row
    before re-ranking (round-14 review — without it, a replayed
    mislabel's own wrong label joins its vote and can un-quarantine
    it)."""
    raw = ann_lookup_batch(
        queries, assign, cents, nprobe=nprobe, topk=topk + 1, k=k
    ).filter(F.col("neighbor_id") != F.col("qid"))
    w_self = Window.partitionBy("qid").orderBy("rn")
    top = (
        raw.withColumn("rn2", F.row_number().over(w_self))
        .filter(F.col("rn2") <= topk)
        .select("qid", "neighbor_id")
    )
    votes = (
        top.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("qid", "n_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), F.asc("n_label"))
    maj = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.col("n_label").alias("knn_label"),
            F.col("cnt").alias("n_agree"),
        )
    )
    # n_nbrs counts the top-k frame directly — the two consumers share
    # one canonicalized subtree (ReusedExchange), and the q94 sf0.1
    # A/B measured this faster than a votes-derived count. n_nbrs is
    # therefore ALL retrieved neighbors; ones missing from ``labels``
    # still count toward it but not toward n_agree.
    nn = top.groupBy("qid").agg(F.count(F.lit(1)).alias("n_nbrs"))
    return (
        queries.select(F.col("vec_id").alias("qid"))
        .join(maj, "qid", "left")
        .join(nn, "qid", "left")
        .select(
            "qid",
            F.coalesce("knn_label", F.lit(-1)).cast("bigint").alias("knn_label"),
            F.coalesce("n_nbrs", F.lit(0)).cast("bigint").alias("n_nbrs"),
            F.coalesce("n_agree", F.lit(0)).cast("bigint").alias("n_agree"),
        )
    )


def ann_lookup_stream(
    query_stream: DataFrame,
    corpus_emb: DataFrame | None,
    out_path: str,
    checkpoint: str,
    nprobe: int = ANN_SERVING_NPROBE,
    topk: int = 3,
    trigger_once: bool = False,
    index: IvfIndex | None = None,
    quantized: bool = False,
) -> StreamingQuery:
    """Answer a stream of (vec_id, embedding) queries from the corpus
    index; results append to ``out_path``. Pass a prebuilt (e.g.
    table-backed) ``index`` to skip the inline build. ``quantized``
    selects the IVF-SQ8 integer-dot serving path (see
    :func:`ann_lookup_batch`)."""
    if index is None:
        if corpus_emb is None:
            raise ValueError("need corpus_emb or a prebuilt index")
        index = build_ivf_index(corpus_emb)
    assign, cents = index.assign, index.cents
    # cell count hoisted ONCE at stream setup (round-12 review finding:
    # cents is constant for the stream's lifetime — resolving it inside
    # foreachBatch would pay a driver job per micro-batch forever)
    k = _cents_k(cents)

    def _answer(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id partition + dynamic overwrite: a checkpoint replay
        # rewrites its own partition instead of appending duplicates
        (
            ann_lookup_batch(batch_df, assign, cents, nprobe, topk, quantized,
                             k=k)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = query_stream.writeStream.foreachBatch(_answer).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_label_screen(
    stream_examples: DataFrame,
    index: IvfIndex,
    labels: DataFrame,
    clean_path: str,
    suspect_path: str,
    checkpoint: str,
    quorum: int = 2,
    nprobe: int = ANN_SERVING_NPROBE,
    topk: int = 3,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Route a stream of LABELED examples (vec_id, embedding, label)
    against an indexed reference corpus: examples whose top-``topk``
    ANN neighbors vote a DIFFERENT label with at least ``quorum``
    agreeing neighbors go to ``suspect_path`` (with the voted label +
    agreement count as evidence), everything else to ``clean_path`` —
    the label-quality sibling of :func:`stream_media_dedup`'s
    perceptual router, built on :func:`ann_label_vote_batch` (q94's
    vote law through the serving path).

    Examples the index cannot judge — zero-norm vectors (norm_view's
    contract) or queries whose probed cells hold no neighbors — have
    n_nbrs = 0 and route CLEAN: absence of evidence is not a label
    defect (the quarantine-vs-novel asymmetry is deliberate — a
    mislabel suspect needs positive disagreement). Both sinks are
    batch_id dynamic-overwrite partitions, so a checkpoint replay
    rewrites its own partition (the near_dup sink contract)."""
    from eventsgateway_spark.streaming.near_dup import _idempotent_append

    assign, cents = index.assign, index.cents
    k = _cents_k(cents)  # hoisted once — constant for the stream

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        from eventsgateway_spark.queries._util import released_checkpoints

        with released_checkpoints() as ckpt:
            # dedupe by vec_id (the admission-path norm): an
            # at-least-once duplicate in one micro-batch would
            # otherwise double every candidate row and flip the
            # majority vote (round-14 review)
            batch = ckpt(batch_df.dropDuplicates(["vec_id"]))
            vote = ckpt(
                ann_label_vote_batch(
                    batch.select("vec_id", "embedding"), assign, cents,
                    labels, nprobe=nprobe, topk=topk, k=k,
                ).withColumnRenamed("qid", "vec_id")
            )
            joined = batch.join(vote, "vec_id", "left")
            suspect = joined.filter(
                (F.col("n_nbrs") > 0)
                & (F.col("knn_label") != F.col("label"))
                & (F.col("n_agree") >= quorum)
            ).select(
                "vec_id", "label", "knn_label", "n_agree", "n_nbrs"
            )
            clean = joined.join(
                suspect.select("vec_id"), "vec_id", "left_anti"
            ).select("vec_id", "embedding", "label")
            _idempotent_append(suspect, batch_id, suspect_path)
            _idempotent_append(clean, batch_id, clean_path)

    writer = stream_examples.writeStream.foreachBatch(_route).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming semantic dedup (the q70 SemDeDup serving shape)
# ---------------------------------------------------------------------------


def semantic_dedup_batch(
    batch: DataFrame, assign: DataFrame, cents: DataFrame,
    tau_u: int | None = None, k: int | None = None,
) -> DataFrame:
    """(vec_id, cell_id, dropped, max_sim_u) — mark each incoming
    vector a semantic duplicate iff some CORPUS vector in its IVF cell
    has cosine >= tau (micro-unit scaled; default = q70's 0.40 bound).
    Same physical shape as the batch q70: map-only cell assignment
    (broadcast centroids), then an equi-join on cell_id — no forced
    broadcast of the batch side (ADVICE r5: under
    ``trigger(availableNow=True)`` the first micro-batch can be an
    arbitrarily large backlog replay, the exact hazard class the
    round-5 batch-side joins dropped their hints for). AQE still
    broadcasts a genuinely small micro-batch; the corpus index is
    never reshuffled either way."""
    from eventsgateway_spark.queries.ext_similarity import SEMD_TAU_U

    tau = SEMD_TAU_U if tau_u is None else tau_u
    if k is None:
        k = _cents_k(cents)
    q = ivf_assign_with(norm_view(batch), cents, k=k).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        "cell_id",
    )
    best = (
        assign.join(q, "cell_id")
        .select(
            "qid",
            F.round(
                dot(F.col("qe"), F.col("e"))
                / (F.col("qn") * F.col("nrm"))
                * 1e6
            )
            .cast("bigint")
            .alias("cos_u"),
        )
        .groupBy("qid")
        .agg(F.max("cos_u").alias("max_sim_u"))
    )
    sentinel = F.lit(-2_000_000).cast("bigint")
    return (
        q.select(F.col("qid").alias("vec_id"), "cell_id")
        .join(best.withColumnRenamed("qid", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.when(F.coalesce("max_sim_u", sentinel) >= tau, 1)
            .otherwise(0)
            .alias("dropped"),
            F.coalesce("max_sim_u", sentinel).alias("max_sim_u"),
        )
    )


def semantic_dedup_stream(
    vec_stream: DataFrame,
    corpus_emb: DataFrame | None,
    out_path: str,
    checkpoint: str,
    tau_u: int | None = None,
    trigger_once: bool = False,
    index: IvfIndex | None = None,
) -> StreamingQuery:
    """Streaming SemDeDup: decide per incoming (vec_id, embedding)
    whether the static corpus already contains a semantic duplicate;
    decisions append to ``out_path``. Zero streaming state — the index
    carries everything, exactly like :func:`ann_lookup_stream`."""
    if index is None:
        if corpus_emb is None:
            raise ValueError("need corpus_emb or a prebuilt index")
        index = build_ivf_index(corpus_emb)
    assign, cents = index.assign, index.cents
    # cell count hoisted ONCE at stream setup (ann_lookup_stream's
    # rule — round-12 review finding caught this site passing k=None
    # and paying a driver job per micro-batch)
    k = _cents_k(cents)

    def _decide(batch_df: DataFrame, batch_id: int) -> None:
        (
            semantic_dedup_batch(batch_df, assign, cents, tau_u, k=k)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = vec_stream.writeStream.foreachBatch(_decide).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
