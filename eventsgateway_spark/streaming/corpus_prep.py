"""Streaming corpus-prep pipeline — the serving form of q60's batch
composition, stage for stage: continuously ingest raw documents and
route every micro-batch through curation (PII redaction + quality
rules), WITHIN-BATCH exact dedup (q60 s1: keep the min doc_id per
canonical token bag), WITHIN-BATCH near-dup keep-first (q60 s2: drop
the larger doc of every Jaccard>=threshold pair), and near-dup
screening against the static corpus index, landing idempotent outputs:

    kept/         curated, novel, clean documents (training candidates)
    quarantine/   failed a quality rule (redacted; reject_reason tagged)
    dups/         duplicates with match evidence — matched id, jaccard,
                  and match_kind in {exact_batch, near_batch, corpus}
    contaminated/ share a 5-gram with the held-out eval corpus (only
                  when ``eval_grams`` is supplied — q53/q60 semantics)

All stages are the VERIFIED batch operators (operators/curation.curate,
streaming/near_dup.flag_near_dups) composed inside one ``foreachBatch``
— zero streaming state; the only large object is the durable corpus
index, which is never reshuffled per batch (same posture as
near_dup/ann_lookup). A checkpoint replay rewrites its own batch_id
partition in every sink (idempotent), so at-least-once upstream
delivery converges to exactly-once outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from eventsgateway_spark.operators.curation import curate
from eventsgateway_spark.streaming.near_dup import (
    CorpusIndex,
    _idempotent_append,
    build_corpus_index,
    flag_near_dups,
)


def eval_gram_set(eval_docs: DataFrame) -> DataFrame:
    """Distinct decontamination n-grams of a held-out eval corpus —
    benchmark-sized, so it broadcasts into every batch screen (q53's
    posture). Build once, pass to :func:`corpus_prep_stream`. Grams
    derive from the ONE shared definition (ext_text.decon_grams) so
    the screen and the set always cover the same universe."""
    return _eval_grams_frame(eval_docs).distinct().localCheckpoint()


def _eval_grams_frame(eval_docs: DataFrame) -> DataFrame:
    """UN-executed (doc-duplicated) gram frame behind both eval-side
    builders — toks projected before the lambda-heavy gram derivation
    (ext_text.decon_toks docstring; plan pinned by test_plans.py)."""
    from eventsgateway_spark.queries.ext_text import decon_grams, decon_toks

    toked = eval_docs.select(decon_toks("text").alias("toks"))
    return toked.select(F.explode(decon_grams(F.col("toks"))).alias("g"))


def eval_gram_bloom(eval_docs: DataFrame, fpp: float = 1e-4):
    """Bloom form of :func:`eval_gram_set` — the q79 posture for eval
    sets too large to broadcast as strings (operators/bloom.py): build
    once, pass as ``eval_bloom``. Zero false negatives, so a stream
    screened through the bitset never leaks a contaminated document;
    a ~fpp fraction of clean grams over-flags (safe direction)."""
    from eventsgateway_spark.operators.bloom import build_bloom

    return build_bloom(_eval_grams_frame(eval_docs), "g", fpp=fpp)


def _screen_exact_grams(kept: DataFrame) -> DataFrame:
    """(doc_id, g) pairs for the exact decontamination screen — toks
    PROJECTED before the lambda-heavy gram derivation so tokenization
    runs once per kept row (ext_text.decon_toks docstring; plan pinned
    by tests/test_plans.py::test_decon_family_tokenizes_once)."""
    from eventsgateway_spark.queries.ext_text import decon_grams, decon_toks

    kept_toks = kept.select("doc_id", decon_toks("text").alias("toks"))
    return kept_toks.select(
        "doc_id",
        F.explode(decon_grams(F.col("toks"))).alias("g"),
    )


def _screen_bloom_flag(kept: DataFrame, bloom_probe) -> DataFrame:
    """``kept`` plus an ``n_flagged`` Bloom-probe column — same
    projected-toks shape as :func:`_screen_exact_grams`. Returned
    UN-executed; the caller localCheckpoints it (two consumers)."""
    from eventsgateway_spark.queries.ext_text import decon_gram_hashes, decon_toks

    # same reserved-name discipline as operators/curation.curate(): an
    # input that already carries the working column would be silently
    # overwritten and then dropped from the output
    if "_decon_toks" in kept.columns:
        raise ValueError(
            "_screen_bloom_flag reserves column name '_decon_toks'; "
            "rename it on the input stream"
        )
    return (
        kept.withColumn("_decon_toks", decon_toks("text"))
        .withColumn(
            "n_flagged", bloom_probe(decon_gram_hashes(F.col("_decon_toks")))
        )
        .drop("_decon_toks")
    )


def corpus_prep_stream(
    doc_stream: DataFrame,
    corpus_docs: DataFrame | None,
    out_root: str,
    checkpoint: str,
    threshold: float = 0.5,
    trigger_once: bool = False,
    index: CorpusIndex | None = None,
    eval_grams: DataFrame | None = None,
    eval_bloom=None,
) -> StreamingQuery:
    """Run the curate → dedup-screen [→ decontaminate] pipeline on a
    document stream (columns ``doc_id``, ``text``); outputs land under
    ``{out_root}/{kept,quarantine,dups[,contaminated]}`` partitioned
    by batch_id.

    Decontamination takes exactly one of ``eval_grams`` (exact
    broadcast gram join — q53) or ``eval_bloom`` (broadcast Bloom
    bitset — q79's 100 TB posture; superset of the exact flag set)."""
    if eval_grams is not None and eval_bloom is not None:
        raise ValueError("pass eval_grams OR eval_bloom, not both")
    if index is None:
        if corpus_docs is None:
            raise ValueError("need corpus_docs or a prebuilt index")
        index = build_corpus_index(corpus_docs)
    idx = index
    # Build the probe UDF ONCE — it broadcasts the bitset; per-batch
    # construction would re-broadcast every micro-batch.
    bloom_probe = None
    if eval_bloom is not None:
        from eventsgateway_spark.operators.bloom import bloom_probe_count_udf

        bloom_probe = bloom_probe_count_udf(doc_stream.sparkSession, eval_bloom)

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        from eventsgateway_spark.queries._util import released_checkpoints

        # Every frame this batch localCheckpoints is released when the
        # scope exits — in a long-running stream, per-batch checkpoint
        # blocks otherwise accumulate in the BlockManagers until driver
        # GC (ADVICE r8; same release_frame discipline as the batch
        # query paths).
        with released_checkpoints() as _pin:
            _route_batch(batch_df, batch_id, _pin)

    def _route_batch(batch_df: DataFrame, batch_id: int, _pin) -> None:
        from eventsgateway_spark.functions.text import tokens
        from eventsgateway_spark.queries.ext_dedup import jaccard_pairs
        from eventsgateway_spark.streaming.near_dup import batch_shingles

        batch = _pin(batch_df)  # consumed by several sinks
        split = curate(batch)
        kept_all = _pin(split.kept)

        # WITHIN-BATCH exact dedup (q60's s1 stage, batch-scoped): keep
        # the minimum doc_id per canonical token bag; the other members
        # become dups with jaccard=1.0 evidence against the survivor.
        from eventsgateway_spark.queries.ext_dedup import with_keep_first

        canon = kept_all.withColumn(
            "k", F.array_join(F.sort_array(F.array_distinct(tokens("text"))), " ")
        )
        resolved = _pin(with_keep_first(canon, "k"))  # 2 consumers
        exact_evid = resolved.filter(F.col("doc_id") != F.col("keep_id")).select(
            "doc_id",
            F.col("keep_id").alias("corpus_id"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact_batch").alias("match_kind"),
        )
        survivors = resolved.filter(F.col("doc_id") == F.col("keep_id")).drop(
            "k", "keep_id"
        )

        # WITHIN-BATCH near-dup keep-first (q60's s2 stage): drop the
        # larger doc_id of every Jaccard>=threshold pair inside the
        # batch. Shingles are pruned with the INDEX's hot list so the
        # within-batch and vs-corpus Jaccards count the same universe.
        sh_b = batch_shingles(survivors).join(
            F.broadcast(idx.hot), "s", "left_anti"
        )
        within_evid = jaccard_pairs(sh_b, threshold).select(
            F.col("d2").alias("doc_id"),
            F.col("d1").alias("corpus_id"),
            "jaccard",
            F.lit("near_batch").alias("match_kind"),
        )

        # VS-CORPUS near-dup (subsumes exact corpus matches at j=1.0)
        corpus_evid = flag_near_dups(survivors, idx, threshold).select(
            "doc_id", "corpus_id", "jaccard", F.lit("corpus").alias("match_kind")
        )

        best = _pin(
            exact_evid.unionByName(within_evid)
            .unionByName(corpus_evid)
            .groupBy("doc_id")
            .agg(F.max(F.struct("jaccard", "corpus_id", "match_kind")).alias("m"))
        )
        dups = kept_all.join(best, "doc_id").select(
            "doc_id",
            "text",
            F.col("m.corpus_id").alias("matched_corpus_id"),
            F.col("m.jaccard").alias("jaccard"),
            F.col("m.match_kind").alias("match_kind"),
        )
        kept = kept_all.join(best.select("doc_id"), "doc_id", "left_anti")
        if eval_grams is not None:
            doc_grams = _screen_exact_grams(kept)
            dirty_ids = _pin(
                doc_grams.join(F.broadcast(eval_grams), "g")
                .select("doc_id")
                .distinct()
            )
            contaminated = kept.join(dirty_ids, "doc_id")
            kept = kept.join(dirty_ids, "doc_id", "left_anti")
            _idempotent_append(
                contaminated, batch_id, f"{out_root}/contaminated"
            )
        elif bloom_probe is not None:
            # checkpointed so the probe evaluates once, not once per
            # consuming split (same pattern as the other two-consumer
            # frames in this batch function)
            flagged = _pin(_screen_bloom_flag(kept, bloom_probe))
            contaminated = flagged.filter(F.col("n_flagged") > 0).drop(
                "n_flagged"
            )
            kept = flagged.filter(F.col("n_flagged") == 0).drop("n_flagged")
            _idempotent_append(
                contaminated, batch_id, f"{out_root}/contaminated"
            )
        _idempotent_append(kept, batch_id, f"{out_root}/kept")
        _idempotent_append(split.quarantine, batch_id, f"{out_root}/quarantine")
        _idempotent_append(dups, batch_id, f"{out_root}/dups")

    writer = doc_stream.writeStream.foreachBatch(_route).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
