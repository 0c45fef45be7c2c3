"""[EXT] The end-to-end LLM corpus-prep pipeline as ONE declared query.

q60 composes the individually-verified operators into the pipeline a
training-data team actually runs — proof the operator set closes over
the real use-case, in a single Catalyst plan (one driver program, no
intermediate materialization the optimizer can't see through):

    quality filter (q27 class)      → drop short docs
    exact dedup (q29)               → keep min doc_id per token-bag key
    near-dup drop (q30)             → drop the larger doc of each
                                      Jaccard≥0.5 pair (keep-first)
    decontamination (q53)           → drop eval-corpus docs + any doc
                                      sharing a 5-gram with them
    context chunking (q51)          → overlapping token windows
    hash split (q47)                → train/val/test by content hash

Every stage is deterministic, so the WHOLE pipeline hash-matches the
DuckDB oracle. Scale posture: the stages chain through equi-joins and
hash-aggregates only — each inherits the posture documented for its
standalone operator (SCALE.md); nothing in the composition adds a
shuffle the standalone operators didn't already have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventsgateway_spark.functions.text import CHUNK_STRIDE, CHUNK_TOKENS
from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import pin, table
from eventsgateway_spark.queries.ext_dedup import (
    MAX_SHINGLE_DF,
    doc_shingles,
    jaccard_pairs,
)
from eventsgateway_spark.queries.ext_sampling import TRAIN_PCT, VAL_PCT
from eventsgateway_spark.queries.ext_sampling import _DUCK_HASHPCT, split_col
from eventsgateway_spark.queries.ext_text import DECON_N, EVAL_SOURCE, chunk_documents

MIN_TOKENS = 10  # quality floor

from eventsgateway_spark.queries._util import DUCK_TOKS as _TOKS
_TRIGRAM = "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
_FIVEGRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(DECON_N))


@query(
    "q60_corpus_prep",
    oracle=f"""
    WITH base AS (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents),
    q AS (SELECT * FROM base WHERE len(toks) >= {MIN_TOKENS}),
    canon AS (SELECT *, array_to_string(list_sort(list_distinct(toks)), ' ') AS k
              FROM q),
    keep1 AS (SELECT k, MIN(doc_id) AS keep_id FROM canon GROUP BY 1),
    s1 AS (SELECT c.doc_id, c.source, c.toks FROM canon c
           JOIN keep1 ON c.k = keep1.k AND c.doc_id = keep1.keep_id),
    sh0 AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(toks) - 1), i -> {_TRIGRAM}))) AS s
            FROM s1),
    sh AS (SELECT doc_id, s FROM sh0
           WHERE s IN (SELECT s FROM sh0 GROUP BY s
                       HAVING COUNT(*) <= {MAX_SHINGLE_DF})),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    losers AS (SELECT DISTINCT d2 AS doc_id
               FROM pairs JOIN sizes x ON pairs.d1 = x.doc_id
                          JOIN sizes y ON pairs.d2 = y.doc_id
               WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5),
    s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    evg AS (SELECT DISTINCT g FROM (
               SELECT unnest(list_distinct(list_transform(
                   range(1, len(toks) - {DECON_N - 2}), i -> {_FIVEGRAM}))) AS g
               FROM base WHERE source = '{EVAL_SOURCE}')),
    cont AS (SELECT DISTINCT doc_id FROM (
               SELECT doc_id,
                      unnest(list_distinct(list_transform(
                          range(1, len(toks) - {DECON_N - 2}), i -> {_FIVEGRAM}))) AS g
               FROM s2 WHERE source <> '{EVAL_SOURCE}') t
             JOIN evg USING (g)),
    s3 AS (SELECT * FROM s2
           WHERE source <> '{EVAL_SOURCE}'
             AND doc_id NOT IN (SELECT doc_id FROM cont)),
    starts AS (SELECT doc_id, toks,
                      unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
               FROM s3 WHERE len(toks) > 0),
    chunks AS (SELECT doc_id,
                      CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
                      list_slice(toks, start + 1, start + {CHUNK_TOKENS}) AS chunk
               FROM starts)
    SELECT doc_id, chunk_id,
           CASE WHEN {_DUCK_HASHPCT} < {TRAIN_PCT} THEN 'train'
                WHEN {_DUCK_HASHPCT} < {VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           len(chunk) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def q60_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring — the composed pipeline, one Catalyst plan.

    Tokenization happens EXACTLY ONCE (round-6 change): ``toks`` is
    computed at the scan and threaded through every stage — the
    shingle builder, the 5-gram decontaminator, and the chunker all
    detect the pre-tokenized column and skip their own split. At
    100 TB tokenization is a material fraction of pipeline CPU; the
    previous shape paid it 4x (once per stage)."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    with_toks = doc_tokens_frame(spark, sf_dir).select("doc_id", "source", "toks")

    # r15: keep-first's join-back evaluates the
    # tokenized frame on BOTH join sides, plus the eval-gram branch —
    # pin it so the tokenizer runs once per corpus, not three times
    # (identity at fixture scale, so the oracle-checked plan is unchanged).
    # Measured with the shingle pin below: q60 floor 8.6 → 5.3 s at
    # sf0.1 (interleaved A/B, round-15). Mode for ALL FOUR q60 pins
    # re-measured round-15 after pin(persist) went lazy: interleaved
    # env-forced A/B reads checkpoint 4.00 / persist 5.62 / off 4.80 s
    # (q60 min-of-3) — the persist write of wide array<string> toks
    # columns into the block store costs more than the checkpoint's
    # extra job, so checkpoint everywhere.
    with_toks = pin(with_toks, mode="checkpoint")

    # quality floor
    q = with_toks.filter(F.size("toks") >= MIN_TOKENS)

    # exact dedup: keep the minimum doc_id per canonical token-bag key
    canon = q.withColumn(
        "k", F.array_join(F.sort_array(F.array_distinct("toks")), " ")
    )
    # keep-first via the broadcast join-back primitive — see
    # ext_dedup.with_keep_first. pin: s1 fans out to the shingle path
    # AND the survivor join — the exact-dedup lineage would otherwise
    # re-execute per consumer (identity at fixture scale). Checkpoint
    # mode (round-15 A/B, see the with_toks pin note above).
    from eventsgateway_spark.queries.ext_dedup import with_keep_first

    s1 = pin(
        with_keep_first(canon, "k")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source", "toks"),
        mode="checkpoint",
    )

    # near-dup keep-first: drop the larger doc of every Jaccard≥0.5 pair.
    # r15: the shingle frame fans out FOUR ways inside jaccard_pairs
    # (sizes, self-join a/b, plus the df-cap hot list) — in q30/q31 the
    # "off" mode wins because ReusedExchange dedups the self-join, but
    # HERE the explode re-runs the interpreted ngrams transform over
    # the cached s1 for every non-reused consumer; persisting the
    # capped shingle table measured q60 8.6 → 6.0 s at sf0.1 on its
    # own (and 5.3 s with the with_toks pin above). Identity at
    # fixture scale; at 100 TB the table is Σ shingles ≈ corpus tokens
    # — the same scale class as the s1/s2 persists below.
    losers = (
        jaccard_pairs(pin(doc_shingles(s1), mode="checkpoint"), 0.5)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    # pin: s2 fans out to the contamination-gram path and s3
    s2 = pin(s1.join(losers, "doc_id", "left_anti"), mode="checkpoint")

    # decontamination: drop the eval corpus itself + anything sharing a
    # 5-gram with it (eval grams from the ORIGINAL corpus, broadcast)
    def five_grams(df: DataFrame) -> DataFrame:
        from eventsgateway_spark.functions.text import ngrams

        return df.select(
            "doc_id",
            F.explode(
                F.array_distinct(ngrams(F.col("toks"), DECON_N))
            ).alias("g"),
        )

    eval_grams = (
        five_grams(with_toks.filter(F.col("source") == EVAL_SOURCE))
        .select("g")
        .distinct()
    )
    cont = (
        five_grams(s2.filter(F.col("source") != EVAL_SOURCE))
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
    )
    s3 = s2.filter(F.col("source") != EVAL_SOURCE).join(cont, "doc_id", "left_anti")

    # chunk + split (chunk_documents consumes the threaded toks)
    return (
        chunk_documents(s3.select("doc_id", "toks"))
        .withColumn("split", split_col(F.col("doc_id")))
        .select("doc_id", "chunk_id", "split", "n_tokens", "chunk_text")
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# q73 — sequence packing (concat-and-cut over the chunk stream)
# ---------------------------------------------------------------------------
# The last transform before a causal-LM trainer sees the data:
# concatenate the ordered token stream and cut it into fixed-length
# training sequences. Every chunk's placement is a pure function of
# the GLOBAL token offset before it — an exact prefix sum over the
# (doc_id, chunk_id) order. A naive single window (ORDER BY over the
# whole corpus) serializes onto one task; the implementation reuses
# the q61-class distributed prefix sum (operators/skew.py): phase 1
# windows within order-aligned doc_id buckets, phase 2 offsets the
# buckets with a window over one tiny row per bucket.

SEQ_LEN = 128  # packed training-sequence length in tokens
PACK_BUCKET_DOCS = 500  # docs per prefix-sum bucket (order-aligned), floor
# Phase 2 of the distributed prefix sum runs a single-partition window
# over one row per bucket, so bucket COUNT must stay bounded as the
# corpus grows: cap it at ~2^16 by widening buckets with input size.
_MAX_PREFIX_BUCKETS = 1 << 16
_EST_BYTES_PER_DOC = 512  # conservative: smaller estimate => more docs => wider buckets


def prefix_bucket_docs(df) -> int:
    """Input-size-derived docs-per-bucket for the two-phase prefix sum.

    Purely a PERFORMANCE knob — any width yields the identical exact
    prefix sum (unlike q68/q70's result-shaping counts), so the
    unknown-size fallback is simply the fixture floor. Assumes roughly
    dense doc_ids (the fixture/layout contract); sparse 64-bit ids
    would need a rank-based bucket key instead."""
    from eventsgateway_spark.queries._util import known_input_bytes

    b = known_input_bytes(df)
    if b is None:
        return PACK_BUCKET_DOCS
    est_docs = max(1, b // _EST_BYTES_PER_DOC)
    return int(max(PACK_BUCKET_DOCS, est_docs // _MAX_PREFIX_BUCKETS))


def pack_projection(packed: DataFrame, base_off: int = 0) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, seq_id, seq_pos, crosses_boundary)
    from a frame carrying the inclusive running token sum ``_cum`` —
    THE single copy of the q73 cut math, shared with the streaming
    incremental packer (streaming/packing.py) so the two can never
    drift. ``base_off`` shifts the global offset (the stream's carried
    token count; 0 for a batch run).

    Integer ``div`` throughout: off can exceed 2^53 on a real corpus
    (>9e15 tokens), where double-division floor would drift; both
    engines truncate positive integer division identically."""
    return (
        packed.withColumn(
            "_off",
            (F.col("_cum") - F.col("n_tokens") + F.lit(base_off)).cast("bigint"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            F.expr(f"_off div {SEQ_LEN}").alias("seq_id"),
            (F.col("_off") % SEQ_LEN).cast("bigint").alias("seq_pos"),
            F.when(
                F.expr(f"(_off + n_tokens - 1) div {SEQ_LEN}")
                != F.expr(f"_off div {SEQ_LEN}"),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("crosses_boundary"),
        )
    )



# DuckDB mirror of the chunk -> exclusive-prefix-offset lineage
# (_packed_chunks' t/s/c/o chain) — ONE copy shared by the q73 and q88
# oracles (round-12 review finding: a packing-rule tweak edited in one
# verbatim copy but not the other would surface only as a driver hash
# mismatch in whichever round declares the stale one). The cut math on
# top of it (seq_id = off // SEQ_LEN, crosses_boundary) is likewise
# held to the two shared expression constants below.
_PACKED_CTES = f"""
    t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
          FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id,
                 CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
                 len(list_slice(toks, start + 1, start + {CHUNK_TOKENS})) AS n_tokens
          FROM s),
    o AS (SELECT doc_id, chunk_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     ORDER BY doc_id, chunk_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS off
          FROM c)"""
_DUCK_SEQ_ID = f"CAST(off // {SEQ_LEN} AS BIGINT)"
_DUCK_CROSSES = (
    f"CAST(CASE WHEN (off + n_tokens - 1) // {SEQ_LEN} <> off // {SEQ_LEN}"
    " THEN 1 ELSE 0 END AS BIGINT)"
)


@query(
    "q73_sequence_packing",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH{_PACKED_CTES}
    SELECT doc_id, chunk_id, n_tokens,
           {_DUCK_SEQ_ID} AS seq_id,
           CAST(off % {SEQ_LEN} AS BIGINT) AS seq_pos,
           {_DUCK_CROSSES} AS crosses_boundary
    FROM o
    ORDER BY doc_id, chunk_id
    """,
)
def q73_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every context chunk (q51's table) its packed training
    sequence: ``seq_id``/``seq_pos`` from the exact global token
    offset, plus a ``crosses_boundary`` flag for chunks straddling a
    cut (the trainer's split-or-pad decision). All-integer output.

    Scale shape: chunk metadata only (chunk_text projected away before
    any shuffle); the global prefix sum is the two-phase bucketed form
    — no single-task ORDER BY over the corpus. Bucket key is
    ``doc_id div prefix_bucket_docs(docs)``: contiguous doc ranges,
    order-aligned by construction, with the width growing with input
    size so the phase-2 per-bucket window never exceeds ~2^16 rows."""
    return _packed_chunks(spark, sf_dir).orderBy("doc_id", "chunk_id")


def _packed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE packed-sequence lineage (chunks → bucketed prefix sum →
    seq_id/seq_pos projection) — one copy shared by q73 (per-chunk
    report) and q88 (per-sequence density audit)."""
    from eventsgateway_spark.operators.skew import skew_safe_running_sum
    from eventsgateway_spark.queries.ext_text import chunk_documents

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs).select(
        "doc_id", "chunk_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    packed = skew_safe_running_sum(
        chunks.withColumn("_g", F.lit(0)),
        keys=["_g"],
        order_by=["doc_id", "chunk_id"],
        value=F.col("n_tokens"),
        bucket=F.expr(f"doc_id div {prefix_bucket_docs(docs)}"),
        sum_col="_cum",
    )
    return pack_projection(packed)


# ---------------------------------------------------------------------------
# q88 — packing-density audit (per-sequence chunk/boundary stats)
# ---------------------------------------------------------------------------


@query(
    "q88_packing_density",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH{_PACKED_CTES},
    p AS (SELECT doc_id, n_tokens,
                 {_DUCK_SEQ_ID} AS seq_id,
                 {_DUCK_CROSSES} AS crosses_boundary
          FROM o)
    SELECT seq_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(crosses_boundary) AS BIGINT) AS n_crossing,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM p
    GROUP BY 1
    ORDER BY 1
    """,
)
def q88_packing_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-sequence packing audit over q73's lineage: how
    many chunks START in each SEQ_LEN window, the token mass they
    contribute, how many straddle the cut (the trainer's split-or-pad
    cost, the number a packing config is tuned against), and the
    doc-id range each sequence draws from (attention-contamination
    audit: how many documents share one context window). One hash
    aggregate on seq_id after the shared bucketed prefix sum — output
    is total_tokens/SEQ_LEN rows, nothing corpus-grain shuffles twice,
    no window beyond the prefix sum itself. All-integer columns
    (hash-exact under any partitioning)."""
    return (
        _packed_chunks(spark, sf_dir)
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("crosses_boundary").cast("bigint").alias("n_crossing"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("seq_id")
    )
