"""[EXT] Deterministic sampling / dataset-split operators over
``documents`` — the selection layer of an LLM training-data pipeline.

The reference delegates everything downstream of ingestion
(README.md:11-17); a 100 TB corpus still has to be *partitioned into
splits*, *rebalanced across classes*, and *shuffled for training*
before any model sees it. Random-number generators are a
reproducibility trap in distributed engines (per-partition RNG state
changes with the split layout), so every operator here derives its
randomness from a content hash (md5 → first 8 hex chars → bigint, the
same construction as ``functions.text.token_hash32``) — the
assignment of a row never depends on partitioning, executor count, or
row order, and is identical in Spark and DuckDB.

Scale posture: q47 is a map-only projection + one tiny aggregate; q48
is a single window shuffle keyed by the class column (the cap bounds
the OUTPUT, the shuffle is the classic top-k-per-group shape; a skewed
class shows up as one hot partition — cap the input first with an
approximate pre-filter if a class dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import pin, spread, table

# split thresholds on the hash-percent: [0,80) train, [80,90) val, rest test
TRAIN_PCT = 80
VAL_PCT = 90

_DUCK_HASHPCT = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


def hash_pct(col: F.Column) -> F.Column:
    """Stable pseudo-uniform percent in [0,100) from a key column —
    the shared md5 fold (functions.text.token_hash32), kept in one
    place so split/shard/token hashing cannot drift apart."""
    from eventsgateway_spark.functions.text import token_hash32

    return token_hash32(col.cast("string")) % 100


def split_col(key: F.Column) -> F.Column:
    p = hash_pct(key)
    return (
        F.when(p < TRAIN_PCT, "train").when(p < VAL_PCT, "val").otherwise("test")
    )


@query(
    "q47_hash_split",
    declared=False,  # rotation-pool member (round 6: shares a slot with q74)
    oracle=f"""
    WITH s AS (
        SELECT doc_id, length(text) AS n_chars,
               CASE WHEN {_DUCK_HASHPCT} < {TRAIN_PCT} THEN 'train'
                    WHEN {_DUCK_HASHPCT} < {VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc_id,
           CAST((CAST(1000000 AS HUGEINT) * COUNT(*)) // (SELECT COUNT(*) FROM s) AS BIGINT)
               AS share_ppm
    FROM s
    GROUP BY 1
    ORDER BY 1
    """,
)
def q47_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by content-hash percent (80/10/10).

    A row's split is a pure function of its id — adding data, changing
    partitioning, or re-running never moves an existing row between
    splits (the property random() cannot give you, and the reason
    every production pipeline splits by hash). Map-only over the
    corpus; the audit aggregate is 3 rows. The share column verifies
    the hash is uniform enough to hit the 80/10/10 targets."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    s = docs.select("doc_id", "n_chars", split_col(F.col("doc_id")).alias("split"))
    per_split = s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )
    # grand total via an unpartitioned window over the 3-row per-split
    # aggregate — no second corpus scan and no driver round-trip (the
    # single-partition window is over 3 rows, not the corpus)
    return (
        per_split.withColumn(
            "_total", F.sum("n_docs").over(W.partitionBy())
        )
        .select(
            "split",
            "n_docs",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "min_doc_id",
            # parts-per-million as exact integer division (identical
            # truncation in both engines on positives); decimal lift
            # on the count product — same ceiling class as q75
            F.expr(
                "(CAST(1000000 AS DECIMAL(18,0)) * n_docs) div _total"
            ).alias("share_ppm"),
        )
        .orderBy("split")
    )


@query(
    "q48_balanced_sample",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    WITH r AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT lang, doc_id, rk
    FROM r WHERE rk <= 20
    ORDER BY lang, rk
    """,
)
def q48_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: at most 20 docs per language, chosen
    by hash order — a deterministic uniform draw without RNG state.
    One window shuffle keyed on the class column; the md5 sort key
    doubles as the training shuffle (hash order ≈ random order), so
    the selected set needs no second pass to be mixed."""
    docs = table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# q74 — per-source token-budget sampling (mixture building)
# ---------------------------------------------------------------------------
# Building a training mixture means taking each source up to a TOKEN
# budget, not a document count (sources differ wildly in doc length).
# Deterministic greedy prefix: walk each source in doc_id order and
# keep documents while the source's cumulative token count stays
# within budget — reproducible under any partitioning, and the
# kept-set only grows at the tail when the budget rises.

SOURCE_TOKEN_BUDGET = 3_000  # tokens per source (fixture-sized)

from eventsgateway_spark.queries._util import DUCK_TOKS as _DT
_DUCK_NTOK = f"len({_DT})"

# q75: temperature exponent for mixture re-weighting, expressed as a
# rational (1/2 = sqrt) so both engines compute it with one IEEE-exact
# operation. alpha<1 upsamples low-resource sources (multilingual-LM
# sampling); alpha=1 is proportional; alpha=0 is uniform.
MIXTURE_ALPHA_NUM, MIXTURE_ALPHA_DEN = 1, 2


@query(
    "q74_token_budget_sample",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH t AS (SELECT source, doc_id,
                      CAST({_DUCK_NTOK} AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT source, doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_tokens
          FROM t)
    SELECT source, doc_id, n_tokens, cum_tokens
    FROM c
    WHERE cum_tokens <= {SOURCE_TOKEN_BUDGET}
    ORDER BY source, doc_id
    """,
)
def q74_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source document prefix under a token budget — the
    mixture-building selector. Output: every kept doc with its source
    cumulative token count (all-integer, hash-exact).

    Scale shape: the per-source running sum is the q61-class
    distributed prefix sum (operators/skew.py) — a handful of sources
    means EVERY source is a hot key, exactly the case a naive
    PARTITION BY source window serializes; bucketing by contiguous
    doc_id ranges splits each source's stream across tasks, with one
    tiny offset row per (source, bucket)."""
    from eventsgateway_spark.functions.text import tokens
    from eventsgateway_spark.operators.skew import skew_safe_running_sum
    from eventsgateway_spark.queries.ext_pipeline import prefix_bucket_docs

    docs = spread(table(spark, sf_dir, "documents").select("source", "doc_id", "text"))
    t = docs.select(
        "source",
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    c = skew_safe_running_sum(
        t,
        keys=["source"],
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        bucket=F.expr(f"doc_id div {prefix_bucket_docs(docs)}"),
        sum_col="cum_tokens",
    )
    return (
        c.filter(F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET)
        .select("source", "doc_id", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens"))
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# q75 — temperature-scaled domain-mixture weights
# ---------------------------------------------------------------------------
# The step BEFORE q74's budget cut: decide how much each source SHOULD
# contribute. Proportional sampling (share of raw tokens) lets a huge
# crawl source drown curated ones; uniform sampling over-trains tiny
# sources. The standard compromise (multilingual-LM sampling, also the
# DoReMi-style static baseline) re-weights source probabilities by a
# temperature: w_i ∝ p_i^alpha with alpha in (0,1).
#
# Determinism contract: alpha=1/2 means the un-normalized weight is
# sqrt(n_tokens). IEEE-754 sqrt is correctly rounded in every engine,
# and floor() of it is exact for counts < 2^52, so isqrt(n_tokens) is
# an INTEGER both engines agree on bit-for-bit; every downstream ratio
# is integer division over integer sums — hash-exact, no float
# accumulation-order hazard (a float softmax would differ by summation
# order).
#
# Scale shape: one full-corpus hash-agg (map-side partial combine) down
# to |sources| rows, then window math over that tiny frame. The
# single-partition windows are over the per-source aggregate (a handful
# of rows), never the corpus — same pattern as q47's audit total.

def source_totals(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens) — the per-source corpus aggregate
    both the batch weights (q75) and the streaming mixture monitor
    accumulate. One full-corpus hash-agg (map-side combine)."""
    from eventsgateway_spark.functions.text import has_pretokenized, tokens

    if has_pretokenized(docs):
        # pre-tokenized caller: skip the split — same counts by
        # construction
        return docs.select("source", "toks").groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks")).cast("bigint").alias("n_tokens"),
        )
    return docs.select("source", "text").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
    )


def weights_from_totals(totals: DataFrame) -> DataFrame:
    """The q75 weight formula over a (source, n_docs, n_tokens) frame
    — THE single copy of the determinism-critical math, shared by
    batch q75 and the streaming monitor (streaming/mixture.py) so the
    two can never drift. All divisions are greatest(·,1)-guarded:
    Spark 4 runs ANSI mode, where an all-zero-token totals frame would
    otherwise raise DIVIDE_BY_ZERO (and the guard keeps the output —
    weight 0 — identical to the oracle's GREATEST). Windows touch only
    the |sources|-row aggregate."""
    w = totals.withColumn(
        "isqrt_tok", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint")
    )
    tot = W.partitionBy()  # over the |sources|-row aggregate only
    # decimal(38,0) lift on the TOKEN-count products (round-11, the
    # SCALE.md round-10 overflow remedy): 1e6 × n_tokens overflows
    # BIGINT past ~9.2e12 tokens and a 100 TB corpus holds ~2.5e13.
    # Spark computes the 128-bit decimal product exactly and `div`
    # returns BIGINT (the quotient is ≤ 1e6 by construction); the
    # oracle mirrors with HUGEINT. isqrt products stay BIGINT —
    # isqrt(9.2e18) ≈ 3e9, ×1e6 ≈ 3e15, six orders inside the ceiling.
    return (
        w.withColumn("_tok_total", F.sum("n_tokens").over(tot))
        .withColumn("_w_total", F.sum("isqrt_tok").over(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "(CAST(1000000 AS DECIMAL(18,0)) * n_tokens)"
                " div greatest(_tok_total, 1)"
            ).alias("share_ppm"),
            F.expr("(1000000 * isqrt_tok) div greatest(_w_total, 1)").alias(
                "weight_ppm"
            ),
            # -1 sentinel when the source's token share is 0 (an
            # all-empty-text source): the over/under-sampling factor is
            # undefined there, and a NULL would degrade the oracle's
            # pandas fetch of this BIGINT column to float64 ('92.0' vs
            # '92' — a silent driver hash mismatch the hostile-fixture
            # test caught in round 11). Both engines emit the sentinel.
            F.coalesce(
                F.expr(
                    "(100 * ((1000000 * isqrt_tok) div greatest(_w_total, 1)))"
                    " div nullif((CAST(1000000 AS DECIMAL(18,0)) * n_tokens)"
                    " div greatest(_tok_total, 1), 0)"
                ),
                F.lit(-1),
            ).alias("oversample_x100"),
        )
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens, share_ppm, weight_ppm,
    oversample_x100) — the q75 weight table, reusable by the
    training-order interleave (q76)."""
    return weights_from_totals(source_totals(docs))


@query(
    "q75_domain_mixture",
    declared=False,  # rotation-pool member (debuts round 6; see ROTATION)
    oracle=f"""
    WITH t AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM({_DUCK_NTOK}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isqrt_tok
        FROM t
    )
    SELECT source, n_docs, n_tokens,
           CAST((CAST(1000000 AS HUGEINT) * n_tokens) // GREATEST((SELECT SUM(n_tokens) FROM w), 1)
               AS BIGINT) AS share_ppm,
           CAST((1000000 * isqrt_tok) // GREATEST((SELECT SUM(isqrt_tok) FROM w), 1)
               AS BIGINT) AS weight_ppm,
           COALESCE(CAST((100 * ((1000000 * isqrt_tok) // GREATEST((SELECT SUM(isqrt_tok) FROM w), 1)))
               // NULLIF((CAST(1000000 AS HUGEINT) * n_tokens) // GREATEST((SELECT SUM(n_tokens) FROM w), 1), 0)
               AS BIGINT), -1) AS oversample_x100
    FROM w
    ORDER BY source
    """,
)
def q75_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mixture weights at temperature alpha=1/2.

    Output per source: raw token share (ppm), temperature-scaled
    sampling weight (ppm), and the implied over/under-sampling factor
    (x100) — the table a mixture-aware loader consumes to draw
    batches. Small sources get oversample_x100 > 100 (seen more often
    than their share), dominant ones < 100."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    return mixture_weights(doc_tokens_frame(spark, sf_dir)).orderBy("source")


# ---------------------------------------------------------------------------
# q76 — deterministic weighted training order (stride interleave)
# ---------------------------------------------------------------------------
# The last assembly step: q75 says HOW MUCH of each source, q76 says
# IN WHAT ORDER. Stride scheduling from the OS literature: each
# source's k-th document is released at virtual time k/weight, so
# sorting by virtual time yields an interleave where every window of
# the stream matches the target mixture — no RNG, no epoch-boundary
# burstiness (the failure mode of concat-then-global-shuffle when the
# shuffle is seeded per run).
#
# All-integer: vt = (rk * 10^9) div weight_ppm. Within a source, rank
# comes from md5 order (hash order ≈ uniform shuffle, the q48 device),
# so the within-source order is itself a reproducible shuffle.
#
# Scale shape: the per-source rank is the q61/q73-class distributed
# prefix sum — a handful of sources means EVERY source is a hot key,
# so a naive PARTITION BY source row_number serializes the corpus
# into |sources| tasks. Bucketing by the md5 prefix (256 contiguous
# hash ranges, order-aligned with the sort key) splits each source's
# rank computation across tasks; the weight join is |sources| rows
# (AQE broadcasts it). The final ORDER BY vt is presentation — a
# trainer reads shards sorted by vt with a merge, never one task.

VT_SCALE = 1_000_000_000


def vt_column() -> F.Column:
    """q76's integer virtual time over (rk, weight_ppm) columns —
    THE single copy of the release-time formula (tested directly past
    the BIGINT ceiling in tests/test_ansi_guards.py). Decimal-lifted
    product: rk × 1e9 overflows BIGINT past rk ~9.2e9 (a 1e10-doc
    source); the quotient must still fit BIGINT — if it cannot
    (degenerate weight 1 on a huge source), ANSI fails loudly in both
    engines rather than wrapping."""
    return (
        F.expr(
            f"(CAST(rk AS DECIMAL(18,0)) * {VT_SCALE})"
            " div greatest(weight_ppm, 1)"
        )
        .cast("bigint")
    )


@query(
    "q76_training_order",
    declared=False,  # rotation-pool member (debuts round 6; see ROTATION)
    oracle=f"""
    WITH t AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM({_DUCK_NTOK}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source,
               CAST((1000000 * CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT))
                   // GREATEST((SELECT SUM(CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)) FROM t), 1)
                   AS BIGINT) AS weight_ppm
        FROM t
    ),
    r AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS rk,
           CAST((CAST(r.rk AS HUGEINT) * {VT_SCALE}) // GREATEST(w.weight_ppm, 1) AS BIGINT) AS vt
    FROM r JOIN w ON r.source = w.source
    ORDER BY vt, r.source, r.doc_id
    """,
)
def q76_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-interleave training order: every doc gets an integer
    virtual time (rank-within-source / mixture weight); reading in vt
    order delivers the q75 mixture in every prefix of the stream."""
    from eventsgateway_spark.operators.skew import skew_safe_running_sum
    from eventsgateway_spark.queries._util import doc_tokens_frame

    dt = doc_tokens_frame(spark, sf_dir)
    h = dt.select("source", "doc_id").withColumn(
        "h", F.md5(F.col("doc_id").cast("string"))
    )
    ranked = skew_safe_running_sum(
        h,
        keys=["source"],
        order_by=["h", "doc_id"],
        value=F.lit(1),
        # md5 prefix: 256 contiguous hash ranges, order-aligned with
        # the (h, doc_id) sort — each hot source's rank computation
        # splits across up to 256 tasks
        bucket=F.substring("h", 1, 2),
        rn_col="rk",
        sum_col="_unused",
    )
    weights = mixture_weights(dt).select("source", "weight_ppm")
    return (
        ranked.join(weights, "source")
        .select(
            "source",
            "doc_id",
            F.col("rk").cast("bigint").alias("rk"),
            vt_column().alias("vt"),
        )
        .orderBy("vt", "source", "doc_id")
    )


# ---------------------------------------------------------------------------
# q77 — leakage-safe train/val/test split (cluster-level assignment)
# ---------------------------------------------------------------------------
# The q47 hash split has a blind spot every eval pipeline eventually
# hits: two NEAR-DUPLICATE documents can land in different splits, so
# the model is "evaluated" on a paraphrase of its own training data —
# silent test-set contamination. The fix is structural: assign splits
# to duplicate CLUSTERS (q32's connected components over the
# Jaccard>=0.5 pair graph), not documents; every member of a cluster
# inherits the split of its canonical id, so no near-dup pair can
# straddle train/test by construction. Singleton documents cluster as
# themselves and degrade to exactly the q47 assignment.
#
# Scale shape: the dup graph + O(log n) star contraction is q32's
# machinery (SCALE.md: linear growth, bounded rounds); the split
# derivation is one map over the |docs| label table with the shared
# md5 fold. The label join is doc_id-keyed — the same shuffle the
# component labeling already produced.


def _q77_oracle() -> str:
    # ext_dedup registers before this module (queries/__init__ import
    # order), so its shingle/jaccard CTE text is importable here
    from eventsgateway_spark.queries.ext_dedup import _SH_CTES

    pct = "('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100"
    return f"""
    WITH RECURSIVE {_SH_CTES},
    e AS (SELECT d1 AS u, d2 AS v FROM jac WHERE jaccard >= 0.5
          UNION ALL
          SELECT d2, d1 FROM jac WHERE jaccard >= 0.5),
    nodes AS (SELECT DISTINCT u FROM e),
    reach(u, r) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
    ),
    lbl AS (SELECT u AS doc_id, MIN(r) AS cl FROM reach GROUP BY u),
    c AS (SELECT d.doc_id, COALESCE(l.cl, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
    SELECT doc_id, cluster_id,
           CASE WHEN {pct} < {TRAIN_PCT} THEN 'train'
                WHEN {pct} < {VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM c
    ORDER BY doc_id
    """


@query(
    "q77_leakage_safe_split",
    declared=False,  # rotation-pool member (debuts round 6; see ROTATION)
    oracle=_q77_oracle(),
)
def q77_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, split): near-dup-cluster-level 80/10/10
    assignment — no near-duplicate pair straddles two splits.

    The cluster-label table is ``dedup_cluster_labels`` — the SAME
    shingle → pair → contraction lineage q32 reads; q77 itself is one
    doc_id-keyed left join plus a map over the labels."""
    from eventsgateway_spark.queries.ext_dedup import dedup_cluster_labels

    docs = table(spark, sf_dir, "documents")
    labels = dedup_cluster_labels(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("cl")
    )
    cl = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("cl"), F.col("doc_id")).alias("cluster_id")
    )
    return (
        cl.select("doc_id", "cluster_id", split_col(F.col("cluster_id")).alias("split"))
        .orderBy("doc_id")
    )



# Shared DuckDB CTE chain for the DSIR family: token stream, corpus and
# target unigram counts, smoothing constants, and the per-term integer
# micro-nat log-ratio table. ONE copy (round-11b review finding) — q82
# scores every doc with it, q83 resamples under it; a one-sided edit of
# the smoothing formula can no longer make the two silently disagree.
_DUCK_DSIR_LR = f"""tok AS (SELECT doc_id, lang, unnest({_DT}) AS term FROM documents),
    cs AS (SELECT term, COUNT(*) AS c_src FROM tok GROUP BY 1),
    ct AS (SELECT term, COUNT(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY 1),
    consts AS (SELECT (SELECT COUNT(*) FROM cs) AS v,
                      (SELECT COUNT(*) FROM tok) AS t_src,
                      (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS t_tgt),
    lr AS (SELECT cs.term,
                  CAST(ROUND(ln(((COALESCE(c_tgt, 0) + 1.0)
                                     * CAST(t_src + v AS DOUBLE))
                                / ((c_src + 1.0)
                                     * CAST(t_tgt + v AS DOUBLE))) * 1e6)
                       AS BIGINT) AS lr_u
           FROM cs LEFT JOIN ct USING (term), consts)"""

# ---------------------------------------------------------------------------
# q82 — DSIR-style importance weights (target-vs-corpus unigram log-ratio)
# ---------------------------------------------------------------------------
# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling"): score every raw document by how much more likely it is
# under a TARGET distribution (a trusted high-quality slice) than
# under the raw-corpus distribution, then keep the target-like ones.
# Here the target is the corpus's own lang='en' slice (DSIR's target
# is e.g. Wikipedia; the machinery is distribution-agnostic), features
# are add-one-smoothed unigram counts, and the weight is the per-doc
# sum of per-token log-ratios:
#
#   lr(term) = ln( ((c_tgt+1) * (T_src+V)) / ((c_src+1) * (T_tgt+V)) )
#
# rounded to integer micro-nats PER TERM before the per-document sum —
# the q71 discipline that makes the cross-row reduction order-free and
# the result hash-exact across engines and partitionings.


@query(
    "q82_importance_weights",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_DUCK_DSIR_LR},
    doc AS (SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(lr_u) AS BIGINT) AS wt_unats
            FROM tok JOIN lr USING (term)
            GROUP BY 1)
    SELECT d.doc_id, d.lang, d.source, doc.n_tok, doc.wt_unats,
           CAST(CASE WHEN doc.wt_unats >= 0 THEN 1 ELSE 0 END AS INTEGER)
               AS tgt_like
    FROM doc JOIN documents d USING (doc_id)
    ORDER BY doc_id
    """,
)
def q82_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight in integer micro-nats, plus
    the ``tgt_like`` selection flag (weight >= 0 — the doc is more
    plausible under the target LM than the corpus LM).

    Scale shape (mirrors q71, which this extends from one LM to a
    likelihood RATIO of two): tokenize ONCE; two (term) hash
    aggregates for the corpus and target counts (map-side combine
    absorbs 'the'-class hot terms); V/T_src/T_tgt ride a 1-row
    broadcast; the per-term log-ratio table joins back to the token
    stream on term (row volume unchanged, AQE skew split covers hot
    terms); one (doc_id) hash aggregate reduces to per-doc weights.
    Everything JVM built-ins — no UDF, no collect, linear in corpus
    tokens. The doubles inside ln() stay below 2^53 up to ~4e15
    token·vocab products; past that the weight loses low-order bits
    but stays deterministic (both engines compute the identical
    expression tree).

    Zero-token docs carry no weight and are absent from the output in
    BOTH engines (the weight of an empty doc is an empty sum — no
    0-vs-NULL sentinel needed). All denominators are structurally
    positive (c_src >= 1 by construction, V >= 1 whenever any token
    exists), so ANSI mode cannot divide by zero."""
    return (
        dsir_scored_frame(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tok",
            "wt_unats",
            F.when(F.col("wt_unats") >= 0, 1).otherwise(0).cast("int").alias("tgt_like"),
        )
        .orderBy("doc_id")
    )


def dsir_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_tok, wt_unats) — THE scored DSIR
    weight table over the fixture corpus, shared by q82 and q83 (one
    lineage, two views; the _SH_CTES one-copy discipline). Builds the
    importance model and scoring pass with ONE tokenization (the
    exploded token stream is pinned and threaded through both — the
    q84 token-stream convention)."""
    from eventsgateway_spark.functions.text import tokens

    docs = spread(table(spark, sf_dir, "documents"))
    # ONE tokenization for the whole family: the exploded stream feeds
    # the model's cs/ct term aggregates AND the scoring join (was 3
    # separate explodes of the corpus). pin is identity at fixture
    # scale.
    tok = pin(
        docs.select("doc_id", "lang", F.explode(tokens("text")).alias("term")),
        mode="persist",
    )
    lr, _meta = importance_model(docs, tok=tok)
    return score_importance(docs, lr, tok=tok)


def _importance_ratio(c_tgt: F.Column, c_src: F.Column) -> F.Column:
    """The ONE copy of the add-one-smoothed likelihood ratio — the
    expression tree both the batch lr table and the OOV constant use
    (the OOV score is literally this ratio at c_tgt = c_src = 0, so a
    streamed unseen term scores exactly what the batch formula would
    have given it)."""
    return (
        (c_tgt + 1.0) * (F.col("t_src") + F.col("v")).cast("double")
    ) / ((c_src + 1.0) * (F.col("t_tgt") + F.col("v")).cast("double"))


def _lr_unats(c_tgt: F.Column, c_src: F.Column) -> F.Column:
    return (
        F.round(F.log(_importance_ratio(c_tgt, c_src)) * 1e6)
        .cast("bigint")
    )


def importance_model(
    docs: DataFrame, target_lang: str = "en", tok: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(lr, meta) — the DSIR importance model over a reference corpus.

    ``lr``: (term, lr_u) per-term integer micro-nat log-ratio, the
    table batch q82 joins its token stream against. ``meta``: ONE row
    (v, t_src, t_tgt, oov_lr_u) — the smoothing constants plus the
    out-of-vocabulary score (the same formula at zero counts), which
    the streaming scorer (streaming/importance.py) needs because an
    ARRIVING document may contain terms the frozen reference corpus
    never saw; batch q82 scores the corpus against itself, so every
    term is in-vocabulary there by construction.

    ``tok`` (r15): a caller-supplied (doc_id, lang, term) exploded
    token stream of the SAME docs (dsir_scored_frame pins one and
    threads it through model + scoring — one tokenization pass for
    the family instead of three)."""
    from eventsgateway_spark.functions.text import tokens

    if tok is None:
        tok = docs.select(
            "doc_id", "lang", F.explode(tokens("text")).alias("term")
        )
    # cs/ct are each consumed TWICE (the lr join and the consts agg)
    # and their aggregation exchanges do not canonicalize for
    # ReusedExchange, so without a pin each consumer re-tokenizes the
    # corpus. The term tables are |vocab| rows — pin(persist) is the
    # q60 survivor-set convention: eager, tiny, cuts the corpus
    # tokenization passes from 5 to 3 above fixture scale (untouched
    # at fixture scale, where the driver hash-checks full lineage).
    cs = pin(
        tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_src")), "persist"
    )
    ct = pin(
        tok.filter(F.col("lang") == target_lang)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_tgt")),
        "persist",
    )
    # V, T_src, T_tgt all derive from the ALREADY-AGGREGATED term
    # tables (Σ counts = total tokens) — the naive tok.agg forms cost
    # two extra full-corpus tokenization scans for identical values
    # (round-11b review finding; at the module's own 100 TB posture
    # that was two redundant corpus reads per model build)
    consts = (
        cs.agg(
            F.count(F.lit(1)).alias("v"),
            # SUM over an empty frame is NULL (count semantics gave 0)
            F.coalesce(F.sum("c_src"), F.lit(0)).cast("bigint").alias("t_src"),
        )
    ).crossJoin(
        ct.agg(
            F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("bigint").alias("t_tgt")
        )
    )
    lr = (
        cs.join(ct, "term", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "term",
            _lr_unats(F.coalesce(F.col("c_tgt"), F.lit(0)), F.col("c_src")).alias(
                "lr_u"
            ),
        )
    )
    meta = consts.select(
        "v",
        "t_src",
        "t_tgt",
        _lr_unats(F.lit(0), F.lit(0)).alias("oov_lr_u"),
    )
    return lr, meta


def score_importance(
    docs: DataFrame,
    lr: DataFrame,
    oov_lr_u: int | None = None,
    mark_oov: bool = False,
    tok: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, lang, source, n_tok, wt_unats[, n_oov]) — per-doc
    importance weight of ``docs`` against a per-term ``lr`` table. The
    shared scoring step of batch q82 and its streaming twin: tokenize,
    join the token stream on term (row volume unchanged; AQE
    broadcasts the lr table while it is genuinely small), integer-sum
    per doc. ``oov_lr_u`` is the score for terms absent from ``lr``
    (required when scoring docs the model was not trained on; batch
    q82 passes None — self-scoring can't miss). ``mark_oov`` adds the
    per-doc out-of-vocabulary token count — the streaming twin's
    model-staleness signal. ``tok`` (r15): optional pre-exploded
    (doc_id, ..., term) token stream of the same docs — see
    importance_model."""
    from eventsgateway_spark.functions.text import tokens

    if tok is None:
        tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    else:
        tok = tok.select("doc_id", "term")
    joined = tok.join(lr, "term", "left" if oov_lr_u is not None else "inner")
    scored = joined.select(
        "doc_id",
        (
            F.coalesce(F.col("lr_u"), F.lit(oov_lr_u).cast("bigint"))
            if oov_lr_u is not None
            else F.col("lr_u")
        ).alias("lr_u"),
        # computed BEFORE the coalesce above rewrites lr_u
        F.when(F.col("lr_u").isNull(), 1).otherwise(0).alias("is_oov"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("lr_u").cast("bigint").alias("wt_unats"),
    ]
    if mark_oov:
        aggs.append(F.sum("is_oov").cast("bigint").alias("n_oov"))
    doc = scored.groupBy("doc_id").agg(*aggs)
    return doc.join(docs.select("doc_id", "lang", "source"), "doc_id")


# ---------------------------------------------------------------------------
# q83 — DSIR resampling: deterministic Gumbel-top-k under the q82 weights
# ---------------------------------------------------------------------------
# The second half of Xie et al. 2023: importance RESAMPLING — draw the
# training subset with probability proportional to exp(weight) — via
# the Gumbel-top-k trick (adding independent Gumbel noise to each log
# weight and taking the top k IS a weighted sample without
# replacement). Randomness is the engine-wide content-hash
# construction (md5 of the doc id), not an RNG: the draw is identical
# across engines, partitionings, and re-runs, and the perturbed key is
# rounded to integer micro-units so the cross-engine ORDER is exact.

RESAMPLE_K = 100

_DUCK_H32 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


@query(
    "q83_importance_resample",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_DUCK_DSIR_LR},
    doc AS (SELECT doc_id, CAST(SUM(lr_u) AS BIGINT) AS wt_unats
            FROM tok JOIN lr USING (term)
            GROUP BY 1),
    perturbed AS (
        SELECT d.doc_id, d.lang, d.source, doc.wt_unats,
               CAST(ROUND((CAST(doc.wt_unats AS DOUBLE) / 1000000.0
                           + (-ln(-ln(({_DUCK_H32} + 0.5) / 4294967296.0))))
                          * 1000000.0) AS BIGINT) AS key_u
        FROM doc JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, source, wt_unats, key_u, rn
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY key_u DESC, doc_id) AS rn
          FROM perturbed)
    WHERE rn <= {RESAMPLE_K}
    ORDER BY rn
    """,
)
def q83_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample-without-replacement of the corpus under the q82
    importance weights, via deterministic Gumbel-top-k: for each doc,
    key = wt_nats + Gumbel(u) with u derived from the md5 content hash
    (``functions.text.token_hash32`` — the same construction every
    split/shard operator uses), Gumbel(u) = -ln(-ln(u)); keep the top
    {RESAMPLE_K}. Keys are rounded to integer micro-units before
    ranking, so the order — and therefore the drawn set — is
    hash-exact across engines.

    Scale shape: the perturbation is a map-only projection over the
    q82 weight table (no extra shuffle); the global top-k is
    ``orderBy().limit(k)`` — Spark's TakeOrderedAndProject, a
    per-partition bounded heap merged on the driver (k rows per
    partition, never a global sort shuffle); the final rank window
    runs over the k surviving rows (bounded by construction — the
    SCALE.md global-window rule). At 100 TB the only corpus-sized
    work is the q82 scoring pass itself."""
    from eventsgateway_spark.functions.text import token_hash32

    wt = dsir_scored_frame(spark, sf_dir)
    u = (token_hash32(F.col("doc_id").cast("string")) + 0.5) / F.lit(4294967296.0)
    perturbed = wt.select(
        "doc_id",
        "lang",
        "source",
        "wt_unats",
        F.round(
            (F.col("wt_unats").cast("double") / 1000000.0 + (-F.log(-F.log(u))))
            * 1000000.0
        )
        .cast("bigint")
        .alias("key_u"),
    )
    top = perturbed.orderBy(F.desc("key_u"), F.asc("doc_id")).limit(RESAMPLE_K)
    w = W.orderBy(F.desc("key_u"), F.asc("doc_id"))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "lang", "source", "wt_unats", "key_u", "rn")
        .orderBy("rn")
    )
