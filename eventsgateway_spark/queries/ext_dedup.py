"""[EXT] Deduplication operators over ``documents`` (SURVEY §2.5 Q19).

The reference is at-least-once and explicitly delegates dedup
downstream (README.md:11-17); exact-id dedup is Q15 (q16). This module
adds the LLM-training-pipeline near-duplicate family:

- q29 exact bag-of-words dedup (hash-groupBy on a canonical token key)
- q30 shingle-Jaccard near-dup pairs via inverted-index join
- q31 MinHash + LSH banding candidate generation, Jaccard-verified
- q32 duplicate clustering (connected components via large-star/
  small-star contraction, operators/components.py)
- q39/q63 SimHash signatures + bounded-Hamming banded pairs
- q72 exact substring-window dedup (keep-first window ownership)

Scale posture (100 TB): candidate generation is always an equi-join on
a derived key (token, shingle, band signature, window hash) —
shuffle-partitioned, never all-pairs. Ultra-frequent shingles are
pruned by a document-frequency cap before the pair join (the
prefix-filter analog), which bounds the per-key fan-out; banding keeps
MinHash candidates near-linear in corpus size. Connected components is
alternating star contraction — O(log n) rounds regardless of component
diameter (SCALE.md has the measured giant-chain probe).

All hashes are md5-derived (identical in Spark and DuckDB), so every
query here is value-hash-checked against the oracle, including the
clustering (DuckDB side uses a recursive CTE closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eventsgateway_spark.functions.text import (
    ngrams,
    token_hash32,
    tokens,
)
from eventsgateway_spark.operators.components import connected_components
from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import (
    pin,
    spread,
    table,
)

from eventsgateway_spark.queries._util import DUCK_TOKS as _DUCK_TOKS

# MinHash family: h_i(s) = (a_i * hash32(s) + b_i) mod P. Odd multipliers,
# P = 2^31-1; products stay < 2^38 so DuckDB's checked BIGINT math is safe.
MH_P = 2_147_483_647
MH_K = 8  # signature length
MH_BANDS = 4  # bands of 2 rows each
SHINGLE_N = 3
MAX_SHINGLE_DF = 100  # prune shingles present in more docs (prefix-filter analog)


def _mh_a(i: int) -> int:
    return 2 * i + 1


def _mh_b(i: int) -> int:
    return 7919 * i


# ---------------------------------------------------------------------------
# Shared Spark-side pipeline pieces
# ---------------------------------------------------------------------------


def doc_shingles(
    docs: DataFrame, n: int = SHINGLE_N, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, s) — distinct n-token shingles per doc, with ultra-
    frequent shingles pruned by document frequency (bounds the fan-out
    of any later equi-join on s).

    The raw shingle table is not pinned here (see ``_df_capped``); a
    caller that reads the result from several actions pins the result.
    The df-cap is a broadcast ANTI join
    against the hot-shingle list: the list of shingles with df > cap
    is tiny by construction, so the prune costs no shuffle and no sort
    (a window count would sort every partition by s).

    A frame carrying a ``toks`` column is treated as PRE-TOKENIZED:
    the split is skipped entirely (composers like q60 tokenize once
    and thread the array through every stage — the round-6 fix for
    the pipeline re-tokenizing its surviving corpus 4x)."""
    from eventsgateway_spark.functions.text import has_pretokenized

    if has_pretokenized(docs):
        return _shingles_from_toks(docs, n, max_df)
    base = spread(docs.select("doc_id", "text"))
    shingled = (
        base
        # project toks first — inlined, the split+filter subtree is
        # re-evaluated per n-gram lambda reference (5× slower)
        .select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(ngrams(F.col("toks"), n))).alias("s"),
        )
    )
    return _df_capped(shingled, max_df)


def _shingles_from_toks(docs: DataFrame, n: int, max_df: int) -> DataFrame:
    shingled = spread(docs.select("doc_id", "toks")).select(
        "doc_id",
        F.explode(F.array_distinct(ngrams(F.col("toks"), n))).alias("s"),
    )
    return _df_capped(shingled, max_df)


def _df_capped(shingled: DataFrame, max_df: int) -> DataFrame:
    """Df-cap the shingle table via a broadcast anti join against the
    (tiny-by-construction) hot-shingle list.

    The shingle table is not pinned (round-6 A/B, BASELINE.md): every
    consumer of it in q30/q31/q60 sits under ONE action, where the
    self-join sides canonicalize to the same exchange (ReusedExchange
    runs it once) and the residual recompute (tokenize+explode for the
    hot list / sizes branches) is cheaper than any materialization —
    checkpoint measured 3.7x slower on q31, eager persist 1.5-2.6x
    slower on q30/q31 at sf0.1. Multi-action composers that reuse the
    shingle table across actions should pin the RESULT frame they
    build from it, not this one."""
    hot = (
        shingled.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("s")
    )
    return shingled.join(F.broadcast(hot), "s", "left_anti")


def _with_jaccard(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Attach sizes + Jaccard to an (d1, d2, inter) pair table."""
    s1 = sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1")
    s2 = sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2")
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "inter",
            "sz1",
            "sz2",
            (
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """(d1, d2, inter, sz1, sz2, jaccard) for pairs sharing ≥1 shingle.
    Inverted-index self-join on the shingle key — the only shuffle keys
    are (s) then (d1, d2)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_jaccard(inter, sizes, threshold)


def verify_pairs(
    cand: DataFrame,
    sh: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate pair set only — the LSH
    companion: intersection counts come from equi-joining the
    candidate list against the shingle table twice, never from the
    full inverted-index self-join.

    NO forced broadcast of the candidate list (round-5 change): LSH
    candidates grow ~linearly with corpus size, so at 100 TB they are
    NOT broadcastable — the same hazard class as q38's removed hint.
    These are plain equi-joins on doc ids; AQE still broadcasts the
    list while it is genuinely small (fixtures) and falls back to a
    shuffle join when it isn't (absence of the forced hint is pinned
    by tests/test_plans.py).

    ``sizes`` lets a caller that already aggregates per-doc (q31's
    minhash signature groupBy) hand over the per-doc shingle count and
    save one full re-run of the shingle lineage — the shingle table is
    the expensive frame here, not the counts."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "s")
    s2 = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        cand.join(s1, "d1")
        .join(s2, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_jaccard(inter, sizes, threshold)


# DuckDB mirror of doc_shingles (+ sizes), reused by q30-q32 oracles.
_SH_CTES = f"""
    t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh0 AS (
        SELECT doc_id, s
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, len(toks) - {SHINGLE_N - 2}),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
              FROM t)
    ),
    sh AS (SELECT doc_id, s FROM sh0
           WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF})),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT d1, d2, inter, s1.sz AS sz1, s2.sz AS sz2,
               CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
        FROM pairs
        JOIN sizes s1 ON pairs.d1 = s1.doc_id
        JOIN sizes s2 ON pairs.d2 = s2.doc_id
    )
"""


# ---------------------------------------------------------------------------
# q29 — exact dedup on the canonical bag-of-words key
# ---------------------------------------------------------------------------


def with_keep_first(df: DataFrame, key: str, id_col: str = "doc_id") -> DataFrame:
    """Annotate every row with ``keep_id`` = min(``id_col``) within its
    ``key`` group — the keep-first primitive under q60's exact-dedup
    stage and the streaming corpus-prep screen. groupBy-min + equi-join
    back: AQE broadcasts the slim (key, keep_id) table, so the
    full-width frame is never shuffled, and AQE falls back to a
    shuffle join if the key table outgrows the broadcast threshold.
    The input lineage is evaluated by both join sides, so a caller
    that reads an expensive frame pins it first (q60 does; with that
    pin, q60 at sf0.1 times the same as with a ``min(id) over
    (partition by key)`` window: 2.62 vs 2.67 s median, local[4])."""
    # Null-safe equi-join (<=>) so null keys form one group, as a
    # window partition would, instead of silently dropping rows —
    # Catalyst still extracts EqualNullSafe as an equi-join key, so the
    # slim table broadcasts the same as plain equality.
    if "_kf_key" in df.columns:
        raise ValueError("with_keep_first reserves column name '_kf_key'")
    keep1 = (
        df.groupBy(key)
        .agg(F.min(id_col).alias("keep_id"))
        .withColumnRenamed(key, "_kf_key")
    )
    joined = df.join(keep1, F.col(key).eqNullSafe(F.col("_kf_key")))
    return joined.select(*df.columns, "keep_id")


@query(
    "q29_exact_dedup_groups",
    declared=False,  # rotation-pool member since r6 (pairs with q77;
    # family Q19 keeps q30/q31/q32 in the static tier every phase)
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      array_to_string(list_sort(list_distinct({_DUCK_TOKS})), ' ') AS k
               FROM documents)
    SELECT MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_dups,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM t
    GROUP BY k
    HAVING COUNT(*) > 1
    ORDER BY 1
    """,
)
def q29_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups under a canonical key (sorted distinct
    token bag) — one hash-aggregate on the derived key; the cheapest
    dedup tier and the template for any exact content-hash dedup."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    docs = doc_tokens_frame(spark, sf_dir)
    key = F.array_join(F.sort_array(F.array_distinct(F.col("toks"))), " ")
    return (
        docs.select(F.col("doc_id"), key.alias("k"))
        .groupBy("k")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_dups") > 1)
        .select("canonical_id", "n_dups", "members")
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# q30 — shingle-Jaccard near-duplicate pairs (inverted index)
# ---------------------------------------------------------------------------


@query(
    "q30_jaccard_pairs",
    oracle=f"""
    WITH {_SH_CTES}
    SELECT d1, d2, inter, sz1, sz2, jaccard
    FROM jac
    WHERE jaccard >= 0.5
    ORDER BY d1, d2
    """,
)
def q30_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-shingle Jaccard ≥ 0.5.
    Candidates come from an inverted-index equi-join on the shingle
    (docs sharing zero shingles are never paired), with hot shingles
    df-capped — the plan is linear in Σ shingles, not |docs|². The
    pair frame is :func:`near_dup_pair_frame` (q32/q77/q80 consume the
    same lineage)."""
    return near_dup_pair_frame(spark, sf_dir).orderBy("d1", "d2")


# ---------------------------------------------------------------------------
# q31 — MinHash + LSH banding, Jaccard-verified
# ---------------------------------------------------------------------------

_MINS_SQL = ", ".join(
    f"MIN(({_mh_a(i)} * hs + {_mh_b(i)}) % {MH_P}) AS m{i}" for i in range(MH_K)
)
_BANDS_SQL = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, m{2*b}::VARCHAR || ':' || m{2*b+1}::VARCHAR AS bkey FROM mins"
    for b in range(MH_BANDS)
)


def minhash_components(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m{k-1}, sz) — the seeded affine MinHash signature
    over the md5 token hash, with the per-doc shingle count riding the
    same aggregation (one shuffle). Factored round 14 (the _SH_CTES
    one-copy discipline): q31 generates candidates from it, q93 audits
    its calibration — a drifted copy would surface only as a later
    rotation-round hash failure."""
    shh = sh.select("doc_id", token_hash32(F.col("s")).alias("hs"))
    return shh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_mh_a(i)) * F.col("hs") + F.lit(_mh_b(i))) % MH_P
            ).alias(f"m{i}")
            for i in range(MH_K)
        ],
        F.count(F.lit(1)).alias("sz"),
    )


def minhash_band_candidates(mins: DataFrame) -> DataFrame:
    """(d1, d2) candidate pairs sharing >=1 LSH band over a
    :func:`minhash_components` frame — q31's banding join, factored
    (round 14) so q93's calibration audit runs over EXACTLY the pair
    universe q31 verifies. One explode instead of a band-count union
    (which would recompute the signature aggregation once per band);
    not pinned: both self-join sides canonicalize to the SAME
    aggregation exchange, so ReusedExchange runs the signature shuffle
    once within the action (round-6 A/B — a localCheckpoint here cost
    3.7x at sf0.1)."""
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            F.col(f"m{2*b}").cast("string"),
                            F.col(f"m{2*b+1}").cast("string"),
                        ).alias("bkey"),
                    )
                    for b in range(MH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")
    a = bands.alias("a")
    bb = bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_family_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sh, mins, cand) — the df-capped shingle table, the MinHash
    signature table (with per-doc sz), and the LSH banding candidate
    pairs: the one family lineage q31 verifies and q93 calibrates
    ("one lineage, two views"). sh and mins each feed several
    consumers, so both are pinned (cold qprof A/B at sf0.1, q31/q93
    medians: checkpoint 4.27/3.99 s, persist 4.47/4.45 s, off
    4.61/5.20 s)."""
    sh = pin(doc_shingles(table(spark, sf_dir, "documents")))
    mins = pin(minhash_components(sh))
    return sh, mins, minhash_band_candidates(mins)


@query(
    "q31_minhash_lsh_pairs",
    # demoted from the static tier in round 14: q31 now shares a
    # rotation slot with q93 (its own estimator-calibration audit —
    # one lineage, two views); family Q19 keeps q30/q32 declared
    # every phase.
    declared=False,
    oracle=f"""
    WITH {_SH_CTES},
    shh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hs FROM sh),
    mins AS (SELECT doc_id, {_MINS_SQL} FROM shh GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT jac.d1, jac.d2, jac.inter, jac.sz1, jac.sz2, jac.jaccard
    FROM cand JOIN jac ON cand.d1 = jac.d1 AND cand.d2 = jac.d2
    WHERE jac.jaccard >= 0.4
    ORDER BY 1, 2
    """,
)
def q31_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=8) → 4-band LSH → candidate pairs → exact-Jaccard
    verification at 0.4. The banding join is the scale path: candidate
    volume tracks true-duplicate volume, not |docs|². Seeded affine
    hash family over the md5 token hash keeps the signature — and
    therefore the whole query — oracle-reproducible."""
    # count(1) rides the signature groupBy (minhash_components): the
    # per-doc shingle size verify_pairs needs comes out of THAT
    # aggregation instead of a fourth full run of the shingle lineage.
    # sh/mins/cand come from the family lineage q93 audits too
    # (minhash_family_frames)
    sh, mins, cand = minhash_family_frames(spark, sf_dir)
    return verify_pairs(
        cand, sh, 0.4, sizes=mins.select("doc_id", "sz")
    ).orderBy("d1", "d2")


# DuckDB mirror of dedup_cluster_labels' component lineage (edges at
# Jaccard >= 0.5 -> undirected closure -> min-member label) — ONE copy
# shared by the q32 and q87 oracles, the _SH_CTES discipline one level
# up (round-12 review finding: two verbatim copies would let a
# threshold/labeling change drift them apart, surfacing only as a
# one-query hash failure in a later rotation round). Requires WITH
# RECURSIVE and the jac CTE from _SH_CTES.
_CLUSTER_CTES = """
    e AS (SELECT d1 AS u, d2 AS v FROM jac WHERE jaccard >= 0.5
          UNION ALL
          SELECT d2, d1 FROM jac WHERE jaccard >= 0.5),
    nodes AS (SELECT DISTINCT u FROM e),
    reach(u, r) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
    ),
    lbl AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)"""


# ---------------------------------------------------------------------------
# q32 — duplicate clustering: connected components
# ---------------------------------------------------------------------------

def near_dup_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1, d2, inter, sz1, sz2, jaccard) at Jaccard >= 0.5 — THE
    near-dup pair lineage (df-capped inverted index, q30 documents the
    plan) that q30 reports, q32/q77/q87 contract to clusters and q80
    propagates quality over. Each query builds it anew; across queries
    the durable form is the bucketed shingle index
    (streaming/near_dup.py)."""
    return jaccard_pairs(doc_shingles(table(spark, sf_dir, "documents")), 0.5)


def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document that appears in the
    Jaccard≥0.5 near-dup pair graph; cluster id is the minimum member
    doc_id.

    THE single copy of the shingle → Jaccard-pair → star-contraction
    lineage, shared by q32 (cluster report), q77 (leakage-safe split)
    and q87 (cluster-size histogram). At 100 TB the table graduates to
    a doc_id-bucketed saved table (the save/load_corpus_index pattern,
    streaming/near_dup.py)."""
    from eventsgateway_spark.queries._util import release_frame

    edges = near_dup_pair_frame(spark, sf_dir).select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    )
    cc = connected_components(edges)
    plain = cc.labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    # pinned: cold qprof A/B at sf0.1, q77/q87 medians checkpoint
    # 5.55/5.26 s against 6.27-6.61/5.41-6.05 s unpinned
    labels = pin(plain)
    if labels is not plain and cc.edges is not None:
        # labels is materialized, so the converged star forest's
        # checkpoint blocks are no longer reachable through any live
        # lineage — free them now (the per-round intermediates are
        # already freed inside connected_components); at fixture
        # scale pin() is identity and labels still reads them
        release_frame(cc.edges)
    return labels


@query(
    "q32_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SH_CTES},{_CLUSTER_CTES}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lbl
    ORDER BY doc_id
    """,
)
def q32_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters = connected components over the Jaccard≥0.5
    pair graph; cluster id is the minimum member doc_id.

    Components come from alternating large-star/small-star contraction
    (operators/components.py): O(log n) full-graph rounds regardless of
    component diameter, so a viral duplicate cluster — a long pairwise
    chain, the failure mode of the previous hash-to-min loop — cannot
    stall convergence at corpus scale. Iteration count on a synthetic
    giant chain is pinned by tests/test_components.py. The label table
    itself comes from :func:`dedup_cluster_labels`, shared with q77
    and q87."""
    labels = dedup_cluster_labels(spark, sf_dir)
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q39 — SimHash document signatures
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_sums_sql(bits: int) -> str:
    return ", ".join(
        f"SUM(CASE WHEN (hs >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )


def _simhash_expr_sql(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )


def _sig_ctes(bits: int) -> str:
    """DuckDB CTEs producing (doc_id, simhash) at ``bits`` width —
    shared by the q39 and q63 oracles."""
    return f"""
    t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 8))::BIGINT AS hs
            FROM (SELECT doc_id, unnest(toks) AS tk FROM t)),
    sums AS (SELECT doc_id, {_simhash_sums_sql(bits)} FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, {_simhash_expr_sql(bits)} AS simhash FROM sums)
"""


def simhash_sigs(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — the Charikar signature per doc: tokens vote
    +1/-1 per bit by their md5 hash bit (tf-weighted); the signature
    keeps the sign. One explode + one hash-aggregate, linear, no
    joins. Width is a fidelity knob: 16 bits for coarse grouping
    (q39), 32+ for bounded-Hamming matching (q63) — a narrow space
    saturates as the corpus grows (birthday effect) and everything
    looks 'near'."""
    from eventsgateway_spark.functions.text import has_pretokenized

    # A frame carrying a `toks` column is PRE-TOKENIZED (the doc_shingles
    # contract): the split is skipped.
    if has_pretokenized(docs):
        tok = docs.select("doc_id", F.explode("toks").alias("tk")).select(
            "doc_id", token_hash32(F.col("tk")).alias("hs")
        )
    else:
        tok = docs.select(
            "doc_id", F.explode(tokens("text")).alias("tk")
        ).select("doc_id", token_hash32(F.col("tk")).alias("hs"))
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.shiftright("hs", b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig_expr = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig_expr = term if sig_expr is None else sig_expr + term
    return sums.select("doc_id", sig_expr.alias("simhash"))


def simhash_sig_frame(
    spark: SparkSession, sf_dir: str, bits: int
) -> DataFrame:
    """(doc_id, simhash) at ``bits`` width over the documents fixture —
    q39 (16-bit) and q63 (32-bit)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_sigs(spread(docs), bits)


@query(
    "q39_simhash",
    declared=False,
    oracle=f"""
    WITH {_sig_ctes(SIMHASH_BITS)}
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS n_same
    FROM sig
    ORDER BY doc_id
    """,
)
def q39_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, see :func:`simhash_sigs`): exact-match grouping
    on the signature (n_same) is a content-dedup tier between exact
    hash and MinHash. Bounded-distance matching is q63."""
    sig = simhash_sig_frame(spark, sf_dir, SIMHASH_BITS)
    return sig.select(
        "doc_id",
        "simhash",
        F.count(F.lit(1)).over(Window.partitionBy("simhash")).alias("n_same"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q63 — SimHash near-dup pairs within a Hamming bound (Manku banding)
# ---------------------------------------------------------------------------

HAM_SIG_BITS = 32  # 32-bit signature: 500 random docs land ham≈16 apart
HAM_BANDS = 4  # 32 bits → 4 bands of 8 bits
HAM_MAX = 3  # pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 bands identical
_HAM_BAND_W = HAM_SIG_BITS // HAM_BANDS

_HAM_BANDS_SQL = "\n        UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band,"
    f" (simhash >> {_HAM_BAND_W * b}) & {(1 << _HAM_BAND_W) - 1} AS bval FROM sig"
    for b in range(HAM_BANDS)
)


@query(
    "q63_simhash_hamming_pairs",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_sig_ctes(HAM_SIG_BITS)},
    bands AS ({_HAM_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                    a.simhash AS h1, b.simhash AS h2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h1, h2)) <= {HAM_MAX}
    ORDER BY d1, d2
    """,
)
def q63_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ 3 — the
    Manku/Jain/Das Sarma web-dedup construction: split the 32-bit
    signature into 4 bands; any pair within Hamming 3 must agree on at
    least one whole band (pigeonhole), so candidate generation is an
    equi-join on (band, band_value) — never all-pairs — with EXACT
    recall for the distance bound. Verification is one integer
    popcount per candidate. The 32-bit width keeps the band-value
    space (2^8 per band) large enough that bucket occupancy — and so
    candidate volume — tracks true near-duplicates, not corpus size
    (16 bits saturates by the birthday effect: measured 40k spurious
    candidate pairs over 500 docs). Complements q31 (MinHash/Jaccard):
    SimHash catches small token-distribution edits that shift few
    bits."""
    # pin: both sides of the band self-join read the signature table
    # (cold qprof A/B at sf0.1: checkpoint 3.85 s, off 4.90 s,
    # persist 5.68 s medians)
    sig = pin(simhash_sig_frame(spark, sf_dir, HAM_SIG_BITS))
    return hamming_band_pairs(sig, "simhash", HAM_BANDS, _HAM_BAND_W, HAM_MAX)


def _is_wide_sig(df: DataFrame, sig_col: str) -> bool:
    """True when ``sig_col`` is a wide signature — ``array<bigint>``
    with one word per band (media_geometry_for_rows comment) — rather
    than a single <=62-bit BIGINT lane."""
    from pyspark.sql import types as T

    return isinstance(df.schema[sig_col].dataType, T.ArrayType)


def hamming_col(h1, h2, wide: bool):
    """Exact Hamming distance column between two signatures — the ONE
    copy of the verify expression (shared by hamming_band_pairs and
    media_dup.media_lookup_batch). BIGINT lane: one popcount of the
    XOR. Wide (array-per-band): per-word popcount summed with
    zip_with/aggregate — still whole-stage-codegen JVM expressions,
    no UDF."""
    h1, h2 = F.col(h1) if isinstance(h1, str) else h1, (
        F.col(h2) if isinstance(h2, str) else h2
    )
    if not wide:
        return F.bit_count(h1.bitwiseXOR(h2)).cast("bigint")
    return F.aggregate(
        F.zip_with(h1, h2, lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def banded_signatures(
    sig: DataFrame, sig_col: str, bands: int, band_w: int
) -> DataFrame:
    """(doc_id, sig, band, bval) — one row per (signature, band): the
    Manku band explode, factored out (round 13) so the batch pair
    join, the durable media-signature index (streaming/media_dup.py),
    and its lookup path all band signatures IDENTICALLY.

    BIGINT signatures (<= 62 bits) band by shift/mask — byte-identical
    to the round-13 plan. WIDE signatures (``array<bigint>``, one word
    per band — the derived-geometry tier past 62 total bits) band by
    ``element_at``; ANSI mode makes a wrong-length array a loud
    runtime error, never a silent empty band."""
    if _is_wide_sig(sig, sig_col):
        return sig.select(
            "doc_id",
            F.col(sig_col).alias("sig"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.element_at(F.col(sig_col), b + 1).alias("bval"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "sig", "bk.band", "bk.bval")
    return sig.select(
        "doc_id",
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(sig_col, band_w * b)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.bval")


def hamming_band_pairs(
    sig: DataFrame, sig_col: str, bands: int, band_w: int, max_ham: int
) -> DataFrame:
    """(d1, d2, hamming) pairs within ``max_ham`` Hamming distance over
    a (doc_id, <sig_col>) signature frame — the ONE copy of the Manku
    pigeonhole banding (round 13; previously inlined in q63): split the
    ``bands*band_w``-bit signature into ``bands`` bands; any pair
    within Hamming ``bands - 1`` agrees on ≥1 whole band, so candidate
    generation is an equi-join on (band, band_value) — never all-pairs
    — with EXACT recall for the bound. Shared by q63 (32-bit SimHash,
    4×8) and q89 (56-bit image dHash, 7×8); wide ``array<bigint>``
    signatures (the derived-geometry tier, media_geometry_for_rows)
    band and verify through the same two factored expressions.
    Callers pin ``sig``: it fans out into every band branch of the
    self-join."""
    if max_ham > bands - 1:
        # ValueError (not assert) so the contract survives python -O,
        # matching build/save_media_index (ADVICE r13)
        raise ValueError(
            f"pigeonhole bound: max_ham={max_ham} needs >= {max_ham + 1} "
            f"bands, got {bands}"
        )
    wide = _is_wide_sig(sig, sig_col)
    banded = banded_signatures(sig, sig_col, bands, band_w)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.sig").alias("h1"),
            F.col("b.sig").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.select(
            "d1",
            "d2",
            hamming_col("h1", "h2", wide).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_ham)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q72 — exact substring (token-window) dedup
# ---------------------------------------------------------------------------
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") deduplicates EXACT repeated substrings, which whole-doc
# (q29) and shingle-Jaccard (q30) both miss: a long quote pasted into
# otherwise-distinct documents. The suffix-array formulation is
# sequential; the distributed shape is windowed hashing — every
# W-token window is hashed, repeated hashes are found with one
# hash-aggregate, and ownership is keep-first (the smallest doc_id
# carrying the window). Per-doc output: how much of the doc is covered
# by windows some smaller doc also contains.

SUBSTR_W = 8  # window width in tokens (fixture docs are ~30 tokens)

@query(
    "q72_substring_dedup",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    w AS (SELECT doc_id,
                 unnest(list_transform(
                     range(1, len(toks) - {SUBSTR_W - 2}),
                     i -> md5(array_to_string(list_slice(toks, i, i + {SUBSTR_W - 1}), ' ')))) AS h
          FROM t WHERE len(toks) >= {SUBSTR_W}),
    dw AS (SELECT DISTINCT doc_id, h FROM w),
    owner AS (SELECT h, MIN(doc_id) AS owner_id FROM dw GROUP BY 1),
    per_doc AS (
        SELECT dw.doc_id,
               COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN o.owner_id < dw.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_borrowed,
               MIN(CASE WHEN o.owner_id < dw.doc_id THEN o.owner_id END)
                   AS min_source_id
        FROM dw JOIN owner o USING (h)
        GROUP BY 1
    )
    SELECT doc_id, n_windows, n_borrowed,
           COALESCE(min_source_id, -1) AS min_source_id,
           CASE WHEN 2 * n_borrowed >= n_windows THEN 1 ELSE 0 END AS dropped
    FROM per_doc
    ORDER BY doc_id
    """,
)
def q72_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring audit: for every doc, how many of its
    distinct 8-token windows already occur in a smaller-id document
    (keep-first ownership), and a drop verdict when >=50% of the doc's
    windows are borrowed — the distributed analog of suffix-array
    substring dedup. Shape: window explode (md5 of the joined slice) →
    ownership as ``min(doc_id) over (partition by h)`` → one (doc)
    aggregate. All equi-keyed; linear in corpus tokens. The window
    ownership is ONE evaluation of the input and ONE shuffle; a window
    partition is one indivisible task, and SCALE.md bounds it at 270k
    rows per hot ``h`` (still 1.7x faster than a groupBy-min join-back
    there)."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    toks = doc_tokens_frame(spark, sf_dir).select("doc_id", "toks")
    # The short-doc guard lives INSIDE the generator (null -> no rows)
    # instead of a filter: `filter(size(toks) >= W)` gets predicate-
    # pushed below the toks projection, re-inlining the tokenization
    # and tokenizing every document twice (plan audit, test_plans.py).
    w = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= SUBSTR_W,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (SUBSTR_W - 1)),
                        lambda i: F.md5(
                            F.concat_ws(
                                " ", F.slice("toks", i, SUBSTR_W)
                            )
                        ),
                    )
                ),
            )
        ).alias("h"),
    )
    owned = w.withColumn("owner_id", F.min("doc_id").over(Window.partitionBy("h")))
    per_doc = (
        owned.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("owner_id") < F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_borrowed"),
            F.min(
                F.when(F.col("owner_id") < F.col("doc_id"), F.col("owner_id"))
            ).alias("min_source_id"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_borrowed",
        F.coalesce("min_source_id", F.lit(-1)).alias("min_source_id"),
        F.when(2 * F.col("n_borrowed") >= F.col("n_windows"), 1)
        .otherwise(0)
        .alias("dropped"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q80 — quality propagation over the near-dup graph (damped, integer-exact)
# ---------------------------------------------------------------------------

_PROP_ITERS = 3
# one unrolled DuckDB iteration: n{i} -> n{i+1}. CAST every aggregate
# back to BIGINT — DuckDB widens SUM(BIGINT) to HUGEINT, which would
# drift the schema from Spark's long.
_PROP_IT = """
    n{b} AS (
        SELECT na.doc_id, na.s0, na.deg,
               CASE WHEN na.deg = 0 THEN na.s0
                    ELSE CAST((850 * c.csum + 150 * na.s0) // 1000 AS BIGINT)
               END AS s
        FROM n{a} na LEFT JOIN (
            SELECT e.d2 AS doc_id, CAST(SUM(u.s // u.deg) AS BIGINT) AS csum
            FROM e JOIN n{a} u ON u.doc_id = e.d1
            GROUP BY 1) c USING (doc_id)
    )"""


@query(
    "q80_quality_propagation",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_SH_CTES},
    e0 AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
    e AS (SELECT d1, d2 FROM e0 UNION ALL SELECT d2 AS d1, d1 AS d2 FROM e0),
    seed AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS s0 FROM t),
    deg AS (SELECT d1 AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    n0 AS (SELECT seed.doc_id, s0, COALESCE(deg, 0) AS deg, s0 AS s
           FROM seed LEFT JOIN deg USING (doc_id)),
    {','.join(_PROP_IT.format(a=i, b=i + 1) for i in range(_PROP_ITERS))}
    SELECT doc_id, deg, s0, s AS s{_PROP_ITERS}
    FROM n{_PROP_ITERS}
    ORDER BY doc_id
    """,
)
def q80_quality_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped quality propagation over the near-duplicate graph — the
    curation step that spreads a per-document quality signal through
    duplicate clusters (a doc surrounded by low-quality near-dups is
    suspect even if its own score is fine; the PageRank-style damping
    keeps the fixed point anchored to each doc's own seed). Seed
    score = token count; edges = q30's exact-Jaccard >= 0.5 pairs;
    {_PROP_ITERS} damped iterations of

        s'(v) = (850 * SUM over u~v of (s(u) div deg(u))
                 + 150 * s0(v)) div 1000

    with isolated docs (deg 0) holding their seed. ALL-INTEGER math —
    per-neighbor contributions integer-divide before the sum, so the
    cross-row reduction is order-free and the result hash-exact vs the
    DuckDB oracle (same discipline as q71's micro-nat rounding).

    Physical shape at 100 TB: one tokenized projection feeds seed AND
    shingles (single corpus scan); edge generation is q30's df-capped
    inverted index (linear in total shingles, never all-pairs); each
    iteration is ONE shuffle keyed by neighbor id + one join back on
    doc_id — the standard distributed PageRank step, with the edge and
    node tables pin-materialized once so the {_PROP_ITERS}-iteration
    DAG re-reads them instead of re-deriving the shingle self-join
    per iteration. The pair join itself is :func:`near_dup_pair_frame`
    (q30's lineage)."""
    return quality_propagation(
        table(spark, sf_dir, "documents"),
        edges0=near_dup_pair_frame(spark, sf_dir).select("d1", "d2"),
        # cold qprof A/B at sf0.1 (medians): checkpoint 8.0 s, persist
        # 11.1 s, off 11.3 s; the streaming index-backed caller keeps
        # the default persist
        pin_mode="checkpoint",
    )


def quality_propagation(
    docs: DataFrame,
    edges0: DataFrame | None = None,
    iters: int = _PROP_ITERS,
    pin_mode: str = "persist",
) -> DataFrame:
    """q80's body over an explicit docs frame. ``edges0`` lets an
    index-backed caller supply the (d1, d2) near-dup pairs from a
    DURABLE shingle table (``streaming.near_dup.
    propagate_quality_with_index``) — at corpus scale the saved table
    is bucketed on the shingle key, so the pair self-join is
    bucket-local instead of re-deriving shingles from text and
    reshuffling the corpus. Defaults derive edges exactly as q80
    documents (q30's df-capped inverted index at Jaccard >= 0.5)."""
    from eventsgateway_spark.functions.text import has_pretokenized

    if has_pretokenized(docs):
        toked = docs.select("doc_id", "toks")
    else:
        toked = spread(docs.select("doc_id", "text")).select(
            "doc_id", tokens("text").alias("toks")
        )
    if edges0 is None:
        sh = doc_shingles(toked)  # pre-tokenized path: no second split
        edges0 = jaccard_pairs(sh, 0.5).select("d1", "d2")
    edges = pin(
        edges0.union(
            edges0.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
        ),
        pin_mode,
    )
    seed = toked.select("doc_id", F.size("toks").cast("bigint").alias("s0"))
    deg = edges.groupBy(F.col("d1").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nodes = pin(
        seed.join(deg, "doc_id", "left").select(
            "doc_id",
            "s0",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
        ),
        pin_mode,
    )
    cur = nodes.withColumn("s", F.col("s0"))
    for _ in range(iters):
        contrib = (
            edges.join(
                # deg=0 docs can never match an edge, but the division
                # is evaluated BELOW the join on whatever side the
                # planner picks — filter them out first or ANSI mode
                # (Spark 4 default) throws DIVIDE_BY_ZERO for plans
                # that evaluate the projection before matching
                cur.filter(F.col("deg") > 0).select(
                    F.col("doc_id").alias("d1"),
                    F.expr("s div deg").alias("c"),
                ),
                "d1",
            )
            .groupBy(F.col("d2").alias("doc_id"))
            .agg(F.sum("c").cast("bigint").alias("csum"))
        )
        cur = (
            nodes.join(contrib, "doc_id", "left")
            .withColumn(
                "s",
                F.when(F.col("deg") == 0, F.col("s0")).otherwise(
                    F.expr("(850 * csum + 150 * s0) div 1000")
                ),
            )
            .drop("csum")
        )
    return cur.select(
        "doc_id", "deg", "s0", F.col("s").alias(f"s{iters}")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q87 — duplicate-cluster size histogram (the dedup yield report)
# ---------------------------------------------------------------------------


@query(
    "q87_cluster_size_histogram",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH RECURSIVE {_SH_CTES},{_CLUSTER_CTES},
    csz AS (SELECT cluster_id, COUNT(*) AS sz FROM lbl GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           MIN(cluster_id) AS example_cluster_id
    FROM csz
    GROUP BY 1
    ORDER BY 1
    """,
)
def q87_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-dup cluster sizes — the dedup YIELD report
    every corpus run reads first: how many 2-doc mirrors vs viral
    N-doc clusters exist, and how many documents each size class
    removes (keep-first drops ``n_docs - n_clusters`` per row). Rides
    THE shared cluster lineage (``dedup_cluster_labels`` — the same
    lineage q32/q77 consume), then two tiny hash
    aggregates: cluster_id → size, size → (n_clusters, n_docs). Scale
    shape: the histogram is ≤ max-cluster-size rows — nothing
    corpus-grain crosses the second shuffle; no window, no join after
    the label table. ``example_cluster_id`` (min per class) keeps the
    output deterministic and gives an auditor a concrete cluster to
    pull."""
    labels = dedup_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.min("cluster_id").alias("example_cluster_id"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# q89 — perceptual-hash (dHash) image near-dup pairs (round 13)
# ---------------------------------------------------------------------------
# VERDICT r12 #3: the multimodal tier (Q20) decodes images natively but
# near-duplicate IMAGES (re-encoded, resized, lightly-edited copies)
# passed through the dedup family (Q19) untouched. q89 closes that:
# dHash-56 signatures over REAL binary-PPM decode (operators/
# multimodal.py), then the same Manku banding as q63. The reference
# delegates all dedup downstream (README.md:11-17); this is the
# LLM-pipeline image half of that mandate.

IMG_HAM_BANDS = 7  # 56 bits -> 7 bands of 8
IMG_HAM_MAX = 6  # pigeonhole: <=6 differing bits => >=1 band identical
_IMG_BAND_W = 8

# Size-derived Manku banding geometry (round 15 — VERDICT r14 #2, the
# last documented scale-killer). With a FIXED geometry the per-lookup
# candidate volume has a birthday floor of n_q x N x bands / 2^band_w —
# LINEAR in corpus size (measured: scaleprobe --media, SCALE.md
# round-14). Holding per-lane bucket occupancy ~constant requires
# band_w ~ log2(N / occ): one band_w step per corpus doubling past the
# floor threshold — the exact discipline of the q34/q38 plane ladder
# (ext_similarity.planes_for_rows) applied to Hamming banding.
#
# Two hard constraints the LSH ladder does not have:
# - Pigeonhole: the Hamming-``max_ham`` recall guarantee needs
#   ``bands >= max_ham + 1`` whole bands, so ``bands`` NEVER shrinks as
#   band_w grows — the signature must WIDEN to bands x band_w bits.
#   Past 62 total bits a single BIGINT lane can't hold it; wide
#   signatures are ``array<bigint>`` with ONE word per band (element b
#   = band b's value), which keeps banding a pure ``element_at`` and
#   the Hamming verify an exact per-word popcount sum. The fixed
#   56-bit dhash/afp tier (q89/q90/q91/q92 and their DuckDB mirrors)
#   is the FLOOR geometry: at every fixture/oracle scale the ladder
#   returns (7, 8) and the BIGINT path is byte-identical, so every
#   oracle constant and driver hash is unchanged.
# - The hash must actually HAVE bands x band_w informative bits:
#   operators/multimodal.dhash_geom / afp_geom produce the wide
#   signatures (one grid row / energy window per band).
MEDIA_TARGET_LANE_OCC = 64
# band_w growth cap: past ~2^24 lanes per band the bval domain
# outgrows any realistic per-band information content (a 25-wide dhash
# grid row); candidates then scale with true near-dup mass only.
_MEDIA_BAND_W_CAP = 24


def media_band_w_for_rows(est_rows: int, floor_band_w: int = _IMG_BAND_W) -> int:
    """Smallest ``w >= floor_band_w`` with ``2^w x MEDIA_TARGET_LANE_OCC``
    covering ``est_rows`` (capped) — the pure ladder, unit-tested at
    its boundaries like planes_for_rows. Floor threshold: 2^8 x 64 =
    16384 estimated signatures; every fixture corpus sits far below."""
    w = floor_band_w
    while w < _MEDIA_BAND_W_CAP and (1 << w) * MEDIA_TARGET_LANE_OCC < est_rows:
        w += 1
    return w


def media_geometry_for_rows(
    est_rows: int, max_ham: int = IMG_HAM_MAX
) -> tuple[int, int]:
    """Derived ``(bands, band_w)`` for a corpus of ``est_rows``
    signatures at Hamming bound ``max_ham``: bands is pinned by the
    pigeonhole guarantee (``max(IMG_HAM_BANDS, max_ham + 1)`` — growing
    band_w NEVER buys back a band), band_w rides the occupancy ladder.
    Total signature width is ``bands x band_w`` bits; above 62 the
    signature is an ``array<bigint>`` word per band (module comment)."""
    bands = max(IMG_HAM_BANDS, max_ham + 1)
    return bands, media_band_w_for_rows(est_rows)

# DuckDB mirror of the synthetic-image dHash: the fixture's pixel
# formula (operators/multimodal._synth_pixel_vals — change both or
# neither) evaluated directly at the 8x8 resized grid's even full-res
# coords (Y=2y, X=2x; the nearest-neighbor gather (i*16)//8 = 2i), so
# the oracle needs no byte decode while the Spark side round-trips
# every pixel through encode_ppm -> parse_ppm -> _nn_resize.
_IMG_SIG_CTES = """
    g AS (SELECT doc_id, doc_id // 10 AS b, doc_id % 10 AS l FROM documents),
    px AS (
      SELECT doc_id, y, x, ((s*s + s) % 65521) % 256 AS v
      FROM (
        SELECT g.doc_id, t.y, u.x,
               (g.b*131 + t.y*2*37 + u.x*2*11 +
                CASE WHEN (t.y*31 + u.x*17) % 41 < g.l
                     THEN 977*(1 + (t.y*26 + u.x*14) % 31) ELSE 0 END
               ) % 65521 AS s
        FROM g, range(8) t(y), range(8) u(x))
    ),
    bits AS (
      SELECT a.doc_id, a.y, a.x,
             CASE WHEN a.v < r.v THEN 1 ELSE 0 END AS bit
      FROM px a JOIN px r ON r.doc_id = a.doc_id AND r.y = a.y
                         AND r.x = a.x + 1
      WHERE a.x < 7
    ),
    sig AS (SELECT doc_id,
                   CAST(SUM(bit * (1::BIGINT << (y*7 + x))) AS BIGINT) AS dh
            FROM bits GROUP BY doc_id)
"""

def _ham_pairs_oracle(sig_ctes: str, bands: int, band_w: int, max_ham: int) -> str:
    """DuckDB mirror of :func:`hamming_band_pairs` over a caller-
    provided CTE chain ending in ``sig(doc_id, dh)`` — the ONE oracle
    copy of the banding construction, shared by q89 (image dHash) and
    q90 (audio fingerprint)."""
    bands_sql = "\n        UNION ALL ".join(
        f"SELECT doc_id, dh, {b} AS band,"
        f" (dh >> {band_w * b}) & {(1 << band_w) - 1} AS bval FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH {sig_ctes},
    bands AS ({bands_sql}),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                    a.dh AS h1, b.dh AS h2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h1, h2)) <= {max_ham}
    ORDER BY d1, d2
    """


def media_sigs(spark: SparkSession, sf_dir: str, modality: str) -> DataFrame:
    """(doc_id, dhash|afp) — THE perceptual-signature lineage per
    modality (the synth+decode+hash mapInPandas chain), consumed by
    q89/q92 (image), q90 (audio) and q91 (both)."""
    builder = {"image": _image_sigs, "audio": _audio_sigs}[modality]
    return builder(spark, sf_dir)


def media_band_pairs(spark: SparkSession, sf_dir: str, modality: str) -> DataFrame:
    """(d1, d2, hamming) — THE Manku banded near-dup pair frame per
    modality (q89/q90's exact construction; q91 joins both). The
    signatures are pinned: both sides of the band self-join read them,
    and unpinned each side re-runs the mapInPandas chain (no exchange
    reuse; q89-q91 ran about 2x slower)."""
    sig_col = {"image": "dhash", "audio": "afp"}[modality]
    return hamming_band_pairs(
        pin(media_sigs(spark, sf_dir, modality)), sig_col,
        IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX,
    )


@query(
    "q89_image_dhash_near_dup",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=_ham_pairs_oracle(_IMG_SIG_CTES, IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX),
)
def q89_image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual hash (dHash-56) within
    Hamming ≤ 6 — the multimodal member of the dedup family. One
    synthetic 16x16 grayscale binary-PPM asset per document (planted
    near-dup groups with a measured 0→~12-bit Hamming gradient; see
    operators/multimodal.synthetic_doc_images) flows through the REAL
    decode tier: encode_ppm → mapInPandas parse_ppm → integer-mean
    grayscale → nearest-neighbor 8x8 → 56-bit adjacent-pixel hash
    (dhash56; pure integer math, so the DuckDB oracle reproduces every
    signature from the pixel formula alone — the whole binary
    round-trip is hash-checked). Pairing is the q63 Manku pigeonhole
    construction (hamming_band_pairs, 7 bands × 8 bits: ≤6 differing
    bits ⇒ ≥1 identical band — equi-join candidates, EXACT recall,
    never all-pairs). 100 TB shape: payloads die inside the map stage
    (only 8-byte signatures shuffle); candidate volume tracks band-
    bucket occupancy — true near-dups plus a 2^-8-per-band birthday
    floor — not corpus size. Invariance to NN-upscaling and lossless
    PPM↔PNG re-encode is pinned in tests/test_ext.py."""
    return media_band_pairs(spark, sf_dir, "image")


def _image_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash) for the synthetic image corpus — shared by
    q89 and q91 (callers pin)."""
    from eventsgateway_spark.operators.multimodal import (
        image_dhash,
        synthetic_doc_images,
    )

    docs = spread(table(spark, sf_dir, "documents").select("doc_id"))
    return image_dhash(synthetic_doc_images(docs)).select(
        F.col("asset_id").alias("doc_id"), F.col("dhash")
    )


# ---------------------------------------------------------------------------
# q90 — audio-fingerprint near-dup pairs (round 13, registered for the
# round-14 driver debut)
# ---------------------------------------------------------------------------
# The audio sibling of q89: re-encoded / re-amplified / channel-
# duplicated audio copies pass exact-hash dedup untouched; the 56-bit
# energy-envelope fingerprint (operators/multimodal.afp56 over the
# real stdlib-wave decode) collapses them to nearby signatures the
# shared Manku banding pairs up. Same 7×8 banding, same ≤6 bound.

# DuckDB mirror of the synthetic-audio fingerprint: the fixture's
# sample formula (operators/multimodal._synth_audio_samples — change
# both or neither) evaluated per (doc_id, sample index); per-frame L1
# energies, adjacent-frame comparisons, 56-bit signature. The Spark
# side round-trips every sample through encode_wav -> parse_wav on the
# exact int16/2^15 lattice, so the oracle pins the whole audio decode
# tier bit-for-bit.
_AUDIO_SIG_CTES = """
    g AS (SELECT doc_id, doc_id // 10 AS b, doc_id % 10 AS l FROM documents),
    smp AS (
      SELECT doc_id, i // 8 AS fr,
             ABS(((t*t + t) % 65521) % 4096 - 2048) AS a
      FROM (
        SELECT g.doc_id, r.i,
               (g.b*131 + r.i*37 +
                CASE WHEN ((r.i // 8)*31) % 41 < g.l
                     THEN 977*(1 + (r.i*13) % 31) ELSE 0 END
               ) % 65521 AS t
        FROM g, range(456) r(i))
    ),
    eng AS (SELECT doc_id, fr, SUM(a) AS e FROM smp GROUP BY 1, 2),
    bits AS (
      SELECT a.doc_id, a.fr, CASE WHEN a.e < n.e THEN 1 ELSE 0 END AS bit
      FROM eng a JOIN eng n ON n.doc_id = a.doc_id AND n.fr = a.fr + 1
      WHERE a.fr < 56
    ),
    sig AS (SELECT doc_id,
                   CAST(SUM(bit * (1::BIGINT << fr)) AS BIGINT) AS dh
            FROM bits GROUP BY doc_id)
"""


@query(
    "q90_audio_fingerprint_near_dup",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=_ham_pairs_oracle(_AUDIO_SIG_CTES, IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX),
)
def q90_audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs by energy-envelope fingerprint
    (afp56) within Hamming ≤ 6. One synthetic 456-sample mono PCM WAV
    asset per document (planted near-dup groups: the level re-
    randomizes ~l/41 of the 57 frames; measured 0→~11-bit gradient,
    cross-group ~29-31) flows through the REAL audio tier: encode_wav
    → mapInPandas parse_wav → exact integer-PCM recovery → per-frame
    L1 energies → 56-bit adjacent-comparison hash — pure integer math,
    so the DuckDB oracle reproduces every signature from the sample
    formula while the Spark side hash-checks the whole RIFF/WAVE
    round-trip. Pairing is the shared Manku construction
    (hamming_band_pairs, 7 bands × 8 bits — equi-join candidates,
    EXACT recall for the bound). 100 TB shape: identical to q89 —
    payloads die map-side, 8-byte signatures shuffle, candidate volume
    tracks band-bucket occupancy. Invariance to amplitude scaling,
    channel duplication, and lossless re-encode is pinned in
    tests/test_ext.py."""
    return media_band_pairs(spark, sf_dir, "audio")


def _audio_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, afp) for the synthetic audio corpus — shared by
    q90 and q91 (callers pin)."""
    from eventsgateway_spark.operators.multimodal import (
        audio_fingerprint,
        synthetic_doc_audio,
    )

    docs = spread(table(spark, sf_dir, "documents").select("doc_id"))
    return audio_fingerprint(synthetic_doc_audio(docs)).select(
        F.col("asset_id").alias("doc_id"), F.col("afp").alias("afp")
    )


# ---------------------------------------------------------------------------
# q91 — cross-modal duplicate consensus (round 13, registered for the
# round-14 driver debut)
# ---------------------------------------------------------------------------
# A multimodal corpus run reads the per-modality pair reports (q89
# image, q90 audio) through ONE consensus table: which near-dup pairs
# are flagged by both modalities (high-confidence removals — e.g. a
# re-encoded video clip matching on frames AND soundtrack) vs one
# (modality-specific edits). Full-outer equi-join of two already-
# banded pair sets — pair-grain, never corpus-grain.

_Q91_IMG_SQL = _ham_pairs_oracle(
    _IMG_SIG_CTES, IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX
)
_Q91_AUD_SQL = _ham_pairs_oracle(
    _AUDIO_SIG_CTES, IMG_HAM_BANDS, _IMG_BAND_W, IMG_HAM_MAX
)


@query(
    "q91_cross_modal_dup_consensus",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH img AS ({_Q91_IMG_SQL}),
         aud AS ({_Q91_AUD_SQL})
    SELECT COALESCE(img.d1, aud.d1) AS d1,
           COALESCE(img.d2, aud.d2) AS d2,
           COALESCE(img.hamming, -1) AS img_ham,
           COALESCE(aud.hamming, -1) AS aud_ham,
           (CASE WHEN img.hamming IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN aud.hamming IS NOT NULL THEN 1 ELSE 0 END)
             AS n_modalities
    FROM img FULL OUTER JOIN aud
      ON img.d1 = aud.d1 AND img.d2 = aud.d2
    ORDER BY 1, 2
    """,
)
def q91_cross_modal_dup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup pair, which modalities flag it: full-outer join of
    the image (q89 lineage) and audio (q90 lineage) banded pair sets
    on (d1, d2), with ``n_modalities`` ∈ {1, 2} the consensus degree
    and -1 the sentinel for a modality that did not flag the pair
    (NULL in a BIGINT oracle column degrades to float64 in the
    comparison frame — the engine-wide sentinel convention). Both
    inputs are the EXACT q89/q90 constructions (``media_sigs`` +
    ``hamming_band_pairs``); the join is
    pair-grain (equi on two ints), so q91's marginal cost over its
    parents is one tiny shuffle. At 100 TB the pair tables are the
    already-reduced dedup reports — consensus never touches payloads
    or signatures again."""
    img = media_band_pairs(spark, sf_dir, "image").withColumnRenamed(
        "hamming", "img_h"
    )
    aud = media_band_pairs(spark, sf_dir, "audio").withColumnRenamed(
        "hamming", "aud_h"
    )
    j = img.join(aud, ["d1", "d2"], "full_outer")
    return (
        j.select(
            "d1",
            "d2",
            F.coalesce(F.col("img_h"), F.lit(-1)).cast("bigint").alias("img_ham"),
            F.coalesce(F.col("aud_h"), F.lit(-1)).cast("bigint").alias("aud_ham"),
            (
                F.when(F.col("img_h").isNotNull(), 1).otherwise(0)
                + F.when(F.col("aud_h").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("n_modalities"),
        )
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# q92 — media band-occupancy audit (round 13)
# ---------------------------------------------------------------------------
# The candidate-volume contract of the Manku banding as a hash-checked
# row — the q85 (LSH tables) / q86 (IVF cells) operational audit,
# extended to the media-signature family: per band, how many buckets
# are occupied, how big the hottest bucket is, and Σocc² (exactly the
# per-band candidate-join volume). At 100 TB this is the report an
# operator reads before trusting a lookup's latency — a viral dup
# cluster shows up as max_occ, and Σocc² IS the join cost.

_Q92_BANDS_SQL = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band,"
    f" (dh >> {_IMG_BAND_W * b}) & {(1 << _IMG_BAND_W) - 1} AS bval FROM sig"
    for b in range(IMG_HAM_BANDS)
)


@query(
    "q92_media_band_stats",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_IMG_SIG_CTES},
    bands AS ({_Q92_BANDS_SQL}),
    occ AS (SELECT band, bval, COUNT(*) AS n
            FROM bands GROUP BY 1, 2)
    SELECT band,
           COUNT(*) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_sigs,
           CAST(MAX(n) AS BIGINT) AS max_occ,
           CAST(SUM(n * n) AS BIGINT) AS sum_occ_sq
    FROM occ
    GROUP BY 1
    ORDER BY 1
    """,
)
def q92_media_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket occupancy of the image-dHash Manku banding
    (q89's candidate-generation layout; q90/q91 and the durable
    media index share the geometry): (band, n_buckets, n_sigs,
    max_occ, sum_occ_sq). ``sum_occ_sq`` is the exact per-band
    candidate-join volume (Σ over buckets of occ²) — the number the
    2^-band_w birthday floor bounds and the media index's
    ``bucket_skew`` signal summarizes; ``n_sigs`` is constant across
    bands (every signature lands in every band — an audit invariant
    the oracle hash pins). Shape: the banded frame is map-side, the
    two aggregates are (band, bval)- then band-grain — nothing
    corpus-grain shuffles twice (the q85/q86 discipline)."""
    banded = banded_signatures(
        media_sigs(spark, sf_dir, "image"), "dhash",
        IMG_HAM_BANDS, _IMG_BAND_W,
    )
    occ = banded.groupBy("band", "bval").agg(F.count(F.lit(1)).alias("n"))
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").cast("bigint").alias("n_sigs"),
            F.max("n").cast("bigint").alias("max_occ"),
            F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_occ_sq"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q93 — MinHash estimator calibration audit (round 14)
# ---------------------------------------------------------------------------
# The q85/q86/q92 audit discipline applied to the MinHash ESTIMATOR
# itself: q31 trusts that matching-component fraction ~ Jaccard (the
# Broder 1997 unbiasedness claim) when it bands signatures, but the
# engine never MEASURED its own hash family's calibration. This query
# reports, for every LSH candidate pair (exactly q31's pair universe —
# shared minhash_components / minhash_band_candidates lineage), the
# exact-Jaccard distribution at each matching-component count k=2..8:
# a mis-seeded or correlated hash family shows up as avg_jac_ppm NOT
# increasing in est_matches, as a hash-checked driver row instead of a
# silent recall loss. Reference anchor: the reference delegates dedup
# quality wholesale (README.md:11-17); an estimator the pipeline
# cannot audit is an estimator it cannot trust at 100 TB.


@query(
    "q93_minhash_calibration",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH {_SH_CTES},
    shh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hs FROM sh),
    mins AS (SELECT doc_id, {_MINS_SQL} FROM shh GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    est AS (SELECT c.d1, c.d2,
                   ({" + ".join(f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END" for i in range(MH_K))}) AS est_matches
            FROM cand c
            JOIN mins x ON x.doc_id = c.d1
            JOIN mins y ON y.doc_id = c.d2),
    px AS (SELECT c.d1, c.d2, COALESCE(p.inter, 0) AS inter,
                  s1.sz AS sz1, s2.sz AS sz2
           FROM cand c
           LEFT JOIN pairs p ON p.d1 = c.d1 AND p.d2 = c.d2
           JOIN sizes s1 ON s1.doc_id = c.d1
           JOIN sizes s2 ON s2.doc_id = c.d2),
    pp AS (SELECT e.est_matches,
                  px.inter * 1000000 // (px.sz1 + px.sz2 - px.inter) AS jac_ppm
           FROM est e JOIN px ON px.d1 = e.d1 AND px.d2 = e.d2)
    SELECT CAST(est_matches AS BIGINT) AS est_matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(jac_ppm) // COUNT(*) AS BIGINT) AS avg_jac_ppm,
           CAST(MIN(jac_ppm) AS BIGINT) AS min_jac_ppm,
           CAST(MAX(jac_ppm) AS BIGINT) AS max_jac_ppm
    FROM pp
    GROUP BY 1
    ORDER BY 1
    """,
)
def q93_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the seeded MinHash family (comment block
    above): per matching-component count over q31's candidate pairs,
    the exact-Jaccard ppm distribution. All integer math (ppm via
    integer division BEFORE the cross-pair aggregation — order-free);
    candidates that share a band but zero shingles keep inter = 0 via
    the left join (they are the estimator's false positives — hiding
    them would bias the audit upward). Scale shape: the pair universe
    is the banding equi-join (never all-pairs), the exact-intersection
    join is verify_pairs' candidate-bounded shape, and the report is a
    7-row aggregate — nothing corpus-grain shuffles after the shingle
    stage."""
    # SIX consumers touch the shingle lineage here (bands a/b via the
    # candidate join, m1/m2 via the component-match branch, s1/s2 via
    # the exact-intersection branch) and the static plan inlines the
    # tokenize+md5 subtree into each (16 split() sites measured at
    # round-14 closing — AQE runtime reuse saved it only SOMETIMES:
    # 2.8 s floor with 9-15 s spikes in the same session), so the
    # family lineage pins sh and mins (minhash_family_frames — q31
    # verifies the same candidate universe this query calibrates).
    sh, mins, cand = minhash_family_frames(spark, sf_dir)
    m1 = mins.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(MH_K)],
        F.col("sz").alias("sz1"),
    )
    m2 = mins.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(MH_K)],
        F.col("sz").alias("sz2"),
    )
    est = (
        cand.join(m1, "d1")
        .join(m2, "d2")
        .select(
            "d1",
            "d2",
            "sz1",
            "sz2",
            sum(
                (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                for i in range(MH_K)
            ).alias("est_matches"),
        )
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), "s")
    s2 = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        cand.join(s1, "d1")
        .join(s2, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    pp = (
        est.join(inter, ["d1", "d2"], "left")
        .select(
            "est_matches",
            F.expr(
                "CAST(COALESCE(inter, 0) * 1000000"
                " div (sz1 + sz2 - COALESCE(inter, 0)) AS BIGINT)"
            ).alias("jac_ppm"),
        )
    )
    return (
        pp.groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr("CAST(SUM(jac_ppm) div COUNT(1) AS BIGINT)").alias(
                "avg_jac_ppm"
            ),
            F.min("jac_ppm").cast("bigint").alias("min_jac_ppm"),
            F.max("jac_ppm").cast("bigint").alias("max_jac_ppm"),
        )
        .select(
            F.col("est_matches").cast("bigint").alias("est_matches"),
            "n_pairs",
            "avg_jac_ppm",
            "min_jac_ppm",
            "max_jac_ppm",
        )
        .orderBy("est_matches")
    )
