"""[EXT] Corpus-curation operators — PII redaction, heuristic quality
rules, deterministic shard manifests, and BM25 retrieval over
``documents``. These are the remaining standard stages of an LLM
training-data pipeline not already covered by ext_text (stats/
chunking/decontamination), ext_dedup (near-dup) and ext_sampling
(splits): scrubbing, rule-based filtering, export planning, and
keyword retrieval for corpus inspection.

The reference hands everything downstream of ingestion to the
warehouse (README.md:11-17); these queries define that downstream
surface Spark-first.

Scale posture (see SCALE.md):
- q66/q67 are map-only scans + small hash aggregates (one shuffle to
  a handful of groups) — embarrassingly parallel at any corpus size.
  All regex/array work is JVM built-ins inside whole-stage codegen;
  no Python in the row path.
- q68 is one hash-partition shuffle on the shard key (exactly the
  shuffle a sharded training-data export performs anyway) + per-shard
  window; 32 shards of a 100 TB corpus are ~3 TB each, and the
  per-shard ordering key is a content hash, so the window sort is the
  export's required sort, not overhead.
- q69 filters the token stream to the query's terms BEFORE any
  shuffle (predicate on a literal array), so the aggregated state is
  |terms| x |matching docs|, not the corpus; corpus-level scalars
  (N, avgdl) ride 1-row broadcasts.

Cross-engine determinism: randomness-free; hashes are md5-folds (same
construction as ext_sampling); BM25 float work mirrors q25's contract
(identically-written expression trees, ROUND(...,4) projection, and a
fixed-order sum over per-term columns so no engine reorders a
floating-point reduction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eventsgateway_spark.functions.text import EN_STOPWORDS
from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import pin, spread, table

from eventsgateway_spark.queries._util import DUCK_TOKS as _DUCK_TOKS

# ---------------------------------------------------------------------------
# q66 — PII detection + redaction
# ---------------------------------------------------------------------------
# The fixture corpus is synthetic word-salad with no PII, so the query
# first plants deterministic PII (a pure function of doc_id, identical
# in both engines) into a subset of rows, then detects and redacts it.
# Patterns and redaction live in operators/curation.py (shared with
# the streaming curation path); the oracle SQL mirrors them verbatim.

from eventsgateway_spark.operators.curation import (  # noqa: E402
    EMAIL_RE as _EMAIL_RE,
    IP_RE as _IP_RE,
    MAX_TOKENS as _MAX_TOKENS,
    MIN_TOKENS as _MIN_TOKENS,
    PHONE_RE as _PHONE_RE,
    quality_flags,
    quality_metrics,
    redact_pii,
)

_DUCK_PLANT = """
        text
        || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                     || CAST(doc_id % 100 AS VARCHAR)
                ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
"""


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append synthetic PII to a subset of docs."""
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                d % 5 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com now")),
            ).otherwise(""),
            F.when(
                d % 7 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (d % 256).cast("string"),
                    F.lit(".0."),
                    (d % 100).cast("string"),
                ),
            ).otherwise(""),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((d % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ),
    )


_DUCK_REDACT = (
    "regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{_EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{_PHONE_RE}', '<PHONE>', 'g'),"
    f" '{_IP_RE}', '<IP>', 'g')"
)


@query(
    "q66_pii_redaction",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id, source, ({_DUCK_PLANT}) AS text FROM documents
    ),
    per_doc AS (
        SELECT source,
               len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(text, '{_IP_RE}')) AS n_ip,
               len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
               length(text) - length({_DUCK_REDACT}) AS chars_removed
        FROM planted
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_ip) AS BIGINT) AS ips,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q66_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: per source, how many docs carried PII, how
    many matches of each class, and how many characters redaction
    removed. Detection = ``regexp_extract_all`` counts; redaction =
    chained ``regexp_replace`` (global in both engines). Map-only
    scan + one aggregate to |sources| rows; everything JVM-side."""
    docs = _plant_pii(
        spread(
            table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        )
    )
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(_IP_RE), 0)).alias("n_ip"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phone"),
        (F.length("text") - F.length(redact_pii(F.col("text")))).alias("chars_removed"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("n_email").cast("bigint").alias("emails"),
            F.sum("n_ip").cast("bigint").alias("ips"),
            F.sum("n_phone").cast("bigint").alias("phones"),
            F.sum("chars_removed").cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q67 — heuristic quality-rule filter (Gopher-style)
# ---------------------------------------------------------------------------
# Rule thresholds follow the published Gopher/C4 heuristics (Rae et
# al. 2021 §A1.1; Raffel et al. 2020 §2.2), re-bounded for the
# fixture's ~30-token documents, defined in operators/curation.py. All
# comparisons are integer-scaled (sum_len >= 3*n instead of
# sum_len/n >= 3.0) so the oracle check is exact — no float division.

_EN_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@query(
    "q67_quality_rules",
    declared=False,  # rotation-pool member (pair with q78, odd phase)
    oracle=f"""
    WITH t AS (
        SELECT lang, {_DUCK_TOKS} AS toks FROM documents
    ),
    m AS (
        SELECT lang,
               len(toks) AS n_tok,
               len(list_distinct(toks)) AS n_uniq,
               -- COALESCE: list_sum([]) is NULL in DuckDB but the Spark
               -- fold starts at 0 — a zero-token doc must agree (0)
               COALESCE(list_sum([length(x) FOR x IN toks]), 0) AS sum_len,
               len([x FOR x IN toks IF x IN ({_EN_SQL})]) AS stop_hits
        FROM t
    ),
    flags AS (
        SELECT lang,
               CASE WHEN n_tok BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                    THEN 0 ELSE 1 END AS f_len,
               CASE WHEN sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok
                    THEN 0 ELSE 1 END AS f_word_len,
               CASE WHEN 10 * n_uniq >= 3 * n_tok THEN 0 ELSE 1 END AS f_uniq,
               CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END AS f_stop
        FROM m
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(f_len) AS BIGINT) AS fail_len,
           CAST(SUM(f_word_len) AS BIGINT) AS fail_word_len,
           CAST(SUM(f_uniq) AS BIGINT) AS fail_uniq,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stop,
           CAST(SUM(CASE WHEN f_len + f_word_len + f_uniq + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM flags
    GROUP BY lang
    ORDER BY lang
    """,
)
def q67_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pass/fail counts for four Gopher-style document
    quality rules: token-count bounds, mean-word-length bounds,
    unique-token ratio, and stopword presence. A doc is kept only if
    every rule passes. Map-only array math (size / array_distinct /
    aggregate / array filter) + one aggregate to |langs| rows."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    # tokens projected once before the four metric consumers
    # (quality_metrics docstring; plan audit in test_plans.py)
    toked = doc_tokens_frame(spark, sf_dir).select("lang", "toks")
    m = toked.select("lang", *quality_metrics(F.col("toks")))
    flags = m.select("lang", *quality_flags())
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_len").cast("bigint").alias("fail_len"),
            F.sum("f_word_len").cast("bigint").alias("fail_word_len"),
            F.sum("f_uniq").cast("bigint").alias("fail_uniq"),
            F.sum("f_stop").cast("bigint").alias("fail_stop"),
            F.sum(
                F.when(
                    F.col("f_len") + F.col("f_word_len") + F.col("f_uniq") + F.col("f_stop")
                    == 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_keep"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q68 — deterministic shard manifest (training-data export plan)
# ---------------------------------------------------------------------------

_N_SHARDS = 32
# Oracle modulus interpolated from the SAME constant as the Spark side
# so the two can never silently desync (ADVICE r4).
_DUCK_SHARD = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {_N_SHARDS}"
)
_DUCK_ORD = "substr(md5(CAST(doc_id AS VARCHAR)), 9, 8)"

# Scale rule: ~1 GiB of raw corpus per export shard. At fixture/bench
# scale (<32 GiB input) this floors at _N_SHARDS=32 — matching the
# oracle — while a 100 TB corpus gets ~100k shards, so the per-shard
# window sort stays a ~1 GiB single-task sort instead of ~3 TB.
_TARGET_SHARD_BYTES = 1 << 30


def shard_count(df: DataFrame) -> int:
    """Input-size-derived shard count: max(32, bytes/1GiB), capped at
    2^20. Shard ids are part of the RESULT, so an input of UNKNOWN
    size (createDataFrame, temp view — no measurable leaf files) falls
    back to the fixed oracle constant _N_SHARDS instead of the huge
    sentinel, which would silently diverge from the oracle's 32-shard
    layout (ADVICE r5)."""
    from eventsgateway_spark.queries._util import known_input_bytes

    b = known_input_bytes(df)
    if b is None:
        return _N_SHARDS
    return int(min(max(_N_SHARDS, b // _TARGET_SHARD_BYTES), 1 << 20))


def shard_of(key: F.Column, n_shards: int = _N_SHARDS) -> F.Column:
    """Stable shard id in [0, n_shards) from a key column — THE md5
    fold (functions.text.token_hash32), not a re-implementation:
    hash-split, shard assignment, and token hashing share one
    construction, and their oracles assume it stays in sync."""
    from eventsgateway_spark.functions.text import token_hash32

    return token_hash32(key.cast("string")) % n_shards


@query(
    "q68_shard_manifest",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, n_chars,
               {_DUCK_SHARD} AS shard,
               ROW_NUMBER() OVER (
                   PARTITION BY {_DUCK_SHARD}
                   ORDER BY {_DUCK_ORD}, doc_id) AS pos
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
           MIN(doc_id) AS min_doc_id,
           arg_min(doc_id, pos) AS first_doc_id
    FROM s
    GROUP BY shard
    ORDER BY shard
    """,
)
def q68_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard plan: every doc is assigned to one
    of 32 shards by content hash and given an interleave position by a
    SECOND, independent hash fold (chars 9-16 of the same md5) — the
    within-shard order is a reproducible global shuffle, uncorrelated
    with doc_id or ingest order, which is exactly what a training-data
    export needs (hash-bucketed files, shuffled within each). One
    shuffle on the shard key + per-shard window sort = the exact work
    the physical export would do; the manifest is 32 rows at fixture
    scale, and the shard count grows with input size (``shard_count``:
    ~1 GiB per shard) so each per-shard sort stays single-task-sized at
    any corpus scale."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ordkey = F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8)
    s = docs.select(
        "doc_id",
        "n_chars",
        shard_of(F.col("doc_id"), shard_count(docs)).alias("shard"),
        ordkey.alias("ord"),
    ).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("shard").orderBy("ord", "doc_id")),
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.min_by("doc_id", "pos").alias("first_doc_id"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q69 — BM25 keyword retrieval
# ---------------------------------------------------------------------------
# Lucene-variant BM25 (Robertson/Sparck-Jones idf with +1 floor),
# k1 = 1.2, b = 0.75. Per-term contributions are pivoted into fixed
# columns and summed in a fixed written order, so the floating-point
# result is bit-identical across engines (no reduction reordering);
# the projection rounds to 4 decimals like q25.

_QUERY_TERMS = ["dup", "spark", "window"]  # one rare, two common


def _contrib_sql(term: str) -> str:
    return (
        f"MAX(CASE WHEN term = '{term}' THEN"
        " ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)"
        " * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
        " END)"
    )


@query(
    "q69_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM toks)
        WHERE t IN ('dup', 'spark', 'window')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               {_contrib_sql('dup')} AS c_dup,
               {_contrib_sql('spark')} AS c_spark,
               {_contrib_sql('window')} AS c_window
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl USING (doc_id), stats
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT doc_id,
               ROUND(COALESCE(c_dup, 0.0) + COALESCE(c_spark, 0.0)
                     + COALESCE(c_window, 0.0), 4) AS score
        FROM scored
    )
    SELECT rank, doc_id, score
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM ranked)
    WHERE rank <= 10
    ORDER BY rank
    """,
)
def q69_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed 3-term query. The token
    stream is filtered to the query terms BEFORE aggregation, so the
    shuffled state is |terms| x |matching docs|; N and avgdl are 1-row
    broadcast scalars. The per-term scores pivot into fixed columns
    and sum left-to-right — identical fp rounding in both engines."""
    from eventsgateway_spark.queries._util import doc_tokens_frame

    # doc length + the query-term slice come out of a single
    # projection that three join branches read; unpinned, each branch
    # re-tokenizes, which measured cheaper than a pin at sf0.1 (cold
    # qprof A/B: off 2.09 s, checkpoint 2.22 s, persist 2.94 s medians)
    base = doc_tokens_frame(spark, sf_dir).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.filter("toks", lambda t: t.isin(*_QUERY_TERMS)).alias("qt"),
    )
    dl = base.select("doc_id", "dl")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        # the `when` wrapper keeps InferFiltersFromGenerate from
        # adding a size() probe that re-derives qt below the Generate
        # (empty arrays yield no rows either way)
        base.select(
            "doc_id",
            F.explode(F.when(F.size("qt") > 0, F.col("qt"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    joined = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log((F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0)
            * (
                (F.col("tf") * 2.2)
                / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
            ),
        )
    )
    scored = joined.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("contrib"))).alias(f"c_{t}")
            for t in _QUERY_TERMS
        ]
    )
    ranked = scored.select(
        "doc_id",
        F.round(
            F.coalesce("c_dup", F.lit(0.0))
            + F.coalesce("c_spark", F.lit(0.0))
            + F.coalesce("c_window", F.lit(0.0)),
            4,
        ).alias("score"),
    )
    # Distributed top-k: orderBy+limit plans as TakeOrderedAndProject
    # (per-partition partial top-10, then a 10-row merge on the driver)
    # — never a corpus-wide single-partition sort. The rank window then
    # runs over exactly 10 rows, so its SinglePartition exchange is a
    # constant-size no-op at any scale (pinned by test_plans.py).
    top10 = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top10.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q78 — Gopher repetition filters (char-fraction rules + keep verdict)
# ---------------------------------------------------------------------------
# The two character-weighted repetition rules from the public Gopher
# corpus-filtering recipe (Rae et al. 2021, "Scaling Language Models",
# table A1): drop a document when the single most frequent 2-gram
# covers > 20% of its characters, or when 5-grams occurring more than
# once cover > 15% of its characters. Distinct from q56's trigram
# dup-RATIO: these weight by characters (so one long repeated phrase
# trips the rule even when the distinct-gram ratio looks healthy) and
# produce a keep/drop verdict at the published thresholds. Coverage is
# computed over occurrences (count x gram length) — the deterministic
# integer form of the rule; both engines integer-divide to ppm, so the
# comparison is exact. Most-frequent-gram ties break by (count desc,
# gram length desc, gram asc) in both engines.

TOP2_MAX_PPM = 200_000  # 0.20 — Gopher top-2-gram char fraction
DUP5_MAX_PPM = 150_000  # 0.15 — Gopher dup-5-gram char fraction


@query(
    "q78_repetition_filters",
    declared=False,  # rotation-pool member (pair with q67, even phase)
    oracle=f"""
    WITH t AS (SELECT doc_id, length(text) AS n_chars, {_DUCK_TOKS} AS toks
               FROM documents),
    g2 AS (SELECT doc_id, n_chars,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])) AS g
           FROM t),
    c2 AS (SELECT doc_id, n_chars, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
    top2 AS (SELECT doc_id,
                    CAST(cnt * length(g) * 1000000 // n_chars AS BIGINT) AS top2_ppm
             FROM (SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY cnt DESC, length(g) DESC, g) AS rn
                   FROM c2)
             WHERE rn = 1),
    g5 AS (SELECT doc_id, n_chars,
                  unnest(list_transform(range(1, len(toks) - 3),
                                        i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                             toks[i+2] || ' ' || toks[i+3] || ' ' ||
                                             toks[i+4])) AS g
           FROM t),
    c5 AS (SELECT doc_id, n_chars, g, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2, 3),
    dup5 AS (SELECT doc_id,
                    CAST(COALESCE(SUM(CASE WHEN cnt > 1
                                           THEN cnt * length(g) END), 0)
                         * 1000000 // MAX(n_chars) AS BIGINT) AS dup5_ppm
             FROM c5 GROUP BY 1)
    SELECT d.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_toks,
           COALESCE(top2.top2_ppm, 0) AS top2_ppm,
           COALESCE(dup5.dup5_ppm, 0) AS dup5_ppm,
           (COALESCE(top2.top2_ppm, 0) <= {TOP2_MAX_PPM}
            AND COALESCE(dup5.dup5_ppm, 0) <= {DUP5_MAX_PPM}) AS keep
    FROM documents d
    JOIN t ON t.doc_id = d.doc_id
    LEFT JOIN top2 ON top2.doc_id = d.doc_id
    LEFT JOIN dup5 ON dup5.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def q78_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher char-fraction repetition rules per document (docstring
    above the @query block). Shape: one tokenization, two explode →
    (doc, gram) hash-aggregates — the same scalable explode/agg spine
    as q24/q56, never a self-join; the per-doc top-1 window partitions
    by doc_id (bounded by document length, skew-free). Left joins keep
    short docs (no 2-grams / 5-grams) with zero coverage. All integer
    math (ppm via integer division) — exact cross-engine."""
    from eventsgateway_spark.functions.text import ngrams

    from eventsgateway_spark.queries._util import doc_tokens_frame, pin

    # base feeds THREE consumers (c2, c5, the final n_toks select), so
    # it is tokenized ONCE and materialized (pin/checkpoint — VERDICT
    # r13 #3): without it each branch re-scans and re-splits the
    # corpus, 3× the tokenize CPU at 100 TB. At fixture scale pin() is
    # an identity.
    base = pin(
        doc_tokens_frame(spark, sf_dir).select(
            "doc_id", F.length("text").alias("n_chars"), "toks"
        )
    )
    c2 = (
        base.select("doc_id", "n_chars", F.explode(ngrams(F.col("toks"), 2)).alias("g"))
        .groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cnt"), F.desc(F.length("g")), F.asc("g")
    )
    top2 = (
        c2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.expr("CAST(cnt * length(g) * 1000000 div n_chars AS BIGINT)").alias(
                "top2_ppm"
            ),
        )
    )
    c5 = (
        base.select("doc_id", "n_chars", F.explode(ngrams(F.col("toks"), 5)).alias("g"))
        .groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup5 = c5.groupBy("doc_id").agg(
        F.expr(
            "CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * length(g) END), 0)"
            " * 1000000 div MAX(n_chars) AS BIGINT)"
        ).alias("dup5_ppm")
    )
    return (
        base.select("doc_id", F.size("toks").cast("bigint").alias("n_toks"))
        .join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("top2_ppm", F.lit(0)).alias("top2_ppm"),
            F.coalesce("dup5_ppm", F.lit(0)).alias("dup5_ppm"),
            (
                (F.coalesce("top2_ppm", F.lit(0)) <= TOP2_MAX_PPM)
                & (F.coalesce("dup5_ppm", F.lit(0)) <= DUP5_MAX_PPM)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )
