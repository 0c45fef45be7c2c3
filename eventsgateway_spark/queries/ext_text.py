"""[EXT] Text analysis over the ``documents`` table (SURVEY §2.5 Q17).

LLM-training-pipeline text operators: n-gram extraction, tf-idf,
language identification, quality scoring, and rolling-hash document
fingerprinting. No reference implementation exists (mandated
extension); the designs follow standard corpus-processing practice
(e.g. C4/RefinedWeb-style quality heuristics) re-expressed as
Catalyst-friendly DataFrame plans.

Scale posture: every query is token-explode → hash-aggregate — linear
in corpus size, one shuffle keyed by (doc, term) or (term), no
cartesian products and no Python UDFs. At 100 TB the same plans hold;
the only tuning knob is shuffle partitioning on the exploded token
stream (~10-100× row inflation, bounded by doc length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eventsgateway_spark.functions.text import (
    EN_STOPWORDS,
    ES_STOPWORDS,
    FP_MOD,
    TOK_MOD,
    count_in,
    ngrams,
    rolling_fingerprint,
    tokens,
)
from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import doc_tokens_frame, spread, table

# DuckDB-side token array (empties dropped) — mirror of text.tokens().
from eventsgateway_spark.queries._util import DUCK_TOKS as _DUCK_TOKS


# ---------------------------------------------------------------------------
# q24 — n-gram counts
# ---------------------------------------------------------------------------


@query(
    "q24_bigram_counts",
    oracle=f"""
    WITH t AS (SELECT lang, {_DUCK_TOKS} AS toks FROM documents)
    SELECT lang, bg AS bigram, COUNT(*) AS n
    FROM (
        SELECT lang,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM t
    )
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    ORDER BY 1, 2
    """,
)
def q24_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram frequencies (n-gram operator, n=2).
    transform over an index sequence builds the gram array JVM-side;
    explode + hash-aggregate is the scalable shape (no self-join)."""
    # the token array is a projected column BEFORE the n-gram lambda:
    # inlined, the split+filter subtree would be re-evaluated per
    # element reference (measured 5× slower at sf0.1)
    with_toks = doc_tokens_frame(spark, sf_dir).select("lang", "toks")
    return (
        with_toks.select("lang", F.explode(ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy("lang", "bigram")
    )


# ---------------------------------------------------------------------------
# q25 — tf-idf top terms per document
# ---------------------------------------------------------------------------


@query(
    "q25_tfidf_topk",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents)
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.dfreq,
               CAST(ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.dfreq + 1.0)), 4)
                    AS DOUBLE) AS tfidf
        FROM tf JOIN dfreq USING (term), n
        WHERE tf.doc_id < 20
    )
    SELECT doc_id, rn, term, tf, dfreq, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    ORDER BY doc_id, rn
    """,
)
def q25_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms for the first 20 docs. Document frequency is
    computed over the FULL corpus (two hash-aggregates over the token
    stream), then the small scored slice is ranked. The n_docs scalar
    rides a broadcast cross-join — no driver-side collect."""
    docs = table(spark, sf_dir, "documents")
    # tf feeds the document-frequency agg and the scored slice;
    # unpinned, measured no slower than a pin at sf0.1 (cold qprof
    # A/B: off 2.28 s, checkpoint 2.42 s, persist 2.58 s medians)
    tf = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 20)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "dfreq",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)), 4
            )
            .cast("double")
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "rn", "term", "tf", "dfreq", "tfidf")
        .orderBy("doc_id", "rn")
    )


# ---------------------------------------------------------------------------
# q26 — language identification (function-word heuristic)
# ---------------------------------------------------------------------------

_EN_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
_ES_SQL = ", ".join(f"'{w}'" for w in ES_STOPWORDS)


@query(
    "q26_language_id",
    declared=False,
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents
               WHERE doc_id < 100),
    hits AS (
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               len([x FOR x IN toks IF x IN ({_EN_SQL})]) AS en_hits,
               len([x FOR x IN toks IF x IN ({_ES_SQL})]) AS es_hits
        FROM t
    )
    SELECT doc_id, lang, n_tokens, en_hits, es_hits,
           CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits > 0 THEN 'es'
                ELSE 'und' END AS predicted
    FROM hits
    ORDER BY doc_id
    """,
)
def q26_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word language ID: count hits against tiny per-language
    stopword vocabularies, argmax with a fixed tie-break (en > es >
    und). Integer counts only — exactly reproducible."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", tokens("text").alias("toks"))
        .filter(F.col("doc_id") < 100)
    )
    toks = F.col("toks")
    hits = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        count_in(toks, EN_STOPWORDS).alias("en_hits"),
        count_in(toks, ES_STOPWORDS).alias("es_hits"),
    )
    return hits.select(
        "*",
        F.when((F.col("en_hits") >= F.col("es_hits")) & (F.col("en_hits") > 0), "en")
        .when(F.col("es_hits") > 0, "es")
        .otherwise("und")
        .alias("predicted"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q27 — document quality scoring
# ---------------------------------------------------------------------------


@query(
    "q27_quality_score",
    declared=False,
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {_DUCK_TOKS} AS toks,
                      length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
               FROM documents WHERE doc_id < 200),
    m AS (
        SELECT doc_id, n_chars, n_alpha,
               len(toks) AS n_tokens,
               len([x FOR x IN toks IF x IN ({_EN_SQL})]) AS stop_hits
        FROM t
    )
    SELECT doc_id, n_tokens, n_chars, n_alpha, stop_hits,
           CAST(n_alpha AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
           CASE WHEN n_tokens BETWEEN 20 AND 80
                     AND CAST(stop_hits AS DOUBLE) / n_tokens >= 0.02
                THEN 'keep' ELSE 'flag' END AS verdict
    FROM m
    ORDER BY doc_id
    """,
)
def q27_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality filter: token counts, alpha-character
    mass, mean token length, stopword ratio → keep/flag verdict.
    Ratios are single IEEE divisions of exact integers (deterministic
    across engines); thresholds mirror C4-style heuristics."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "text", tokens("text").alias("toks"))
        .filter(F.col("doc_id") < 200)
    )
    toks = F.col("toks")
    m = docs.select(
        "doc_id",
        "n_chars",
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
        F.size(toks).alias("n_tokens"),
        count_in(toks, EN_STOPWORDS).alias("stop_hits"),
    )
    stop_ratio = F.col("stop_hits").cast("double") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "n_alpha",
        "stop_hits",
        (F.col("n_alpha").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        stop_ratio.alias("stop_ratio"),
        F.when(
            F.col("n_tokens").between(20, 80) & (stop_ratio >= 0.02), "keep"
        )
        .otherwise("flag")
        .alias("verdict"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q28 — rolling-hash document fingerprint
# ---------------------------------------------------------------------------


@query(
    "q28_fingerprint",
    declared=False,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, len(toks) AS n_tokens,
                 list_reduce(
                     list_prepend(0::BIGINT,
                         list_transform(toks,
                             t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {TOK_MOD})),
                     (a, b) -> (a * 131 + b) % {FP_MOD}) AS fingerprint
          FROM t)
    SELECT doc_id, n_tokens, fingerprint,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_same
    FROM h
    ORDER BY doc_id
    """,
)
def q28_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document plus the
    count of documents sharing it (exact-sequence duplicate detector —
    the cheap first pass before fuzzy dedup). md5-derived token hashes
    keep the fold identical in both engines."""
    wt = doc_tokens_frame(spark, sf_dir).select("doc_id", "toks")
    toks = F.col("toks")
    h = wt.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        rolling_fingerprint(toks).alias("fingerprint"),
    )
    return h.select(
        "*", F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).alias("n_same")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q40 — token counting (whitespace + BPE-ish subword regex)
# ---------------------------------------------------------------------------

# Shared regex subset (Java regex ∩ RE2): letter runs, digit runs, or a
# single other non-space char — a crude BPE-like pre-tokenizer.
_SUBWORD_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q40_token_budget",
    oracle=f"""
    WITH m AS (
        SELECT source,
               len({_DUCK_TOKS}) AS ws_tokens,
               len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS subword_tokens,
               length(text) AS chars
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(subword_tokens) AS BIGINT) AS subword_tokens,
           CAST(SUM(chars) AS BIGINT) AS chars,
           CAST((1000 * SUM(chars)) // GREATEST(SUM(subword_tokens), 1)
               AS BIGINT) AS cpt_milli
    FROM m
    GROUP BY 1
    ORDER BY 1
    """,
)
def q40_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token budgeting: whitespace tokens vs BPE-ish subword
    units (letter runs / digit runs / single punctuation) per source,
    plus chars-per-token in milli-units — the planning numbers an LLM
    data pipeline reports before training. All-integer output (integer
    division truncates identically on positives in both engines — no
    IEEE division reaches the result); the subword regex sits in the
    Java-regex ∩ RE2 subset so both engines tokenize identically."""
    m = doc_tokens_frame(spark, sf_dir).select(
        "source",
        F.size("toks").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_SUBWORD_RE), F.lit(0))).alias(
            "subword_tokens"
        ),
        F.length("text").alias("chars"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("subword_tokens").alias("subword_tokens"),
            F.sum("chars").alias("chars"),
            # greatest-guard (both engines): a source whose docs are all
            # empty text sums to 0 subword tokens — ANSI DIVIDE_BY_ZERO
            # instead of a row (round-10 audit). Decimal lift on the
            # char-sum product (round 11): 1000 × sum(chars) overflows
            # BIGINT past ~9.2e15 chars; the oracle needs no change —
            # DuckDB's SUM already returns HUGEINT there.
            F.expr(
                "(CAST(1000 AS DECIMAL(18,0)) * sum(chars))"
                " div greatest(sum(subword_tokens), 1)"
            ).alias("cpt_milli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q51 — fixed-size token chunking with overlap (context-window prep)
# ---------------------------------------------------------------------------

from eventsgateway_spark.functions.text import CHUNK_STRIDE, CHUNK_TOKENS  # noqa: E402


def chunk_documents(docs: DataFrame) -> DataFrame:
    """The q51 chunking plan over ANY (doc_id, text) frame — also the
    Spark side of the UDTF/property parity tests. Unordered: the total
    sort is q51's presentation contract, not the operator's — composers
    (e.g. a hash-partitioned chunk-table write) must not pay a global
    range shuffle. A frame carrying a ``toks`` column is treated as
    pre-tokenized and the split is skipped (q60 threads one
    tokenization through all stages)."""
    from eventsgateway_spark.functions.text import has_pretokenized

    if has_pretokenized(docs):
        with_toks = docs.select("doc_id", "toks")
    else:
        with_toks = docs.select("doc_id", tokens("text").alias("toks"))
    # The empty-doc guard lives INSIDE the generator (null -> no rows
    # from a non-outer posexplode) rather than as a filter: a
    # `filter(size(toks) > 0)` gets predicate-pushed below the toks
    # projection, re-inlining the tokenization into the condition and
    # tokenizing every document twice (plan audit, test_plans.py).
    starts = with_toks.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.when(
                F.size("toks") > 0,
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE)),
            )
        ).alias("chunk_id", "start"),
    )
    return (
        starts.select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.slice("toks", F.col("start") + 1, F.lit(CHUNK_TOKENS)).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


@query(
    "q51_doc_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
        FROM t WHERE len(toks) > 0
    ),
    c AS (
        SELECT doc_id,
               CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               list_slice(toks, start + 1, start + {CHUNK_TOKENS}) AS chunk
        FROM s
    )
    SELECT doc_id, chunk_id, len(chunk) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def q51_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the standard LLM pre-training
    transform: each document becomes overlapping windows of
    ``CHUNK_TOKENS`` whitespace tokens at stride ``CHUNK_STRIDE`` (the
    final window may be short). Entirely JVM-side: posexplode over a
    stride sequence + ``slice`` on the projected token array; linear in
    corpus token count, output rows ≈ tokens/stride per doc, no UDFs.
    At 100 TB the chunk table is written partitioned by a hash-split of
    doc_id (q47's operator) so downstream shuffles are balanced."""
    base = doc_tokens_frame(spark, sf_dir).select("doc_id", "toks")
    return chunk_documents(base).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# q53 — test-set decontamination (n-gram overlap vs an eval corpus)
# ---------------------------------------------------------------------------

DECON_N = 5  # contamination n-gram length
EVAL_SOURCE = "src0"  # the held-out "benchmark" corpus

_DECON_GRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(DECON_N))


def decon_toks(text: F.Column | str) -> F.Column:
    """The contamination universe's tokenizer (currently plain
    :func:`~eventsgateway_spark.functions.text.tokens`). Callers MUST
    project this to a real column (``.withColumn("toks", ...)`` /
    ``.select(... .alias("toks"))``) and hand the PROJECTED column to
    :func:`decon_grams` / :func:`decon_gram_hashes` — never inline it.
    ``ngrams`` references its argument ~8 times inside lambda
    functions, and Catalyst does not common-subexpression-eliminate
    under lambdas, so an inlined ``filter(split(text))`` re-evaluates
    per reference (measured 26x on q53 at sf0.1 — BASELINE.md rounds
    2 and 8/9). A projected non-cheap alias referenced many times is
    exactly what CollapseProject refuses to re-inline, which keeps
    tokenization at one pass per scan; ``tests/test_plans.py`` pins
    one ``split(`` per documents scan for the whole decon family."""
    return tokens(text)


def decon_grams(toks: F.Column) -> F.Column:
    """Per-doc DISTINCT decontamination n-grams over a PRE-TOKENIZED
    column (see :func:`decon_toks`) — THE single definition of the
    contamination gram universe. Every screen (batch q53/q79,
    streaming corpus_prep exact + Bloom variants) must derive grams
    through this or :func:`decon_gram_hashes`; a screen probing a
    different universe than the one its filter/set was built from
    silently loses the zero-false-negative guarantee. Passing raw
    text here fails at analysis time (``size``/``element_at`` need an
    array), which is deliberate — the text-accepting round-8 form
    re-tokenized per lambda reference."""
    return F.array_distinct(ngrams(toks, DECON_N))


def decon_gram_hashes(toks: F.Column) -> F.Column:
    """``xxhash64`` (default seed) of :func:`decon_grams` — the hash
    universe the Bloom screen builds and probes. Takes the same
    PRE-TOKENIZED column as :func:`decon_grams`. Hashing after the
    per-doc distinct keeps the two derivations element-for-element
    aligned (distinct-then-hash == hash-then-distinct for xxhash64's
    practical collision-free range, and is cheaper)."""
    return F.transform(decon_grams(toks), lambda g: F.xxhash64(g))


@query(
    "q53_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source,
                 unnest(list_distinct(list_transform(
                     range(1, len(toks) - {DECON_N - 2}), i -> {_DECON_GRAM}))) AS g
          FROM t),
    ev AS (SELECT DISTINCT g FROM g WHERE source = '{EVAL_SOURCE}')
    SELECT doc_id, source, COUNT(*) AS n_shared_grams
    FROM g JOIN ev USING (g)
    WHERE source <> '{EVAL_SOURCE}'
    GROUP BY 1, 2
    ORDER BY doc_id
    """,
)
def q53_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination — the mandatory step before training on
    scraped data: flag every training document sharing at least one
    {DECON_N}-gram with the held-out eval corpus, with the distinct
    shared-gram count as evidence. The eval side collapses to a
    distinct gram set (tiny relative to the corpus — benchmarks are KBs
    against TBs) and BROADCASTS, so the scan of training grams never
    shuffles: explode → broadcast-hash semi-side join → per-doc count.
    At 100 TB the eval gram set stays a broadcast (it scales with
    benchmark size, not corpus size)."""
    docs = spread(
        table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    # toks is PROJECTED before the lambda-heavy gram derivation so the
    # split/filter runs once per row, not once per ngrams reference
    # (decon_toks docstring; plan pinned in test_plans.py).
    with_toks = docs.select("doc_id", "source", decon_toks("text").alias("toks"))
    grams = with_toks.select(
        "doc_id",
        "source",
        F.explode(decon_grams(F.col("toks"))).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("source") == EVAL_SOURCE).select("g").distinct()
    )
    return (
        grams.filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q79 — Bloom-filter decontamination screen (q53's 100 TB form)
# ---------------------------------------------------------------------------

BLOOM_FPP = 1e-4  # gram-level false-positive probability

@query("q79_bloom_decontaminate", declared=False)  # approximate (FP > 0) — invariant-tested in tests/test_bloom.py, never hash-declared
def q79_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination via a broadcast BLOOM FILTER instead of
    q53's broadcast string join — the form that survives a 100M-gram
    eval set (18 MB of bits at 0.1% FPP vs 3+ GB of strings; see
    operators/bloom.py). Guarantees: zero false negatives — the flagged
    set is a SUPERSET of q53's and per-doc ``n_flagged_grams >=``
    q53's ``n_shared_grams`` (pinned by test_bloom.py); a ~BLOOM_FPP
    fraction of clean grams over-flag, the safe direction for
    decontamination. Corpus-side plan: one JVM projection (tokens ->
    distinct 5-gram xxhash64, codegen) + one Arrow-batched numpy probe
    — no explode, no join, NO shuffle at all (q53 shuffles nothing
    either, but ships the gram strings; here the executors receive
    only the bitset). Eval side: one distinct-hash aggregate, 8 bytes
    per gram to the driver. Each execution builds its own filter."""
    from eventsgateway_spark.operators.bloom import (
        bloom_probe_count_udf,
        build_bloom,
    )

    docs = spread(
        table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    # Same projected-toks shape as q53 — both the eval-side build and
    # the probe side tokenize exactly once per scanned row.
    with_toks = docs.select("doc_id", "source", decon_toks("text").alias("toks"))
    eval_grams = with_toks.filter(F.col("source") == EVAL_SOURCE).select(
        F.explode(decon_grams(F.col("toks"))).alias("g")
    )
    bf = build_bloom(eval_grams, "g", fpp=BLOOM_FPP)
    probe = bloom_probe_count_udf(spark, bf)
    return (
        with_toks.filter(F.col("source") != EVAL_SOURCE)
        .select(
            "doc_id",
            "source",
            probe(decon_gram_hashes(F.col("toks"))).alias("n_flagged_grams"),
        )
        .filter(F.col("n_flagged_grams") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q56 — within-document repetition (C4-style boilerplate signal)
# ---------------------------------------------------------------------------


@query(
    "q56_repetition_ratio",
    declared=False,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          FROM t),
    c AS (SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_grams,
           COUNT(*) AS n_distinct,
           1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n) AS dup_ratio,
           MAX(n) AS max_gram_count
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def q56_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the C4/Gopher boilerplate signal:
    fraction of duplicated trigrams per document plus the hottest
    trigram's count (template pages repeat one phrase many times).
    Single explode → (doc, gram) count → per-doc rollup; integers
    except one final IEEE division, so exact everywhere."""
    with_toks = doc_tokens_frame(spark, sf_dir).select("doc_id", "toks")
    c = (
        with_toks.select("doc_id", F.explode(ngrams(F.col("toks"), 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            (1.0 - F.count(F.lit(1)).cast("double") / F.sum("n")).alias("dup_ratio"),
            F.max("n").alias("max_gram_count"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q65 — per-document text profile (declared representative of the
# lang-id / quality / fingerprint / repetition family; the per-facet
# queries q26/q27/q28/q56 stay local-only under the driver's 50-query
# evaluation window)
# ---------------------------------------------------------------------------


@query(
    "q65_text_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars, {_DUCK_TOKS} AS toks,
                      length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
               FROM documents),
    m AS (
        SELECT doc_id, lang, n_chars, n_alpha,
               len(toks) AS n_tokens,
               len([x FOR x IN toks IF x IN ({_EN_SQL})]) AS en_hits,
               len([x FOR x IN toks IF x IN ({_ES_SQL})]) AS es_hits,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(toks,
                           t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {TOK_MOD})),
                   (a, b) -> (a * 131 + b) % {FP_MOD}) AS fingerprint
        FROM t
    ),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          FROM t),
    c AS (SELECT doc_id, g, COUNT(*) AS n FROM g GROUP BY 1, 2),
    rep AS (SELECT doc_id,
                   CAST(SUM(n) AS BIGINT) AS n_grams3,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct3,
                   CAST(MAX(n) AS BIGINT) AS max_gram3
            FROM c GROUP BY 1)
    SELECT m.doc_id, m.lang,
           CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits > 0 THEN 'es'
                ELSE 'und' END AS predicted,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(en_hits AS BIGINT) AS en_hits,
           CAST(es_hits AS BIGINT) AS es_hits,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_alpha AS BIGINT) AS n_alpha,
           CAST((1000 * n_alpha) // GREATEST(n_tokens, 1) AS BIGINT) AS avg_len_milli,
           CAST((1000 * en_hits) // GREATEST(n_tokens, 1) AS BIGINT) AS stop_milli,
           CASE WHEN n_tokens BETWEEN 20 AND 80
                     AND (1000 * en_hits) // GREATEST(n_tokens, 1) >= 20
                THEN 'keep' ELSE 'flag' END AS verdict,
           fingerprint,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_same,
           COALESCE(rep.n_grams3, 0) AS n_grams3,
           COALESCE(rep.n_distinct3, 0) AS n_distinct3,
           COALESCE(rep.max_gram3, 0) AS max_gram3,
           CAST(COALESCE(1000 - (1000 * rep.n_distinct3) // rep.n_grams3, 0)
                AS BIGINT) AS dup_milli
    FROM m LEFT JOIN rep USING (doc_id)
    ORDER BY doc_id
    """,
)
def q65_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-document text profile: function-word language ID
    (argmax over tiny en/es vocabularies), C4-style quality facets
    (alpha mass, stopword ratio, keep/flag verdict), order-sensitive
    rolling-hash fingerprint with its collision count, and trigram
    repetition mass. All-integer/string output (milli-unit ratios via
    integer division) so the result is canonicalization-proof.

    Physical shape: the scalar facets are MAP-ONLY over one shared
    tokenization; the trigram facet is one explode → (doc, gram) count
    → per-doc rollup joined back on doc_id; the fingerprint collision
    count is one window keyed by fingerprint. Every shuffle is keyed by
    doc_id / gram / fingerprint — per-document grain throughout, so the
    same plan holds on a 100 TB corpus."""
    docs = doc_tokens_frame(spark, sf_dir)
    toks = F.col("toks")
    # m fans out to the trigram branch (rep) and the profile branch,
    # deliberately UNpinned: column pruning gives each branch only its
    # own expressions (rep re-evaluates just the tokenization, not the
    # stopword/fingerprint folds), so a persist pin materializes the
    # wide toks frame to save one tokenize pass — measured LOSS at
    # sf0.1 (interleaved A/B round 10: off 2.15 s vs persist 2.67 s
    # median). At 100 TB the second text scan dominates instead —
    # graduate m (scalars only, not toks) to a pinned/bucketed table
    # per the SCALE.md rule if this query runs on a real corpus.
    m = docs.select(
        "doc_id", "lang", "n_chars",
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
        "toks",
    ).select(
        "doc_id", "lang", "n_chars", "n_alpha", "toks",
        F.size(toks).alias("n_tokens"),
        count_in(toks, EN_STOPWORDS).alias("en_hits"),
        count_in(toks, ES_STOPWORDS).alias("es_hits"),
        rolling_fingerprint(toks).alias("fingerprint"),
    )
    rep = (
        m.select("doc_id", F.explode(ngrams(toks, 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_grams3"),
            F.count(F.lit(1)).alias("n_distinct3"),
            F.max("n").alias("max_gram3"),
        )
    )
    stop_milli = F.expr("(1000 * en_hits) div greatest(n_tokens, 1)")
    profiled = m.select(
        "doc_id", "lang",
        F.when((F.col("en_hits") >= F.col("es_hits")) & (F.col("en_hits") > 0), "en")
        .when(F.col("es_hits") > 0, "es")
        .otherwise("und")
        .alias("predicted"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("en_hits").cast("bigint").alias("en_hits"),
        F.col("es_hits").cast("bigint").alias("es_hits"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_alpha").cast("bigint").alias("n_alpha"),
        F.expr("(1000 * n_alpha) div greatest(n_tokens, 1)")
        .cast("bigint").alias("avg_len_milli"),
        stop_milli.cast("bigint").alias("stop_milli"),
        F.when(
            F.col("n_tokens").between(20, 80) & (stop_milli >= 20), "keep"
        ).otherwise("flag").alias("verdict"),
        "fingerprint",
        F.count(F.lit(1))
        .over(Window.partitionBy("fingerprint"))
        .cast("bigint")
        .alias("n_same"),
    )
    return (
        profiled.join(rep, "doc_id", "left")
        .select(
            profiled["*"],
            F.coalesce("n_grams3", F.lit(0)).cast("bigint").alias("n_grams3"),
            F.coalesce("n_distinct3", F.lit(0)).cast("bigint").alias("n_distinct3"),
            F.coalesce("max_gram3", F.lit(0)).cast("bigint").alias("max_gram3"),
            F.coalesce(
                F.lit(1000) - F.expr("(1000 * n_distinct3) div n_grams3"),
                F.lit(0),
            ).cast("bigint").alias("dup_milli"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q71 — unigram LM quality score (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020) ranks documents by language-model
# perplexity to split a crawl into quality buckets; the distributed
# shape is: train the LM on the corpus itself (here: unigram MLE —
# one hash aggregate), then score every document against it. Exactness
# trick: per-TERM negative log-likelihood is rounded to integer
# micro-nats BEFORE the per-document sum, so the cross-row reduction
# is exact integer math (no float summation order), and the per-token
# average uses positive integer division (identical truncation in
# both engines).


@query(
    "q71_lm_quality_score",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
    cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    lp AS (SELECT term,
                  CAST(ROUND(-ln(CAST(c AS DOUBLE) / total) * 1e6) AS BIGINT)
                      AS nll_u
           FROM cnt, tot),
    doc AS (SELECT doc_id, COUNT(*) AS n_tok,
                   CAST(SUM(nll_u) AS BIGINT) AS sum_nll_u
            FROM tok JOIN lp USING (term)
            GROUP BY 1)
    SELECT doc_id, n_tok, sum_nll_u, sum_nll_u // n_tok AS avg_nll_u
    FROM doc
    ORDER BY doc_id
    """,
)
def q71_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM surprise (negative log-likelihood in
    integer micro-nats): train the MLE unigram model over the whole
    corpus, score each doc, emit (doc_id, n_tok, sum_nll_u, avg_nll_u)
    — low avg = stereotypical text, high avg = rare-token-heavy, the
    CCNet quality-bucketing signal.

    Scale shape: one (term) hash aggregate for counts (map-side
    combine absorbs hot-term skew), the corpus total rides a 1-row
    broadcast, and the scoring join keys on term — row volume is
    unchanged by the join and AQE's skew split covers 'the'-class
    fan-in. Per-doc reduce is one (doc_id) hash aggregate. Everything
    JVM built-ins; linear in corpus tokens."""
    docs = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    # tok feeds three consumers; unpinned, measured no slower than a
    # pin at sf0.1 (cold qprof A/B: off 2.06 s, checkpoint 2.25 s,
    # persist 2.20 s medians)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("total"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(-F.log(F.col("c").cast("double") / F.col("total")) * 1e6)
        .cast("bigint")
        .alias("nll_u"),
    )
    doc = (
        tok.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("nll_u").cast("bigint").alias("sum_nll_u"),
        )
    )
    return doc.select(
        "doc_id",
        "n_tok",
        "sum_nll_u",
        F.expr("sum_nll_u div n_tok").alias("avg_nll_u"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q84 — bigram-LM quality score (local word-order coherence)
# ---------------------------------------------------------------------------
# The order-sensitive complement to q71's unigram LM: a spam page
# built by SHUFFLING high-frequency tokens scores exactly like clean
# prose under a unigram model (same token multiset), but its adjacent
# pairs are improbable — the bigram conditional NLL exposes it. Model:
# add-one-smoothed conditional p(b|a) = (c(a,b)+1)/(c(a,·)+V) trained
# on the corpus itself, V = corpus unigram vocabulary. Same exactness
# discipline as q71/q82: per-bigram NLL rounds to integer micro-nats
# BEFORE the per-doc sum, so the reduction is order-free and the
# result hash-exact; the per-bigram average uses positive integer
# division (identical truncation in both engines).


@query(
    "q84_bigram_lm_score",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])) AS b
           FROM t),
    cbg AS (SELECT b, COUNT(*) AS c_ab FROM bg GROUP BY 1),
    ca AS (SELECT split_part(b, ' ', 1) AS a, COUNT(*) AS c_a
           FROM bg GROUP BY 1),
    uni AS (SELECT COUNT(DISTINCT term) AS v FROM tok),
    lp AS (SELECT cbg.b,
                  CAST(ROUND(-ln((c_ab + 1.0) / CAST(c_a + v AS DOUBLE)) * 1e6)
                       AS BIGINT) AS nll_u
           FROM cbg JOIN ca ON split_part(cbg.b, ' ', 1) = ca.a, uni),
    doc AS (SELECT doc_id, COUNT(*) AS n_bg,
                   CAST(SUM(nll_u) AS BIGINT) AS sum_nll_u
            FROM bg JOIN lp ON bg.b = lp.b
            GROUP BY 1)
    SELECT doc_id, n_bg, sum_nll_u, sum_nll_u // n_bg AS avg_nll_u
    FROM doc
    ORDER BY doc_id
    """,
)
def q84_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram conditional NLL in integer micro-nats —
    (doc_id, n_bg, sum_nll_u, avg_nll_u); high avg = improbable
    adjacent pairs (word salad, shuffled-token spam), low = corpus-
    stereotypical phrasing. Docs with fewer than 2 tokens carry no
    bigram and are absent from the output in BOTH engines.

    Scale shape (q71's, one level up the n-gram ladder): the bigram
    table comes from one transform+explode over the projected token
    array (no self-join — the q24 lesson); conditional counts are two
    hash aggregates over the SAME exploded stream, keyed by (bigram)
    and (left token) — map-side combine absorbs hot-pair skew; V rides
    a 1-row broadcast; the scoring join keys on the bigram with row
    volume unchanged. All JVM built-ins, linear in corpus tokens. At
    100 TB the trained bigram table is |distinct bigrams| rows —
    orders of magnitude below the corpus — and persists for reuse."""
    docs = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    wt = docs.select("doc_id", tokens("text").alias("toks"))
    # tokenizer INLINE in the explode (q71's shape), not via wt's
    # projected column: exploding a projected ATTRIBUTE triggers
    # InferFiltersFromGenerate, whose size(toks) > 0 predicate pushes
    # below the projection and re-inlines the tokenizer TWICE into the
    # filter (the q33 norm-fold class; caught by the decon-family
    # single-tokenization sweep). The ngrams branch below is immune —
    # its generator input is a full expression, which the rule skips.
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    # bgs feeds three consumers; a pin measured no faster at sf0.1
    # (cold qprof A/B: off 3.34 s, checkpoint 3.39 s, persist 3.26 s)
    bgs = wt.select("doc_id", F.explode(ngrams(F.col("toks"), 2)).alias("b"))
    cbg = bgs.groupBy("b").agg(F.count(F.lit(1)).alias("c_ab"))
    # left token via substring_index, NOT F.split: (a) no array
    # materialization per row, and (b) the decon-family plan sweep
    # counts `split(` occurrences as tokenization passes — a split( on
    # the bigram string would be indistinguishable from a re-inlined
    # tokenizer (tests/test_plans.py::test_decon_family_tokenizes_once)
    ca = (
        bgs.select(F.substring_index(F.col("b"), " ", 1).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    v = tok.agg(F.countDistinct("term").alias("v"))
    lp = (
        cbg.withColumn("a", F.substring_index(F.col("b"), " ", 1))
        .join(ca, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "b",
            F.round(
                -F.log(
                    (F.col("c_ab") + 1.0)
                    / (F.col("c_a") + F.col("v")).cast("double")
                )
                * 1e6
            )
            .cast("bigint")
            .alias("nll_u"),
        )
    )
    doc = (
        bgs.join(lp, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.sum("nll_u").cast("bigint").alias("sum_nll_u"),
        )
    )
    return doc.select(
        "doc_id",
        "n_bg",
        "sum_nll_u",
        F.expr("sum_nll_u div n_bg").alias("avg_nll_u"),
    ).orderBy("doc_id")
