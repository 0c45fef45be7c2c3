"""Shared loaders + determinism helpers for declared queries.

Cross-engine exactness contract (Spark result must hash-equal the
DuckDB oracle):

- **Total ORDER BY** on every result, with an integer/string key as the
  final tiebreaker.
- **Money math in decimal, output as double.** Double SUMs are
  order-dependent (parallel partial aggregation), so monetary inputs are
  cast to exact DECIMALs, aggregated exactly, and only the final scalar
  is cast to DOUBLE (one correctly-rounded conversion in both engines).
- **No bare timestamps in outputs** — project DATE or formatted strings
  (Spark TIMESTAMP carries a timezone; DuckDB's is naive).
- **events.ts parquet encoding varies by fixture generation** — either
  TIMESTAMP(NANOS) (unreadable by stock Spark; we flip
  ``spark.sql.legacy.parquet.nanosAsLong`` and truncate ns→µs exactly
  like DuckDB) or TIMESTAMP(MICROS) without UTC adjustment (arrives as
  TIMESTAMP_NTZ; we cast to session-tz TIMESTAMP under a pinned UTC
  session zone, which is value-identical to DuckDB's naive read). The
  loader branches on the dtype it actually got back.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# events.value / TPC-H money columns are 2-decimal doubles; DECIMAL(18,2)
# keeps sf0.1 sums (≲1e10) far inside exact range.
DEC = "decimal(18,2)"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table, normalizing driver-specific quirks."""
    if name == "events":
        # Must be set before the read; harmless if already set. The
        # session-timezone pin keeps to_date()/hour() on the derived
        # (tz-aware) timestamp aligned with DuckDB's naive timestamps
        # even when the caller's session (e.g. the driver's) didn't set
        # a timezone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) fixture read as raw nanos; truncate to µs
            # exactly like DuckDB's CAST(timestamp_ns AS timestamp).
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS) fixture; interpret the naive value in the
            # pinned UTC session zone so downstream to_date()/hour() match
            # DuckDB's naive timestamps.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        if ts_type == "timestamp":
            # Already session-tz; value-identical to the NTZ branch under
            # the UTC pin (e.g. NTZ inference disabled), so pass through.
            return df
        raise TypeError(
            f"events.ts arrived as unexpected dtype {ts_type!r}; the "
            "fixture contract is TIMESTAMP(NANOS)->bigint or "
            "TIMESTAMP(MICROS)->timestamp_ntz — refusing to guess "
            "(silent pass-through would surface as oracle mismatches)"
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Leaf-input size below which a frame is "fixture-scale": per-task
# scheduling and materialization overhead dominate real work, so the
# scale helpers (spread / pin) become identity. 256 KB splits the
# driver's oracle fixtures (sf0.01 documents ≈ 65 KB) from the bench
# scale (sf0.1 documents ≈ 580 KB) and is 3 orders of magnitude below
# anything a real cluster would scan.
FIXTURE_INPUT_BYTES = 256 << 10


def known_input_bytes(df: DataFrame) -> int | None:
    """Like ``input_bytes`` but honest about ignorance: ``None`` when
    the frame has no measurable leaf files (createDataFrame, JDBC,
    temp view). Use for RESULT-SHAPING counts (q68 shard ids, q70 cell
    count), where the huge-sentinel fallback would silently change
    query OUTPUT — those sites fall back to their fixed oracle
    constant instead (ADVICE r5). Pure performance knobs (spread/pin)
    keep using ``input_bytes``, where unknown-counts-as-huge is the
    safe direction."""
    b = input_bytes(df)
    return None if b == 1 << 60 else b


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the frame's leaf input files.

    Driver-side only (no job). Unknown/remote inputs count as huge so
    every scale optimization stays ON when we cannot prove the input
    is a local fixture."""
    try:
        files = df.inputFiles()
    except Exception:
        return 1 << 60
    if not files:
        # no leaf files (createDataFrame, JDBC, temp view): size is
        # UNKNOWN, not zero — count as huge so spread()/pin() stay ON
        return 1 << 60
    total = 0
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return 1 << 60
    return total


def is_fixture_scale(df: DataFrame) -> bool:
    return input_bytes(df) < FIXTURE_INPUT_BYTES


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism.

    Use before CPU-heavy per-row expansion (tokenize → shingle →
    explode, per-row vector folds): a small table arrives as ONE file
    split, so the expansion would run single-threaded. The repartition
    shuffles only the narrow pre-explosion rows (cheap); on a real
    100 TB table the scan already yields thousands of splits and this
    is a near-no-op safety net. At fixture scale (driver oracle runs)
    the shuffle is pure overhead, so it is skipped."""
    if is_fixture_scale(df):
        return df
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n)


def pin(df: DataFrame, mode: str = "checkpoint") -> DataFrame:
    """Materialize a frame that several downstream jobs will consume.

    ``mode`` is the per-call-site strategy, picked by measurement
    (BASELINE.md round-6 A/B at sf0.1):

    - ``checkpoint`` — ``localCheckpoint()``: hard lineage cut. Right
      when downstream runs MULTIPLE actions over an expensive lineage
      (iterative algorithms, streaming batches).
    - ``persist`` — lazy MEMORY_AND_DISK persist: dedups recompute
      across consumers without the block-file write + job-per-pin of a
      checkpoint. Right for one-action DAGs whose pinned frame feeds
      several downstream joins (measured 2.3× faster than checkpoint
      on q60 at sf0.1).
    - ``off`` — identity: rely on Catalyst ReusedExchange within the
      single action. Right when every consumer sits under ONE action
      and the consumers' exchanges are canonically identical (measured
      3.7× faster than checkpoint on q31's band self-join at sf0.1).

    ``SPARK_GRAFT_PIN_MODE`` overrides every call site for A/B runs.
    At fixture scale any materialization job costs more than the
    recompute it saves, so the frame is returned untouched. 100 TB
    posture: a long-lived pinned frame should graduate to a
    persisted/bucketed table (SCALE.md)."""
    if is_fixture_scale(df):
        return df
    mode = os.environ.get("SPARK_GRAFT_PIN_MODE", mode)
    if mode not in ("off", "persist", "checkpoint"):
        # a typo'd env override silently benchmarking the WRONG
        # strategy would corrupt the A/B conclusions above
        raise ValueError(f"unknown pin mode {mode!r} (off|persist|checkpoint)")
    if mode == "off":
        return df
    if mode == "persist":
        # LAZY persist (r15, guide §1.2/§5): the old eager `df.count()`
        # fill ran a FULL extra job over the pinned lineage before the
        # query's own action touched it — q38 paid ~1.1 s of its 2.6 s
        # bench floor in that pre-pass alone. Under the engine's
        # single-threaded-action contract (driver/bench/pytest collect
        # one query before the next starts) the first consumer fills
        # the cache inside the SAME action, and a hypothetical
        # concurrent consumer merely duplicates partition compute
        # (BlockManager puts are per-partition atomic) — never wrong
        # results. Measured at sf0.1 (interleaved A/B, round-15):
        # q38 3.43→1.84, q60 4.98→4.07, q85 1.50→1.17, q63 1.72→1.59.
        df = df.persist()
        _PINNED.append((_PIN_OWNER, df))
        return df
    return df.localCheckpoint()


# Persisted frames created by pin(mode="persist"), tagged with the
# registry query that created them. STRONG references on purpose
# (ADVICE r6 considered weakrefs): SQL persist registers the plan in
# the JVM CacheManager, which holds the blocks until an explicit
# unpersist — a GC'd Python handle would make the entry permanently
# unreleasable, not reclaim it. Accumulation is bounded instead by the
# registry wrapper (queries/__init__.py): each query execution first
# releases every OTHER query's pins, so a long-lived session that
# never calls unpin_all() itself (correctness driver, notebook) holds
# at most one query's pins, while re-runs of the SAME query keep
# reusing their CacheManager entries (same-plan persist is dedup'd by
# Spark, so re-registering costs no extra storage).
_PINNED: list[tuple[str | None, DataFrame]] = []
_PIN_OWNER: str | None = None


def set_pin_owner(name: str | None) -> None:
    """Tag subsequently-created pins with the registry query building
    them (called by the queries/__init__ execution wrapper)."""
    global _PIN_OWNER
    _PIN_OWNER = name


def release_frame(df: DataFrame) -> None:
    """Free a frame pinned by EITHER persist() or localCheckpoint().

    ``Dataset.unpersist`` only uncaches CacheManager entries; a
    localCheckpoint's RDD blocks are never registered there, so on
    pyspark 4.1 ``df.unpersist(True)`` leaves them pinned (verified
    empirically: getRDDStorageInfo still lists them) while unpersisting
    the LogicalRDD's underlying RDD frees them. Run both releases; a
    torn-down session or an unpinned frame is a no-op."""
    try:
        df.unpersist()
    except Exception:
        pass  # session gone / already unpersisted
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
    except Exception:
        pass  # not a checkpointed frame / session gone


def released_checkpoints():
    """Context manager scoping per-micro-batch ``localCheckpoint``s:
    yields a pin function (``df -> checkpointed df``) and
    :func:`release_frame`'s every pinned frame on exit. foreachBatch
    bodies checkpoint multi-consumer frames every batch; without an
    explicit release a long-running stream accumulates every batch's
    checkpoint blocks in the BlockManagers until driver GC (ADVICE
    r8). Use AFTER the batch's sinks complete — the frames are gone
    once the scope exits."""
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        pinned: list[DataFrame] = []

        def ckpt(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint()
            pinned.append(df)
            return df

        try:
            yield ckpt
        finally:
            for df in pinned:
                release_frame(df)

    return _scope()


def _release(df: DataFrame) -> None:
    release_frame(df)


def unpin_others(current: str) -> None:
    """Unpersist every pin owned by a different query (or by no query).
    Results already materialized by the owning action are unaffected.
    Release is REAL for checkpoint-mode pins too (release_frame): a
    released checkpoint frame cannot be recomputed (truncated
    lineage), which is fine under the single-threaded-build contract —
    every driver/bench/pytest flow collects a query's result before
    the next query's build triggers this release — but means persist-
    mode semantics (silent recompute) do NOT extend to checkpoints."""
    keep = [(o, df) for o, df in _PINNED if o == current]
    for o, df in _PINNED:
        if o != current:
            _release(df)
    _PINNED[:] = keep


def unpin_all() -> None:
    """Release every frame the current query left behind: pin() frames
    AND the session-scoped derived-lineage caches (called between
    bench.py / scaleprobe iterations).

    Round 16 (VERDICT r15 #1): the r15 session caches were deliberately
    held outside ``_PINNED`` so that bench.py's between-query cleanup
    would not evict them — which moved their build cost out of the
    timed region instead of removing it. The bench's isolation contract
    is that ``unpin_all()`` returns the session to a cold state, so the
    caches are now evicted here too: every timed sample pays the full
    cost of whatever lineages the query builds, and the caches only
    dedup RE-USE WITHIN one query execution (q91 consuming both media
    pair frames, q33 consuming norm_frame on both join sides) plus
    long-lived sessions that never call unpin_all (notebooks)."""
    while _PINNED:
        _release(_PINNED.pop()[1])
    clear_session_caches()


# ---------------------------------------------------------------------------
# Central registry of every session-scoped derived-lineage cache
# (VERDICT r15 #4: the only enumeration used to live in scaleprobe's
# clear-list, importing module privates — a new cache could silently
# escape both scaleprobe and the bench eviction). Modules register
# their cache dict at definition time via ``session_cache({})``; both
# ``unpin_all()`` and scaleprobe's growth sweep clear THE SAME list,
# so no cache can ride a timed measurement.
# ---------------------------------------------------------------------------
_SESSION_CACHES: list[dict] = []


def session_cache(cache: dict) -> dict:
    """Register (and return) a session-scoped lineage cache so that
    ``clear_session_caches()`` / ``unpin_all()`` can evict it.

    Value contract: every value is a 2-tuple ``(fingerprint, frames)``
    where ``frames`` is a ``DataFrame`` or a ``tuple[DataFrame, ...]``;
    those frames are what eviction releases."""
    _SESSION_CACHES.append(cache)
    return cache


def clear_session_caches() -> None:
    """Release and empty every registered session cache.

    Each entry is released on its own, so a value that breaks the
    ``session_cache()`` contract cannot keep the others pinned: it is
    dropped with its cache, and once every cache is empty a
    ``TypeError`` names it."""
    malformed = []
    for cache in _SESSION_CACHES:
        for key, entry in cache.items():
            frames = entry[1] if isinstance(entry, tuple) and len(entry) == 2 else None
            if isinstance(frames, DataFrame):
                frames = (frames,)
            if not (
                isinstance(frames, tuple)
                and all(isinstance(df, DataFrame) for df in frames)
            ):
                malformed.append(key)
                continue
            for df in frames:
                release_frame(df)
        cache.clear()
    if malformed:
        raise TypeError(
            "session cache values must be (fingerprint, DataFrame | "
            f"tuple[DataFrame]); dropped malformed entries {malformed!r}"
        )


# Session-scoped cache of THE tokenized-documents lineage (r15, guide
# §2.4 "remove shuffles outright" / §1.2 "don't compute things twice"):
# ~14 text-family queries each open the bench/notebook session by
# re-scanning documents and re-running tokens(text) — the single most
# repeated subtree in the registry. One localCheckpoint of
# (doc_id, lang, source, n_chars, text, toks) per (session, fixture)
# replaces every consumer's scan+split stage with a cached-block read.
# Same keying + fingerprint-invalidation discipline as ext_dedup's
# _MINHASH_CACHE (nothing survives the process; every bench/oracle
# invocation recomputes from parquet — the applicationId key makes the
# cache die with the session). At fixture scale the helper returns
# None and callers KEEP their original per-query lineage, so the
# driver's sf0.001/0.01 oracle plans are byte-identical to round 14.
# Round 16: registered in the central session-cache list, so
# unpin_all() evicts it between bench queries — the frame dedups
# repeated tokenization WITHIN one query execution only.
_DOCTOK_CACHE: dict[tuple[str, str], tuple[str, DataFrame]] = session_cache({})


def doc_tokens_frame(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The session-shared tokenized ``documents`` frame — columns
    (doc_id, lang, source, n_chars, text, toks) with ``toks =
    functions.text.tokens(text)`` — localCheckpoint-ed once per
    (session, fixture) above fixture scale; ``None`` at fixture scale
    (callers fall back to their plain lineage). Consumers must treat
    the frame as READ-ONLY and derive by select/filter only; exploding
    the cached ``toks`` attribute is safe (there is no tokenizer left
    in the lineage for InferFiltersFromGenerate to duplicate)."""
    from eventsgateway_spark.functions.text import tokens

    # A/B kill-switch (the SPARK_GRAFT_PIN_MODE convention): =1 makes
    # every consumer take its plain per-query fallback lineage, which
    # is how the r15 before-plans and A/B floors were recorded.
    if os.environ.get("SPARK_GRAFT_NO_DOCTOK", "") == "1":
        return None
    docs = table(spark, sf_dir, "documents")
    if is_fixture_scale(docs):
        return None
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    fp = fixture_fingerprint(sf_dir)
    hit = _DOCTOK_CACHE.get(key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        del _DOCTOK_CACHE[key]
        release_frame(hit[1])
    # persist(), NOT localCheckpoint (measured r15): checkpoint blocks
    # are row-serialized, so a consumer selecting (lang, toks) pays a
    # full-width deserialize of text+everything per row (q21/q29 floors
    # REGRESSED ~2x under a checkpointed frame); the columnar in-memory
    # cache prunes to exactly the consumer's columns. Evicted by
    # unpin_all() via the session-cache registry (r16): bench samples
    # pay the tokenize cost inside their own timed region.
    #
    # Partitioning is SIZE-DERIVED, not spread()'s flat shuffle
    # parallelism: a consumer stage over P cached partitions costs P
    # task launches, and at fixture-bench scale (584 KB of documents)
    # a 32-partition cache made every light consumer ~2x slower while
    # 4-8 partitions was the measured knee for the heavy explode
    # shapes (interleaved A/B, r15: trigram-agg 0.86/0.57/0.47/0.77 s
    # and 5-gram-decon 0.77/0.59/0.63/1.07 s floors at 1/4/8/32). A
    # ~128 KB-per-partition target hits that knee and grows to the
    # session's full shuffle parallelism (spread()'s value) once the
    # corpus outgrows cores x 128 KB — on any real input the cap
    # governs and this matches spread() exactly.
    n_max = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n = min(n_max, max(1, -(-input_bytes(docs) // (128 << 10))))
    ck = docs.repartition(n).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        tokens("text").alias("toks"),
    ).persist()
    _DOCTOK_CACHE[key] = (fp, ck)
    return ck


def arrow_scorer() -> bool:
    """Opt-in Arrow fast path (``SPARK_GRAFT_ARROW_SCORER=1``) for the
    interpreted higher-order-function folds in the dedup/similarity
    verify steps (shingle construction, pair dot products). Default
    OFF: the JVM folds are bit-reproducible against the DuckDB oracle
    and measured faster at fixture dims (Arrow transfer cancels the
    numpy win — functions/vectors.py); the Arrow path pays off when
    per-row compute outgrows transfer (long docs, high-dim vectors).
    Both paths produce identical query results (tests/test_ext.py)."""
    return os.environ.get("SPARK_GRAFT_ARROW_SCORER", "") == "1"


def fixture_fingerprint(sf_dir: str, name: str = "documents") -> str:
    """Cheap identity of a fixture table: sorted (name, mtime_ns,
    size) of <name>.parquet under sf_dir (file or directory). The
    invalidation key for every session-scoped cache derived from the
    fixture (ext_dedup cluster labels, ext_text eval Bloom filter,
    the r15 IVF-assignment cache over embeddings) — a fixture
    regenerated IN-PLACE mid-session must miss those caches instead
    of serving stale results (ADVICE r7)."""
    target = os.path.join(sf_dir, f"{name}.parquet")
    parts = []
    if os.path.isdir(target):
        for dp, _, files in os.walk(target):
            for f in sorted(files):
                st = os.stat(os.path.join(dp, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(target):
        st = os.stat(target)
        parts.append(f"{name}.parquet:{st.st_mtime_ns}:{st.st_size}")
    return ";".join(parts)


def table_buckets(spark: SparkSession, table: str, default: int = 32) -> int:
    """Bucket count of a saved catalog table, from DESCRIBE EXTENDED's
    'Num Buckets' row. ``default`` applies ONLY to an existing but
    unbucketed table; a missing table raises (callers decide what an
    absent index means), and any other catalog failure propagates —
    silently falling back there would persist a wrong bucket pin."""
    if not spark.catalog.tableExists(table):
        raise ValueError(f"table {table} does not exist")
    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():  # catalog-read
        if (r["col_name"] or "").strip() == "Num Buckets":
            return int(r["data_type"].strip())
    return default


def money(col_name: str) -> F.Column:
    """Exact decimal view of a 2-decimal double column."""
    return F.col(col_name).cast(DEC)


def as_double(col) -> F.Column:
    return col.cast("double")


# THE DuckDB mirror of functions.text.tokens() — single-space split,
# empties dropped. One copy: the Spark tokenizer and its oracle half
# are a matched pair (the engine-wide determinism contract), and the
# five query modules that need the SQL form alias THIS constant, so a
# tokenizer change cannot silently desynchronize one module's oracles.
DUCK_TOKS = "[x FOR x IN string_split(text, ' ') IF x <> '']"
