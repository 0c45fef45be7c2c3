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
from urllib.parse import unquote, urlparse

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
# scheduling and materialization overhead dominate real work, so pin()
# and spread() become identity (the q38/q85 LSH-geometry and q70/q94
# Arrow-kernel selections in ext_similarity read the same rule).
# Every other part
# of a query's lineage is the same at every scale, so the DuckDB
# oracle checks the plan the bench times up to those two helpers.
# 256 KB splits the driver's oracle fixtures (sf0.01 documents
# ≈ 65 KB) from the bench scale (sf0.1 documents ≈ 580 KB) and is 3
# orders of magnitude below anything a real cluster would scan.
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
        path = unquote(urlparse(uri).path) or uri
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

    A frame whose consumers all sit under ONE action, with canonically
    identical exchanges, is not pinned at all: Catalyst ReusedExchange
    runs the shared exchange once (measured 3.7× faster than
    checkpoint on q31's band self-join at sf0.1).

    At fixture scale any materialization job costs more than the
    recompute it saves, so the frame is returned untouched. A pin of
    either mode lives until ``unpin_all()`` or the next
    registry query's ``unpin_others`` releases it (``release_frame``
    frees persisted and checkpointed blocks alike). 100 TB posture: a
    long-lived pinned frame should graduate to a persisted/bucketed
    table (SCALE.md)."""
    if mode not in ("persist", "checkpoint"):
        # checked at every scale: a typo'd mode must fail in the
        # fixture-scale tests, not first in a bench run
        raise ValueError(f"unknown pin mode {mode!r} (persist|checkpoint)")
    if is_fixture_scale(df):
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
    else:
        df = df.localCheckpoint()
    _PINNED.append((_PIN_OWNER, df))
    return df


# Frames materialized by pin() (persisted or checkpointed), tagged with
# the registry query that created them. STRONG references on purpose
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


def unpin_others(current: str) -> None:
    """Release every pin owned by a different query (or by no query),
    and ``current``'s own checkpoint pins: a re-run checkpoints anew,
    so only its persist pins (same-plan persist is dedup'd) carry over.
    Results already materialized by the owning action are unaffected.
    Release is REAL for checkpoint-mode pins (release_frame): a
    released checkpoint frame cannot be recomputed (truncated
    lineage), which is fine under the single-threaded-build contract —
    every driver/bench/pytest flow collects a query's result before
    the next query's build triggers this release — but means persist-
    mode semantics (silent recompute) do NOT extend to checkpoints."""
    keep = []
    for o, df in _PINNED:
        if o == current and df.is_cached:  # one of current's persist pins
            keep.append((o, df))
        else:
            release_frame(df)
    _PINNED[:] = keep


def unpin_all() -> None:
    """Release every pin (called between bench.py / qprof /
    scaleprobe samples). Queries keep no other state between
    executions: each builds its whole lineage on every call."""
    while _PINNED:
        release_frame(_PINNED.pop()[1])


def doc_tokens_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized ``documents`` frame — columns (doc_id, lang,
    source, n_chars, text, toks) with ``toks =
    functions.text.tokens(text)``, spread() across the session's
    cores above fixture scale. A plain lineage: every call builds it
    anew, and a consumer pins its own projection where a cold A/B says
    the pin pays (q60, q78). Never
    explode the bare ``toks`` column: InferFiltersFromGenerate adds a
    ``size(toks) > 0`` filter that is pushed below the projection and
    tokenizes twice (test_plans.py); explode an expression over it
    (ngrams, a ``when`` guard) or ``tokens(text)`` inline instead."""
    from eventsgateway_spark.functions.text import tokens

    return spread(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        tokens("text").alias("toks"),
    )


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
