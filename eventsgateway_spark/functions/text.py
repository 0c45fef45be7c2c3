"""Text-analysis column functions (SURVEY §2.5 Q17 [EXT]).

All JVM-side built-ins (split/filter/transform/aggregate) — no Python
UDFs in any hot path, so whole-stage codegen applies and the same
expressions run unchanged on a 1000-executor cluster.

Cross-engine determinism: token hashing is md5-based (md5 is identical
in Spark and DuckDB), folded from the first 8 hex chars — this is what
lets MinHash/fingerprint queries be hash-checked against the DuckDB
oracle. All modulus arithmetic stays below 2^40 so DuckDB's checked
BIGINT multiply never overflows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fold modulus for rolling fingerprints (Mersenne prime 2^31-1).
FP_MOD = 2_147_483_647
# Token-hash range for fold inputs (2^17-1) — keeps acc*131+h < 2^39.
TOK_MOD = 131_071


def tokens(text: Column | str) -> Column:
    """SINGLE-SPACE tokens with empties dropped — deliberately not a
    ``\\s+`` split: every DuckDB oracle mirrors this with
    ``string_split(text, ' ')``, so the delimiter is part of the
    engine-wide determinism contract (changing it here without
    changing all 70+ oracles would break every hash check). Corpus
    text with tabs/newlines must be whitespace-normalized at the
    ingestion boundary (``normalize_whitespace`` — the JSONL source
    applies it) before reaching token-based operators."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


def has_pretokenized(df) -> bool:
    """True iff ``df`` carries a pre-tokenized ``toks`` column — the
    contract by which composers (q60's corpus prep) thread ONE
    tokenization through multiple operator stages. Type-checked, not
    name-sniffed (ADVICE r6): a caller frame with a coincidental
    ``toks`` column of the wrong type fails LOUDLY here instead of
    silently skipping tokenization and changing results."""
    dtype = dict(df.dtypes).get("toks")
    if dtype is None:
        return False
    if dtype != "array<string>":
        raise TypeError(
            f"column 'toks' has type {dtype}, not array<string>; the "
            "name is reserved for tokens()-produced arrays (rename the "
            "column or tokenize with functions.text.tokens)"
        )
    return True


def normalize_whitespace(text: Column | str) -> Column:
    """Collapse runs of any whitespace to single spaces and trim — the
    ingestion-boundary normalization that makes real corpus text
    (newline/tab separated) safe for the single-space ``tokens``
    contract. Null-propagating, JVM regex (codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash shared with the DuckDB oracle:
    first 8 hex chars of md5, parsed as an unsigned int.
    (DuckDB: ``('0x' || substr(md5(t),1,8))::BIGINT``.)"""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


def ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined n-grams; empty when the doc is shorter
    than n tokens (guards Spark's descending ``sequence(1, 0)``)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive polynomial rolling hash of the token stream
    (document fingerprint): fold acc = (acc*131 + h(tok)) mod 2^31-1.

    Sequential fold in both engines (Spark ``aggregate``, DuckDB
    ``list_reduce``) → bit-identical results.
    """
    hashed = F.transform(toks, lambda t: token_hash32(t) % TOK_MOD)
    return F.aggregate(
        hashed,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 131 + h) % FP_MOD,
    )


def count_in(toks: Column, vocab: list[str]) -> Column:
    """How many tokens fall in a fixed vocabulary (stopword hits)."""
    return F.size(F.filter(toks, lambda t: t.isin(*vocab)))


# Tiny per-language function-word lists for the language-ID heuristic.
# Deliberately small and hard-coded: the heuristic must be identically
# expressible in the DuckDB oracle SQL.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "is", "in", "it"]
ES_STOPWORDS = ["el", "la", "de", "y", "que", "en", "los", "un"]


# Context-window chunking parameters — single source of truth for the
# JVM chunker (queries/ext_text.py q51) and the UDTF escape hatch
# (functions/udtfs.py); a drift between the two would break their
# parity contract.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks
