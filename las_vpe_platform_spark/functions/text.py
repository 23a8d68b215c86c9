"""Text-analysis column functions for training-data pipelines.

Language ID, quality scoring, token counting, shingling and document
fingerprinting — the text half of the LLM-data-pipeline operator set
(BASELINE.json north star). Everything is built from JVM-side
``pyspark.sql.functions`` so the hot path stays inside whole-stage
codegen; all hashes are md5-based so a DuckDB oracle can reproduce
them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small, fixed English stopword list — deterministic, mirrored in
# oracle SQL. Order matters only for documentation.
EN_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty strings removed."""
    return F.filter(F.split(F.trim(_col(text)), r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish approximations live on top of this)."""
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """punctuation chars / total chars (0.0 for empty text)."""
    c = _col(text)
    total = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """stopword tokens / total tokens (0.0 for empty text)."""
    toks = tokens(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, punctuation, stopwords.

    A deliberately simple, deterministic stand-in for learned quality
    classifiers: score = 0.4*len_term + 0.3*stop_term + 0.3*(1-punct).
    """
    c = _col(text)
    len_term = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return len_term * 0.4 + stop_term * 0.3 + punct_term * 0.3


def lang_id(text: Column | str, threshold: float = 0.08) -> Column:
    """N-gram/stopword language heuristic: 'en' if the English stopword
    ratio clears ``threshold``, else 'und' (undetermined).

    Real pipelines plug a model here; the interface (text -> lang code
    column) is what matters and stays stable.
    """
    return F.when(stopword_ratio(text) >= threshold, F.lit("en")).otherwise(F.lit("und"))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of the token sequence (array<string>).

    Built with sequence+transform so shingling runs JVM-side; the
    shingle join key for MinHash/Jaccard dedup.
    """
    toks = tokens(text)
    n = F.size(toks)
    # guard: Spark's sequence(1, 0) is DEscending [1, 0], not empty
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array_repeat(F.lit(1), 0)
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def content_fingerprint(text: Column | str) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text. Exact-dedup key that survives
    formatting noise; reproducible in any engine with md5().
    """
    c = _col(text)
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


def shingle_hash60(s: Column | str) -> Column:
    """60-bit integer hash of a string: first 15 hex chars of md5.

    Engine-portable: DuckDB mirror is ``('0x' || substr(md5(s),1,15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(_col(s)), 1, 15), 16, 10).cast("bigint")


# Affine MinHash family over the 60-bit base hash: h_i = (A_i*lo + B_i*hi
# + C_i) mod M, with M = 2^61-1 (Mersenne prime) and A,B,C < 2^30 so all
# intermediates stay inside signed-64 range in any engine (no overflow,
# no engine-specific wrap semantics). Constants from a fixed LCG (seed
# 42) so the DuckDB oracle can embed the same literals.
MINHASH_PRIME = (1 << 61) - 1


def _lcg_constants(n: int, seed: int = 42) -> tuple[tuple[int, int, int], ...]:
    state = seed
    out = []
    for _ in range(n):
        triple = []
        for _ in range(3):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            triple.append((state >> 16) % ((1 << 30) - 1) + 1)
        out.append(tuple(triple))
    return tuple(out)


MINHASH_COEFFS = _lcg_constants(64)

