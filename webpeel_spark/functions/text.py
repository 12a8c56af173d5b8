"""JVM-side column expressions for text analytics.

Every function here returns a Catalyst Column built from builtin
``pyspark.sql.functions`` — no Python UDFs — so these stay inside
whole-stage codegen.  They mirror the reference's scalar text metrics:
token estimate ``ceil(len/4)`` (markdown.ts:753-755), whitespace word
count (metadata.ts:169-187) and the quality-score style
length/punct/stopword ratios used for training-data quality filtering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_estimate(col) -> Column:
    """~4 chars/token (markdown.ts:753-755)."""
    return F.ceil(F.length(col) / F.lit(4)).cast("int")


def word_count(col) -> Column:
    """Whitespace word count; 0 for empty/blank strings."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("int")


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars (quality signal)."""
    punct = F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.round(punct / F.greatest(F.length(col), F.lit(1)), 4)


def stopword_ratio(col, stopwords=None) -> Column:
    """Fraction of words that are english stopwords (quality signal)."""
    if stopwords is None:
        stopwords = ["the", "and", "of", "to", "in", "is", "that", "for",
                     "with", "was", "it", "on", "a", "an", "as", "at", "by"]
    words = F.split(F.lower(F.trim(col)), r"\s+")
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return F.round(hits / F.greatest(F.size(words), F.lit(1)), 4)


def mean_word_length(col) -> Column:
    words = F.split(F.trim(col), r"\s+")
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.round(total / F.greatest(F.size(words), F.lit(1)), 4)


def fingerprint_md5(col) -> Column:
    """Exact-content fingerprint (md5 — portable to the DuckDB oracle)."""
    return F.md5(col)


def quality_heuristic(col) -> Column:
    """0-1 composite quality for raw text (length band + stopword +
    punctuation) — the documents-table analog of calculateQuality
    (markdown.ts:499-536); rounded for oracle comparison."""
    length = F.length(col)
    length_score = (
        F.when(length < 50, 0.3)
        .when(length < 200, 0.6)
        .when(length < 50000, 1.0)
        .otherwise(0.8)
    )
    sw = stopword_ratio(col)
    sw_score = F.least(sw / F.lit(0.35), F.lit(1.0))
    punct = punct_ratio(col)
    punct_score = F.when(punct > 0.2, 0.5).otherwise(1.0)
    return F.round(length_score * 0.4 + sw_score * 0.4 + punct_score * 0.2, 4)
