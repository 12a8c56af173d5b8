"""Text-analysis operators over a documents table.

DataFrame-level wrappers around the JVM-side column expressions in
functions/text.py — language distribution, per-source stats, quality
scoring, token counting, fingerprinting.  Each has an exact ANSI-SQL
oracle (see __spark_entry__.oracle_sql); all stay in whole-stage
codegen (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_md5,
    mean_word_length,
    punct_ratio,
    quality_heuristic,
    stopword_ratio,
    token_estimate,
    word_count,
)


def doc_token_stats(df: DataFrame) -> DataFrame:
    """Per-document word/token/char metrics."""
    return df.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        word_count(F.col("text")).alias("n_words"),
        token_estimate(F.col("text")).alias("n_tokens"),
    ).orderBy("doc_id")


def language_distribution(df: DataFrame) -> DataFrame:
    """Per-language doc counts + char/token totals.

    ``avg_chars`` is computed as an exact integer sum divided once
    (IEEE-exact division) and cast to DECIMAL(18,2) — NOT
    ``round(avg(...), 2)`` on a double: double `avg` accumulates in
    summation order, so Spark and an ANSI oracle can differ in the last
    ulp pre-round and flip the rounded digit (round-1 driver red cell).
    ``total_tokens`` is pinned to BIGINT (DuckDB ``sum(INT)`` yields
    HUGEINT otherwise).
    """
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            (F.sum(F.length("text")).cast("double") / F.count("*"))
            .cast("decimal(18,2)").alias("avg_chars"),
            F.sum(token_estimate(F.col("text"))).cast("bigint")
            .alias("total_tokens"),
        )
        .orderBy("lang")
    )


def source_stats(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg(word_count(F.col("text"))), 2).alias("avg_words"),
            F.max(F.length("text")).alias("max_chars"),
            F.min(F.length("text")).alias("min_chars"),
        )
        .orderBy("source")
    )


def doc_quality(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        quality_heuristic(F.col("text")).alias("quality"),
        stopword_ratio(F.col("text")).alias("stopword_ratio"),
        punct_ratio(F.col("text")).alias("punct_ratio"),
        mean_word_length(F.col("text")).alias("mean_word_len"),
    ).orderBy("doc_id")


def doc_fingerprints(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", fingerprint_md5(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def length_filter(df: DataFrame, min_chars: int = 100,
                  max_chars: int = 1_000_000) -> DataFrame:
    """Length-window quality filter (predicate pushes to the scan)."""
    return df.filter(
        (F.length("text") >= min_chars) & (F.length("text") <= max_chars)
    )


# GPT-2-style pretokenizer, RE2-safe subset: no lookahead (RE2 lacks
# it), ASCII classes (the corpus is ASCII; swap [A-Za-z]→\p{L} on a
# unicode corpus — both Java regex and RE2 support \p{L}).  Contraction
# pieces first, then space-prefixed letter/digit/punct runs, then
# whitespace runs — the alternation order IS the tokenizer.
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Three token-count estimators per document, all JVM-side:
    whitespace words, a BPE-ish pretokenizer count (regexp over the
    GPT-2 pattern — counts pieces the way a byte-BPE would split before
    merges, the standard cheap proxy for real tokenizer cost), and the
    reference's chars/4 estimate (markdown.ts estimateTokens)."""
    bpe = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_RE), 0))
    return df.select(
        F.col(id_col),
        word_count(F.col(text_col)).alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        token_estimate(F.col(text_col)).alias("est_tokens"),
    ).orderBy(id_col)


def token_counts_oracle_sql() -> str:
    """DuckDB twin of token_counts (same RE2-safe pattern)."""
    pat = BPE_TOKEN_RE.replace("'", "''")
    return f"""
        SELECT doc_id,
               {_WC_SQL} AS ws_tokens,
               len(regexp_extract_all(text, '{pat}')) AS bpe_tokens,
               CAST(ceil(length(text) / 4.0) AS INT) AS est_tokens
        FROM documents ORDER BY doc_id
    """


_WC_SQL = ("CASE WHEN trim(text) = '' THEN 0 "
           "ELSE len(string_split_regex(trim(text), '\\s+')) END")


# ── question answering / relevance (Arrow-batched Python stages) ────────

def quick_answers(df: DataFrame, question: str, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document LLM-free QA (pure/quick_answer port) as one
    mapInPandas stage → (id, answer, confidence)."""
    import pandas as pd

    from ..plans.partitioning import fan_out

    def batches(it):
        from ..pure.quick_answer import quick_answer

        for pdf in it:
            out = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                r = quick_answer(question, t or "")
                out.append((i, r["answer"], r["confidence"]))
            yield pd.DataFrame(out, columns=[id_col, "answer", "confidence"])

    return fan_out(df.select(id_col, text_col)).mapInPandas(
        batches, f"{id_col} long, answer string, confidence double")


# ── language ID (stopword vote), fully JVM-side ─────────────────────────

_LANG_SAMPLE_CHARS = 2000  # pure/langdetect.py sample_chars


def _lang_votes(words_col):
    """One vote-count column per language, in _STOPWORDS order."""
    from ..pure.langdetect import _STOPWORDS

    return [
        F.size(F.filter(words_col, lambda w: w.isin(list(sw)))).alias(f"v_{lang}")
        for lang, sw in _STOPWORDS.items()
    ]


def lang_id_stopword(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID as pure Catalyst expressions.

    The JVM-side twin of pure/langdetect._stopword_vote (identical
    output on Latin-script text; the full detector adds a codepoint
    histogram for CJK etc. and runs inside the extraction UDF).
    Tie-break = first language in _STOPWORDS order with the max vote,
    matching Python dict-order max().
    """
    from ..pure.langdetect import _STOPWORDS, _WORD_RE

    langs = list(_STOPWORDS)
    sample = F.substring(F.col(text_col), 1, _LANG_SAMPLE_CHARS)
    words = F.regexp_extract_all(F.lower(sample), F.lit(_WORD_RE.pattern), 0)
    base = df.select(F.col(id_col), words.alias("__w")).select(
        id_col, F.size("__w").alias("__nw"), *_lang_votes(F.col("__w"))
    )
    maxv = F.greatest(*[F.col(f"v_{lang}") for lang in langs])
    guess = F.when((F.col("__nw") == 0) | (maxv == 0), F.lit("und"))
    for lang in langs:
        guess = guess.when(F.col(f"v_{lang}") == maxv, F.lit(lang))
    return base.select(
        id_col, guess.alias("lang_guess")
    ).orderBy(id_col)


def lang_id_oracle_sql() -> str:
    """DuckDB SQL mirroring lang_id_stopword over the documents view."""
    from ..pure.langdetect import _STOPWORDS, _WORD_RE

    langs = list(_STOPWORDS)
    vote_cols = ",\n                 ".join(
        "len(list_filter(w, x -> list_contains(["
        + ",".join(f"'{s}'" for s in sorted(_STOPWORDS[lang]))
        + f"], x))) AS v_{lang}"
        for lang in langs
    )
    maxv = "greatest(" + ", ".join(f"v_{lang}" for lang in langs) + ")"
    case = "CASE WHEN len(w) = 0 OR " + maxv + " = 0 THEN 'und' "
    case += " ".join(
        f"WHEN v_{lang} = {maxv} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
        WITH tok AS (
          SELECT doc_id,
                 regexp_extract_all(lower(substring(text, 1, {_LANG_SAMPLE_CHARS})),
                                    '{_WORD_RE.pattern}') AS w
          FROM documents
        ), v AS (
          SELECT doc_id, w,
                 {vote_cols}
          FROM tok
        )
        SELECT doc_id, {case} AS lang_guess
        FROM v ORDER BY doc_id
    """
