"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristics, document fingerprinting.

All column-expression based (JVM, codegen); the model-based language ID
(char-ngram naive Bayes) lives in packs_spark.ml.langid as a pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from packs_spark.pipeline import rules

# BPE-ish pre-tokenizer: word pieces or single non-space symbols (the usual
# GPT-2-style pre-split, minus unicode categories the sandbox data lacks).
BPE_SPLIT_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(c: Column) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_REGEX), 0))


def quality_score(c: Column, w: Column) -> Column:
    """Composite 0..1 quality score of text ``c`` with lowercase word array
    ``w`` (``rules.words(F.lower(c))``): equal-weight blend of four bounded
    signals (length saturation at 500 chars, symbol cleanliness, stopword
    density saturation at 10%, vocabulary diversity)."""
    length_sig = F.least(rules.n_chars(c) / F.lit(500.0), F.lit(1.0))
    symbol_sig = 1.0 - F.least(rules.symbol_ratio(c) / F.lit(0.5), F.lit(1.0))
    stop_sig = F.least(rules.stopword_ratio(w) / F.lit(0.10), F.lit(1.0))
    diversity_sig = rules.distinct_word_ratio(w)
    return (length_sig + symbol_sig + stop_sig + diversity_sig) / 4.0


# Marker-word language ID (heuristic tier; the statistical model is
# packs_spark.ml.langid).  Tiny per-language function-word lists.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "es", "y"],
}


def langid_heuristic(c: Column) -> Column:
    """argmax over marker-word hit counts; 'unknown' when all zero.
    Deterministic tie-break: language key order as listed."""
    w = rules.words(F.lower(c))
    scores = {
        lang: F.size(F.filter(w, lambda x: x.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.lit("unknown")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:
        s = scores[lang]
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best


def fingerprint(c: Column, k: int = 8) -> Column:
    """Winnowing-style document fingerprint: minimum md5 over character
    k-grams (deterministic, order-free, locality-insensitive to small
    appends — SURVEY 'document fingerprinting / rolling hash')."""
    n = F.length(c) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.md5(F.substring(c, i, k)),
    )
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_min(grams)
    )


def summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass corpus text statistics.  The lowercase word array is
    projected once, and every word statistic reads that column: each use
    of a ``split`` expression splits every document again.  The whitespace
    token count is the array's size (lowercasing moves no whitespace)."""
    lower_words = rules.words(F.lower(F.col(text_col)))
    t = df.select(F.col(text_col).alias("__t"), lower_words.alias("__w"))
    c, w = F.col("__t"), F.col("__w")
    return t.agg(
        F.count(c).alias("n_docs"),
        F.sum(F.size(w).cast("long")).alias("total_ws_tokens"),
        F.sum(bpe_tokens(c).cast("long")).alias("total_bpe_tokens"),
        F.round(F.avg(quality_score(c, w)), 4).alias("avg_quality"),
        F.round(F.avg(rules.symbol_ratio(c)), 6).alias("avg_symbol_ratio"),
        F.round(F.avg(rules.distinct_word_ratio(w)), 6).alias("avg_distinct_ratio"),
        F.countDistinct(fingerprint(c)).alias("n_fingerprints"),
    )
