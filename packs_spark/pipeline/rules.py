"""Heuristic quality rules for web text (Gopher/C4-style, re-expressed from
the reference packs' text checks — SURVEY §2.4 A8, §2.8 F1-F5).

Everything here is a native Column expression (JVM-side, codegen'd); each
rule also has an ANSI-SQL rendering so the whole rule set is DuckDB-checkable.
Model-backed signals (langid confidence, perplexity) join in at the pipeline
level (packs_spark.pipeline.webtext) — they are computed in the pipeline's
Arrow batch function (pipeline.udfs) and are verified by pytest against a
pandas oracle instead.

The keep rule is written once, ``heuristic_keep``, over the ``q_*`` quality
signals with the ``DEFAULTS`` thresholds — as a Column over signal columns,
or over the pipeline's numpy signal arrays; ``sql_keep_mask`` is its DuckDB
oracle twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact multilingual function-word list for the stopword-density signal
# (public top-frequency words across en/fr/de/es/it; intentionally small —
# the signal needs density, not linguistic completeness).
STOPWORDS = [
    # en
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this",
    # fr
    "le", "la", "les", "et", "est", "que", "pour", "nous", "il", "du",
    # de
    "der", "die", "das", "und", "ist", "den", "dem", "wir", "sie", "auf",
    # es
    "el", "los", "las", "es", "y", "que", "para", "por", "con", "un",
    # it
    "il", "lo", "gli", "e", "che", "per", "con", "del", "noi", "un",
]
STOPWORDS = sorted(set(STOPWORDS))

DEFAULTS = dict(
    min_chars=50,
    max_chars=100_000,
    min_words=10,
    max_symbol_ratio=0.30,
    min_stopword_ratio=0.01,
    min_distinct_ratio=0.25,
)


def words(c: Column) -> Column:
    """Whitespace tokens, '' → empty array (pandas str.split parity)."""
    return F.when(F.trim(c) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(c), r"\s+")
    )


def n_chars(c: Column) -> Column:
    return F.length(c)


def symbol_ratio(c: Column) -> Column:
    """Non-alphanumeric, non-whitespace chars / total chars (0 for empty)."""
    total = F.length(c)
    sym = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(sym / total)


def stopword_ratio(w: Column) -> Column:
    """Fraction of the tokens of ``w``, the lowercase word array
    ``words(F.lower(text))``, found in STOPWORDS (0 if no tokens).  The
    word-array rules take the array, not the text, so that a caller binds
    it once for all of them."""
    n = F.size(w)
    # count token hits (array_intersect would dedup them)
    hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits / n)


def distinct_word_ratio(w: Column) -> Column:
    """|distinct tokens| / |tokens| of the lowercase word array ``w`` —
    repetition/boilerplate signal (1.0 for empty docs so they fail on
    length, not repetition)."""
    n = F.size(w)
    return F.when(n == 0, F.lit(1.0)).otherwise(F.size(F.array_distinct(w)) / n)


def repeated_bigram_ratio(c: Column) -> Column:
    """Fraction of word bigrams that are repeats of an earlier bigram —
    the Gopher-style n-gram repetition signal (the 1-gram variant is
    ``distinct_word_ratio``).  0.0 for docs with < 2 words (they fail on
    length, not repetition).  Pure codegen: transform over the token
    array builds the bigram array, array_distinct counts uniques."""
    w = words(F.lower(c))
    n = F.size(w) - 1
    bg = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2)),
        )
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(bg)) / n
    )


def heuristic_keep(sig: Callable = F.col):
    """THE heuristic keep rule (True = keep): the conjunction of every
    ``DEFAULTS`` threshold over the ``q_*`` quality signals, each looked up
    with ``sig(name)``.  With the default ``F.col`` it is a Column for the
    flagship query (``webtext.quality_columns``, JVM signals), where a
    NULL text (NULL ``q_n_chars``) is dropped, never NULL-labeled; the
    pipeline's ``udfs.make_label_batch`` passes its numpy signal arrays
    and gets a bool array (a NULL text has 0 chars there, so it fails
    ``min_chars``)."""
    t = DEFAULTS
    n_chars = sig("q_n_chars")
    keep = (
        (n_chars >= t["min_chars"])
        & (n_chars <= t["max_chars"])
        & (sig("q_n_words") >= t["min_words"])
        & (sig("q_symbol_ratio") <= t["max_symbol_ratio"])
        & (sig("q_stopword_ratio") >= t["min_stopword_ratio"])
        & (sig("q_distinct_ratio") >= t["min_distinct_ratio"])
    )
    if isinstance(keep, Column):
        keep = n_chars.isNotNull() & keep
    return keep


# Tracking query parameters stripped by url canonicalization (public
# lists: UTM campaign tags + common click ids).
TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "ref", "referrer",
]


def canonical_url(c: Column) -> Column:
    """URL canonical form for url-level dedup (the standard CC pipeline
    step BEFORE content dedup — the same page is crawled under many
    tracking-tagged urls):

    * lowercase scheme+host (path case preserved — it is significant);
    * drop the fragment;
    * drop tracking query params (TRACKING_PARAMS), keep the rest in
      their original order;
    * drop default ports (:80 for http, :443 for https);
    * collapse a trailing ``/`` on the path.

    Pure regexp_replace chain — codegen, no UDF."""
    u = c
    # fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # default ports — paired with their scheme (https://host:80 is a
    # DIFFERENT resource from https://host and must not collapse)
    u = F.regexp_replace(u, r"(?i)^(http://[^/:?#]+):80(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"(?i)^(https://[^/:?#]+):443(?=[/?]|$)", r"$1")
    # tracking params, in three positional rules, applied ONLY when the
    # url has a query ('?') — so a literal '&' in a query-less PATH is
    # never rewritten:
    #   1. '&name=value'  (non-leading, global)  → drop;
    #   2. '?name=value&' (leading, more follow) → '?';
    #   3. '?name=value'  at end                 → drop.
    # rule 1 leaves at most ONE leading tracking param for rules 2-3.
    # (Known pathological case, documented: a PATH segment that literally
    # spells '&utm_...=...' before the '?' is also stripped.)
    params = "|".join(TRACKING_PARAMS)
    stripped = F.regexp_replace(u, rf"&(?:{params})=[^&#]*", "")
    stripped = F.regexp_replace(stripped, rf"\?(?:{params})=[^&#]*&", "?")
    stripped = F.regexp_replace(stripped, rf"\?(?:{params})=[^&#]*$", "")
    u = F.when(u.contains("?"), stripped).otherwise(u)
    # trailing '?' with no params
    u = F.regexp_replace(u, r"\?$", "")
    u = F.regexp_replace(u, r"(?i)(https?://[^/?#]+/.+?)/+(\?|$)", r"$1$2")
    # lowercase scheme+host only (path case is significant)
    head = F.regexp_extract(u, r"(?i)^(https?://[^/?#]*)", 1)
    return F.concat(
        F.lower(head),
        F.substring(u, F.length(head) + 1, F.lit(2_000_000_000)),
    )


# ---------------------------------------------------------------------------
# ANSI-SQL renderings (DuckDB oracle).  Token arrays via
# regexp_split_to_array; list_filter/list_distinct mirror the Spark HOFs.
# ---------------------------------------------------------------------------


def sql_words(col: str) -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array(trim({col}), '\\s+') END"
    )


def sql_n_words(col: str) -> str:
    return f"length({sql_words(col)})"


def sql_symbol_ratio(col: str) -> str:
    return (
        f"CASE WHEN length({col}) = 0 THEN 0.0 ELSE "
        f"length(regexp_replace({col}, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / length({col}) END"
    )


def sql_stopword_ratio(col: str) -> str:
    w = sql_words(f"lower({col})")
    sw = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    return (
        f"CASE WHEN {sql_n_words(col)} = 0 THEN 0.0 ELSE "
        f"length(list_filter({w}, x -> list_contains({sw}, x))) * 1.0 / {sql_n_words(col)} END"
    )


def sql_distinct_word_ratio(col: str) -> str:
    w = sql_words(f"lower({col})")
    return (
        f"CASE WHEN {sql_n_words(col)} = 0 THEN 1.0 ELSE "
        f"length(list_distinct({w})) * 1.0 / {sql_n_words(col)} END"
    )


def sql_repeated_bigram_ratio(col: str) -> str:
    w = sql_words(f"lower({col})")
    n = f"({sql_n_words(col)} - 1)"
    bg = (
        f"[list_extract({w}, i) || ' ' || list_extract({w}, i + 1) "
        f"FOR i IN range(1, {sql_n_words(col)})]"
    )
    return (
        f"CASE WHEN {n} <= 0 THEN 0.0 ELSE "
        f"1.0 - length(list_distinct({bg})) * 1.0 / {n} END"
    )


def sql_keep_mask(col: str) -> str:
    t = DEFAULTS
    return (
        f"({col} IS NOT NULL"
        f" AND length({col}) >= {t['min_chars']}"
        f" AND length({col}) <= {t['max_chars']}"
        f" AND {sql_n_words(col)} >= {t['min_words']}"
        f" AND {sql_symbol_ratio(col)} <= {t['max_symbol_ratio']}"
        f" AND {sql_stopword_ratio(col)} >= {t['min_stopword_ratio']}"
        f" AND {sql_distinct_word_ratio(col)} >= {t['min_distinct_ratio']})"
    )
