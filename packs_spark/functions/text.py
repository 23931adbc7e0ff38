"""Text-validation Column expressions.

Re-expresses the checks of the reference text-validation pack
(``/root/reference/text_validation_pack/main.py:36-119``) as native Spark
Column predicates — one wide aggregation pass instead of six pandas
series scans per column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lexical null placeholders recognized by the reference
# (text_validation_pack/main.py:20-33), matched case-insensitively.
NULL_PLACEHOLDERS = [
    "null",
    "none",
    "n/a",
    "na",
    "nan",
    "-",
    "--",
    "---",
    ".",
    "..",
    "undefined",
    "missing",
    "unknown",
    "#n/a",
    "#na",
    "#null!",
    "(blank)",
    "(empty)",
    "<null>",
]


def is_empty(c: Column) -> Column:
    """Empty-string test; NULLs are not empty (reference drops them first)."""
    return c == F.lit("")


def is_whitespace_only(c: Column) -> Column:
    """Whitespace-only but not empty (reference subtracts the empty count,
    text_validation_pack/main.py:104-105)."""
    return (F.trim(c) == F.lit("")) & (c != F.lit(""))


def is_null_placeholder(c: Column) -> Column:
    """Case-insensitive membership in the placeholder lexicon.

    Deliberately an Or-chain rather than ``isin``: above
    ``spark.sql.optimizer.inSetConversionThreshold`` (10) ``isin`` plans an
    ``InSet`` whose generated code takes ~25 s to JIT on first use — the
    Or-chain compiles instantly and short-circuits the same way.
    """
    lc = F.lower(c)
    pred = F.lit(False)
    for p in NULL_PLACEHOLDERS:
        pred = pred | (lc == F.lit(p))
    return pred


def is_surrounded_by_whitespace(c: Column) -> Column:
    """Value differs from its trimmed form (F2)."""
    return c != F.trim(c)


def word_count(c: Column) -> Column:
    """Whitespace-token count with pandas ``str.split()`` semantics:
    runs of whitespace delimit, leading/trailing ignored, ''/whitespace → 0
    (text_validation_pack/main.py:113)."""
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


# Lexical boolean forms recognized by the reference
# (fhir_compliance_pack/main.py:7-8), matched case-insensitively on the
# stringified value.
BOOLEAN_LIKE = ["true", "false", "1", "0", "yes", "no"]


def is_boolean_like(c: Column) -> Column:
    """F11: stringified value is a lexical boolean
    (fhir_compliance_pack/main.py:7-8).  Or-chain for the same
    InSet-codegen reason as :func:`is_null_placeholder`."""
    lc = F.lower(c.cast("string"))
    pred = F.lit(False)
    for b in BOOLEAN_LIKE:
        pred = pred | (lc == F.lit(b))
    return pred


# Cross-engine-deterministic parsability predicates (dqops CONVERSIONS
# family: text_parsable_to_*_percent).  Integer/float use explicit
# regexes rather than try_cast: engines disagree on cast edge semantics
# (DuckDB TRY_CAST('12.5' AS INT) rounds; Spark nulls), while these
# regexes behave identically under Java regex and RE2.
INTEGER_REGEX = r"^[+-]?\d+$"
FLOAT_REGEX = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"


def is_parsable_integer(c: Column) -> Column:
    return c.cast("string").rlike(INTEGER_REGEX)


def is_parsable_float(c: Column) -> Column:
    return c.cast("string").rlike(FLOAT_REGEX)


def slugify(c: Column) -> Column:
    """F15: whitespace runs → underscores (the reference's
    ``replace_whitespaces_with_underscores`` from qalita_core.utils, used
    on column names in soda_pack/main.py:44-51)."""
    return F.regexp_replace(F.trim(c), r"\s+", "_")


def count_if(pred: Column) -> Column:
    """Aggregate: number of rows where ``pred`` holds (NULL-safe: NULL → 0)."""
    return F.sum(F.coalesce(pred.cast("long"), F.lit(0)))


def slugify_columns(df):
    """Rename every column with whitespace runs collapsed to underscores,
    returning ``(renamed_df, association)`` where association maps the
    slugified name back to the original (the reference keeps the same
    mapping to translate check results back, soda_pack/main.py:44-51).
    Pure metadata — no data pass."""
    import re

    slugs = [re.sub(r"\s+", "_", c.strip()) for c in df.columns]
    if len(set(slugs)) != len(slugs):
        # fail HERE, not later with AMBIGUOUS_REFERENCE far from the cause
        dupes = sorted({s for s in slugs if slugs.count(s) > 1})
        raise ValueError(
            f"column names collide after slugify: {dupes} — rename the "
            "originals first"
        )
    assoc = {s: c for s, c in zip(slugs, df.columns)}
    return df.toDF(*slugs), assoc
