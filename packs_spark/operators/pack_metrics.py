"""Metric builders of the table packs: one place per pack's math.

``pack_api.run_pack``'s adapter for a pack and that pack's oracle-gated
registry rows (``queries_packs``) call the same builder here, so the
DuckDB oracle checks the numbers ``run_pack`` users get.  A builder that
a registry row extends with its own aggregates over the same scan returns
aggregate Columns, named as ``run_pack`` emits them; callers pick and
rename what they output, so no builder branches on its caller and no
caller adds a scan.

Ratios guard the empty input (``count == 0``) with a CASE, which
short-circuits under ANSI mode where a bare ``/ 0`` would raise.  They
round in Spark, half up like the oracle; ``run_pack`` spells the ratios
it has always rounded on the driver (orphan_ratio, in_range_percent,
proportion_at_modal) from the builder's counts with Python's ``round``,
the reference's.

numeric_validation and pii_scanner share their math through
:mod:`packs_spark.functions.numeric` (``below_min`` / ``above_max``) and
:func:`packs_spark.functions.patterns.pii_hit_count` directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from packs_spark.functions import numeric as NUM
from packs_spark.functions.patterns import FORMAT_PATTERNS, matches_format
from packs_spark.functions.text import count_if


def _rows() -> Column:
    return F.count(F.lit(1))


def _share(part: Column, whole: Column, ndigits: int, empty: float) -> Column:
    """round(part / whole, ndigits), or ``empty`` when whole is 0."""
    return F.when(whole == 0, F.lit(empty)).otherwise(
        F.round(part / whole, ndigits)
    )


# -- profiling (profiling_pack/main.py:306-432) -----------------------------


def cells_missing(cols: list[str]) -> list[Column]:
    """Dataset metrics: n_rows, n_var, n_cells_missing, p_cells_missing."""
    n = _rows()
    missing = sum(F.sum(F.col(c).isNull().cast("long")) for c in cols)
    return [
        n.alias("n_rows"),
        F.lit(len(cols)).alias("n_var"),
        missing.alias("n_cells_missing"),
        F.round(missing / (n * len(cols)), 6).alias("p_cells_missing"),
    ]


def completeness(nn: Column, n: Column, ndigits: int) -> Column:
    """Share of ``n`` rows that ``nn`` (a column's non-null count) covers;
    an empty table reads 0."""
    return F.round(nn / F.greatest(n, F.lit(1)), ndigits)


# -- pattern_validation (pattern_validation_pack/main.py:40-57) -------------


def pattern_check(col: str, pattern: str) -> list[Column]:
    """invalid_count / invalid_percent and valid / valid_percent of one
    format check, all over count(*): a NULL or empty cell is valid, like
    the reference (``if x else True``).  An empty table leaves the counts
    NULL."""
    n = _rows()
    invalid = count_if(~matches_format(F.col(col), FORMAT_PATTERNS[pattern]))
    return [
        invalid.alias("invalid_count"),
        F.round(invalid / n, 4).alias("invalid_percent"),
        (n - invalid).alias("valid"),
        _share(n - invalid, n, 4, 1.0).alias("valid_percent"),
    ]


# -- duplicates_finder (duplicates_finder_pack/main.py:150-173) -------------


def duplicates(keys: list[str]) -> list[Column]:
    """n_rows, distinct_count, duplicates, score, distinct_percent and
    duplicate_percent of the key tuple; an empty input scores 1.0."""
    n = _rows()
    d = F.countDistinct(F.struct(*[F.col(c) for c in keys]))
    return [
        n.alias("n_rows"),
        d.alias("distinct_count"),
        (n - d).alias("duplicates"),
        _share(d, n, 2, 1.0).alias("score"),
        _share(d, n, 4, 1.0).alias("distinct_percent"),
        _share(n - d, n, 4, 0.0).alias("duplicate_percent"),
    ]


# -- referential_integrity (referential_integrity_pack/main.py:26-79) -------


def orphans(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """One row: orphan_count, child_count, orphan_ratio — child rows whose
    non-NULL key has no parent, in one left join and one aggregate.

    The parent key is aliased: with ``child_key == parent_key`` (the common
    FK config) an unaliased join raises AMBIGUOUS_REFERENCE.  No broadcast
    hint: AQE broadcasts a dimension-sized key set on its own, and a
    fact-sized parent degrades to a shuffle join instead of failing at the
    broadcast limit."""
    pkeys = parent.select(F.col(parent_key).alias("__parent_key")).dropDuplicates()
    joined = child.join(pkeys, child[child_key] == F.col("__parent_key"), "left")
    n = _rows()
    orphan = F.sum(
        (child[child_key].isNotNull() & F.col("__parent_key").isNull()).cast("long")
    )
    return joined.agg(
        F.coalesce(orphan, F.lit(0)).alias("orphan_count"),
        n.alias("child_count"),
        _share(orphan, n, 4, 0.0).alias("orphan_ratio"),
    )


# -- accuracy (accuracy_pack/main.py:49-66) ---------------------------------


def decimal_precision(df: DataFrame, col: str) -> DataFrame:
    """One row: modal_digits, modal_count, non_null, proportion_at_modal of
    the decimal-digit histogram of ``col``.

    non_null is the SUM of the histogram, so one scan.  The modal row is a
    struct-max over the (tiny) histogram: max (cnt, -digits) is the highest
    count, ties to the fewest digits.  All NULL leaves every field NULL."""
    hist = (
        df.where(F.col(col).isNotNull())
        .select(NUM.decimal_digits(F.col(col)).alias("digits"))
        .groupBy("digits")
        .agg(_rows().alias("cnt"))
    )
    agg = hist.agg(
        F.max(F.struct(F.col("cnt"), (-F.col("digits")).alias("neg_digits"))).alias("m"),
        F.sum("cnt").alias("non_null"),
    )
    return agg.select(
        (-F.col("m.neg_digits")).alias("modal_digits"),
        F.col("m.cnt").alias("modal_count"),
        F.col("non_null"),
        F.round(F.col("m.cnt") / F.col("non_null"), 4).alias(
            "proportion_at_modal"
        ),
    )


# -- schema_scanner (schema_scanner_pack/main.py:61-72) ---------------------


def schema_signature(df: DataFrame) -> list[Column]:
    """column_count and columns_hash (md5 of the sorted names) — driver
    metadata as literals, no data pass."""
    names = sorted(df.columns)
    return [
        F.lit(len(names)).alias("column_count"),
        F.md5(F.lit(",".join(names))).alias("columns_hash"),
    ]
