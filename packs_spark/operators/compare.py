"""Tolerant dataset diff (reference: data_compare_pack/main.py:219-267, J4).

The reference delegates to datacompy (pandas full-outer merge + per-column
tolerance compare, then regex-parses the text report back into metrics).
Here the diff is a single full-outer join; every count comes from one
conditional aggregation over the joined frame — no report parsing.

Scale: the join shuffles both sides on the id columns once; all mismatch
counts ride on the same shuffle.  With a small reference side use
``broadcast=True``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compare(
    source: DataFrame,
    target: DataFrame,
    id_cols: list[str],
    compare_cols: list[str] | None = None,
    abs_tol: float = 1e-4,
    rel_tol: float = 0.0,
    broadcast: bool = False,
) -> DataFrame:
    """One-row summary: rows_in_common / source-only / target-only,
    per-run cell mismatches, fully-matched rows, and the datacompy-style
    match score.  Numeric columns match within ``abs_tol + rel_tol*|t|``
    (datacompy semantics, data_compare_pack/main.py:150-151); other
    columns match on null-safe equality.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in source.columns if c not in id_cols and c in target.columns
        ]

    s = source.select(
        *[F.col(c).alias(f"s_{c}") for c in id_cols + compare_cols]
    ).withColumn("__s", F.lit(1))
    t = target.select(
        *[F.col(c).alias(f"t_{c}") for c in id_cols + compare_cols]
    ).withColumn("__t", F.lit(1))
    if broadcast:
        t = F.broadcast(t)

    cond = [s[f"s_{c}"] == t[f"t_{c}"] for c in id_cols]
    j = s.join(t, cond, "full_outer")

    both = s["__s"].isNotNull() & t["__t"].isNotNull()

    def col_match(c: str) -> F.Column:
        sc, tc = s[f"s_{c}"], t[f"t_{c}"]
        numeric_like = dict(source.dtypes).get(c) in (
            "double",
            "float",
            "int",
            "bigint",
            "smallint",
            "decimal",
        )
        if numeric_like:
            close = F.abs(sc - tc) <= (F.lit(abs_tol) + F.lit(rel_tol) * F.abs(tc))
            return (sc.isNull() & tc.isNull()) | F.coalesce(close, F.lit(False))
        return sc.eqNullSafe(tc)

    matches = [col_match(c) for c in compare_cols]
    all_match = matches[0]
    for m in matches[1:]:
        all_match = all_match & m
    n_mismatch_cells = sum(
        F.sum(F.when(both & ~m, 1).otherwise(0)) for m in matches
    )

    return j.agg(
        F.sum(F.when(both, 1).otherwise(0)).alias("rows_in_common"),
        F.sum(F.when(s["__s"].isNotNull() & t["__t"].isNull(), 1).otherwise(0)).alias(
            "rows_source_only"
        ),
        F.sum(F.when(s["__s"].isNull() & t["__t"].isNotNull(), 1).otherwise(0)).alias(
            "rows_target_only"
        ),
        n_mismatch_cells.cast("long").alias("cell_mismatches"),
        F.sum(F.when(both & all_match, 1).otherwise(0)).alias("rows_fully_matched"),
        # NULL, not a division by zero, when no row is in common
        F.round(
            F.try_divide(
                F.sum(F.when(both & all_match, 1).otherwise(0)),
                F.sum(F.when(both, 1).otherwise(0)),
            ),
            4,
        ).alias("match_rate"),
    )
