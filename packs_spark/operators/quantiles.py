"""Quantiles with an explicit exact / approximate mode split.

``exact=True`` — SQL ``percentile`` (sorted exact aggregation).  Bit-parity
with the DuckDB oracle (both use linear interpolation), which is what the
correctness gate needs — but the aggregation buffer holds every distinct
value, so a 100 TB high-cardinality double column is a memory cliff.

``exact=False`` — two-pass binned CDF, for ANY number of columns:

1. one codegen agg for per-column (min, max, count);
2. one fixed-width bucket-count pass: each row contributes one
   (column_index, bucket) pair per non-null column via a single
   explode + ``groupBy`` — a plain HashAggregate over a key space
   bounded by ``n_cols × bins``, partial-aggregated map-side, so the
   shuffle moves at most that many rows per task;
3. linear interpolation inside the hit bucket on the driver
   (≤ n_cols × bins rows collected, never data rows).

The estimate lands within one bin width, (max-min)/bins, of the
order statistics bracketing the target rank (like any histogram sketch,
the value error additionally absorbs the local inter-value gap when the
exact linear interpolation falls inside a gap between data values);
state is O(n_cols × bins) regardless of cardinality, and both passes stay
inside whole-stage codegen.  Note that even ``percentile_approx`` would
not fix the plan shape: like exact ``percentile`` it is a
TypedImperativeAggregate (ObjectHashAggregate, codegen barrier); the
binned path is the one that keeps the whole job in HashAggregate +
codegen.

This mirrors the reference's own policy of bounded-resource approximations
at scale (profiling_pack/main.py:26-28 caps profiling at 1e6 rows); exact
mode is kept for oracle parity and small data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_values_multi(
    df: DataFrame,
    cols: list[str],
    probs: list[float],
    exact: bool = True,
    bins: int = 4096,
) -> dict[str, list[float | None]]:
    """Driver-side quantile values for ``probs`` per column, batched:
    2 jobs total regardless of ``len(cols)`` in either mode.  A column
    that is empty / all-NULL yields ``[None, ...]``."""
    if exact:
        row = df.agg(
            *[
                F.percentile(F.col(c), list(probs)).alias(f"q_{i}")
                for i, c in enumerate(cols)
            ]
        ).collect()[0]
        return {
            c: [
                None if v is None else float(v)
                for v in (row[f"q_{i}"] or [None] * len(probs))
            ]
            for i, c in enumerate(cols)
        }

    stats = df.agg(
        *[
            e
            for i, c in enumerate(cols)
            for e in (
                F.min(F.col(c).cast("double")).alias(f"mn_{i}"),
                F.max(F.col(c).cast("double")).alias(f"mx_{i}"),
                F.count(F.col(c)).alias(f"n_{i}"),
            )
        ]
    ).collect()[0]

    out: dict[str, list[float | None]] = {}
    live: list[tuple[int, str, float, float, int]] = []
    for i, c in enumerate(cols):
        mn, mx, n = stats[f"mn_{i}"], stats[f"mx_{i}"], stats[f"n_{i}"]
        if n == 0 or mn is None:
            out[c] = [None] * len(probs)
        elif mn == mx:
            out[c] = [float(mn)] * len(probs)
        else:
            live.append((i, c, float(mn), float(mx), int(n)))
    if not live:
        return out

    # single bucket-count pass for every remaining column: one explode of
    # a per-row (col_idx, bucket) pair array, nulls compacted out
    pairs = []
    for i, c, mn, mx, _ in live:
        x = F.col(c).cast("double")
        width = (mx - mn) / bins
        bucket = F.least(F.lit(bins - 1), F.floor((x - F.lit(mn)) / F.lit(width)))
        pairs.append(
            F.when(
                x.isNotNull(),
                F.struct(F.lit(i).alias("i"), bucket.alias("b")),
            )
        )
    exploded = (
        df.select(
            F.explode(
                F.filter(F.array(*pairs), lambda s: s.isNotNull())
            ).alias("p")
        )
        .groupBy(F.col("p.i").alias("i"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts: dict[int, dict[int, int]] = {}
    for r in exploded:
        counts.setdefault(r["i"], {})[r["b"]] = r["c"]

    for i, c, mn, mx, n in live:
        width = (mx - mn) / bins
        col_counts = counts.get(i, {})
        cum, running = [], 0
        for b in range(bins):
            running += col_counts.get(b, 0)
            cum.append(running)
        vals: list[float | None] = []
        for p in probs:
            # continuous-quantile target rank in [0, n-1] (same convention
            # as percentile/quantile_cont); the value is interpolated
            # inside the bucket containing that rank
            t = p * (n - 1)
            target = int(t) + 1  # 1-based count needed to cover rank t
            b = next(j for j, cc in enumerate(cum) if cc >= target)
            before = cum[b - 1] if b else 0
            in_bucket = cum[b] - before
            frac = ((t - before) / in_bucket) if in_bucket else 0.0
            frac = min(max(frac, 0.0), 1.0)
            vals.append(mn + (b + frac) * width)
        out[c] = vals
    return out


def quantile_values(
    df: DataFrame,
    col: str,
    probs: list[float],
    exact: bool = True,
    bins: int = 4096,
) -> list[float | None]:
    """Driver-side quantile values for ``probs`` (each in [0, 1])."""
    return quantile_values_multi(df, [col], probs, exact=exact, bins=bins)[col]


def iqr_summary(
    df: DataFrame, cols: list[str], exact: bool = True, bins: int = 4096
) -> DataFrame:
    """Per-column IQR outlier profile: (column, q1, q3, outlier_count,
    normality_score) with Tukey 1.5×IQR fences
    (outlier_detection_pack/main.py IQR strategy).

    Three jobs regardless of column count (two quantile passes — one in
    exact mode — plus one fence-count pass).  An empty / all-NULL column
    gets a NULL-quartile row with outlier_count 0 instead of crashing
    the profile run."""
    quart = quantile_values_multi(df, cols, [0.25, 0.75], exact=exact, bins=bins)

    fence_cols = [c for c in cols if quart[c][0] is not None]
    aggs = []
    for col in fence_cols:
        q1, q3 = quart[col]
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        c = F.col(col)
        aggs.append(F.sum(((c < lo) | (c > hi)).cast("long")).alias(f"out_{col}"))
        aggs.append(F.count(c).alias(f"cnt_{col}"))
    spark = df.sparkSession
    wide = df.agg(*aggs) if aggs else spark.range(1)
    structs = []
    for col in cols:
        q1, q3 = quart[col]
        if q1 is None:
            structs.append(
                F.struct(
                    F.lit(col).alias("column"),
                    F.lit(None).cast("double").alias("q1"),
                    F.lit(None).cast("double").alias("q3"),
                    F.lit(0).cast("long").alias("outlier_count"),
                    F.lit(None).cast("double").alias("normality_score"),
                )
            )
        else:
            structs.append(
                F.struct(
                    F.lit(col).alias("column"),
                    F.round(F.lit(q1), 6).alias("q1"),
                    F.round(F.lit(q3), 6).alias("q3"),
                    F.col(f"out_{col}").alias("outlier_count"),
                    F.round(
                        1.0 - F.col(f"out_{col}") / F.col(f"cnt_{col}"), 4
                    ).alias("normality_score"),
                )
            )
    return wide.select(F.inline(F.array(*structs)))
