"""Two-sample Kolmogorov–Smirnov drift test, distributed (A13 in SURVEY §2.4).

The reference calls ``scipy.stats.ks_2samp`` on two driver-resident numpy
arrays (data_drift_pack/main.py:49-64).  Here the KS statistic
``D = sup_x |ECDF_a(x) - ECDF_b(x)|`` is computed as a fully distributed
plan that never materializes a sample on one node:

  1. union both samples tagged a/b, groupBy value → per-value counts
     (first shuffle; output is |distinct values| rows);
  2. range-bucket the values by approx quantiles of the grouped keys —
     cheap because it runs on the *grouped* frame — then one window
     cumsum **within each bucket** (second shuffle, parallel across
     buckets) plus driver-side bucket-offset prefix sums (|buckets| rows);
  3. D = max over rows of |cum_a/n_a - cum_b/n_b| evaluated at each jump
     (both one-sided sups are covered because every jump point of either
     ECDF is a row).

A naive ``Window.orderBy(x)`` with no partition key would funnel the whole
grouped frame through ONE task — the bucket construction is what keeps the
sup computation parallel at 100TB scale.

The p-value uses the asymptotic two-sided Kolmogorov distribution
(same as scipy's method="asymp"); the reference's method="auto" switches
to the exact distribution only for small samples, covered in pytest.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from packs_spark.io.envelope import one_row


def grouped_value_counts(
    df_a: DataFrame, df_b: DataFrame, col: str
) -> DataFrame:
    """(x, ca, cb) per distinct value — the ONE shuffle of the KS plan.

    Raw rows meet exactly one union + groupBy (partial aggregation
    map-side); every downstream KS step (cardinality probe, bucket
    boundaries, per-bucket ECDF windows) operates on this distinct-value
    frame, so the expensive pass is a single HashAggregate exchange no
    matter how many raw rows feed it."""
    a = df_a.select(F.col(col).alias("x")).where(F.col(col).isNotNull())
    b = df_b.select(F.col(col).alias("x")).where(F.col(col).isNotNull())
    tagged = a.withColumn("is_a", F.lit(1)).unionByName(
        b.withColumn("is_a", F.lit(0))
    )
    return tagged.groupBy("x").agg(
        F.sum("is_a").alias("ca"),
        F.sum(1 - F.col("is_a")).alias("cb"),
    )


def ks_2sample(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    n_buckets: int = 64,
) -> tuple[float, int, int]:
    """Return (D, n_a, n_b)."""
    g = grouped_value_counts(df_a, df_b, col)
    # Adaptive small-cardinality fast path: the grouped frame has one row
    # per DISTINCT value — for low-cardinality columns (flags, quantities,
    # ratings) that is tiny regardless of row count, and the exact sup is
    # one sorted pass on the driver instead of the quantile + window plan
    # (saves ~3 Spark jobs).  The distributed bucketed path below is the
    # scale path for genuinely high-cardinality columns.
    small_cap = 100_000
    # persist BEFORE the cardinality probe, and probe with count():
    # count materializes every partition exactly once (fully filling the
    # cache — a limit().collect() probe would transfer 100k rows to the
    # driver AND leave the cache partial), so every downstream action
    # (quantiles, totals, window) reuses the grouped frame instead of
    # re-running the union+groupBy shuffle — one pass over the base data.
    g = g.persist()
    try:
        if g.count() <= small_cap:
            rows = sorted(g.collect(), key=lambda r: r["x"])
            n_a = sum(r["ca"] for r in rows)
            n_b = sum(r["cb"] for r in rows)
            if n_a == 0 or n_b == 0:
                return 0.0, n_a, n_b
            cum_a = cum_b = 0
            d = 0.0
            for r in rows:
                cum_a += r["ca"]
                cum_b += r["cb"]
                d = max(d, abs(cum_a / n_a - cum_b / n_b))
            return float(d), n_a, n_b
        # Bucket boundaries from the grouped keys (small frame).
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = g.approxQuantile("x", probs, 0.001)
        bucket = F.lit(0)
        for i, t in enumerate(bounds):
            bucket = F.when(F.col("x") > F.lit(t), F.lit(i + 1)).otherwise(bucket)
        gb = g.withColumn("bucket", bucket)

        totals = (
            gb.groupBy("bucket")
            .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
            .collect()
        )
        offs_a: dict[int, int] = {}
        offs_b: dict[int, int] = {}
        run_a = run_b = 0
        for r in sorted(totals, key=lambda r: r["bucket"]):
            offs_a[r["bucket"]] = run_a
            offs_b[r["bucket"]] = run_b
            run_a += r["ta"]
            run_b += r["tb"]
        n_a, n_b = run_a, run_b
        if n_a == 0 or n_b == 0:
            return 0.0, n_a, n_b

        off_a_col = F.lit(0)
        off_b_col = F.lit(0)
        for k in offs_a:
            off_a_col = F.when(F.col("bucket") == k, F.lit(offs_a[k])).otherwise(
                off_a_col
            )
            off_b_col = F.when(F.col("bucket") == k, F.lit(offs_b[k])).otherwise(
                off_b_col
            )

        w = Window.partitionBy("bucket").orderBy("x")
        cum = gb.select(
            "bucket",
            "x",
            (F.sum("ca").over(w) + off_a_col).alias("cum_a"),
            (F.sum("cb").over(w) + off_b_col).alias("cum_b"),
        )
        d_row = cum.agg(
            F.max(
                F.abs(
                    F.col("cum_a") / F.lit(float(n_a))
                    - F.col("cum_b") / F.lit(float(n_b))
                )
            ).alias("d")
        ).collect()[0]
        return float(d_row["d"]), n_a, n_b
    finally:
        g.unpersist()


def ks_pvalue_asymp(d: float, n_a: int, n_b: int, terms: int = 101) -> float:
    """Two-sided asymptotic Kolmogorov p-value (Smirnov's series)."""
    if n_a == 0 or n_b == 0 or d <= 0:
        return 1.0
    en = math.sqrt(n_a * n_b / (n_a + n_b))
    lam = (en + 0.12 + 0.11 / en) * d
    s = 0.0
    for k in range(1, terms):
        s += (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
    return max(0.0, min(1.0, 2.0 * s))


def drift_score(p_values: list[float], alpha: float = 0.05) -> float:
    """Mean indicator of no-drift (data_drift_pack/main.py:62-64)."""
    if not p_values:
        return 1.0
    return sum(1.0 if p >= alpha else 0.0 for p in p_values) / len(p_values)


def psi_2sample(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
    exact: bool = True,
) -> DataFrame:
    """Population Stability Index between a reference sample (A) and a
    current sample (B): bucket by A's exact deciles, PSI = Σ (pa−pb)·ln(pa/pb)
    with proportions floored at ``eps`` (standard monitoring practice).

    Cross-engine determinism: edges are rounded to 6 decimals before
    bucketing in BOTH engines (Spark `percentile` and DuckDB
    `quantile_cont` use the same linear interpolation, but last-ulp
    differences at a bucket edge would otherwise flip counts).

    Scale shape: one quantile pass over A for the edges, then ONE tagged
    groupBy pass over A∪B; the per-bucket table (n_buckets rows)
    finishes on the driver.  ``exact=True`` (oracle parity) computes the
    edges with exact ``percentile`` — per-aggregation state proportional
    to A's distinct values; the 100 TB path is ``exact=False``, which
    uses the bounded-state binned-CDF quantiles of
    operators/quantiles.py (PSI is itself a binned statistic, so
    edge-level approximation error only nudges bucket boundaries).
    """
    from packs_spark.operators.quantiles import quantile_values

    spark = df_a.sparkSession
    probs = [i / n_buckets for i in range(1, n_buckets)]
    a = df_a.select(F.col(col).alias("x")).where(F.col(col).isNotNull())
    b = df_b.select(F.col(col).alias("x")).where(F.col(col).isNotNull())
    edges = [
        round(float(e), 6)
        for e in quantile_values(a, "x", probs, exact=exact)
    ]
    bucket = F.lit(n_buckets - 1)
    for i in range(n_buckets - 2, -1, -1):
        bucket = F.when(F.col("x") <= F.lit(edges[i]), F.lit(i)).otherwise(bucket)
    tagged = a.withColumn("is_a", F.lit(1)).unionByName(
        b.withColumn("is_a", F.lit(0))
    )
    counts = (
        tagged.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(1 - F.col("is_a")).alias("cb"),
        )
        .collect()
    )
    n_a = sum(r["ca"] for r in counts)
    n_b = sum(r["cb"] for r in counts)
    by_bucket = {r["bucket"]: (r["ca"], r["cb"]) for r in counts}
    psi = 0.0
    for i in range(n_buckets):
        ca, cb = by_bucket.get(i, (0, 0))
        pa = max(ca / n_a if n_a else 0.0, eps)
        pb = max(cb / n_b if n_b else 0.0, eps)
        psi += (pa - pb) * math.log(pa / pb)
    return one_row(spark).select(
        F.round(F.lit(psi), 4).alias("psi"),
        F.lit(n_a).alias("n_a"),
        F.lit(n_b).alias("n_b"),
        F.lit(psi >= 0.2).alias("major_shift"),
    )
