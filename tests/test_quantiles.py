"""Exact vs binned-CDF quantile modes (operators/quantiles.py).

The binned mode is the 100 TB path: bounded O(bins) aggregation state,
whole-stage-codegen HashAggregate only.  These tests pin (1) numeric
agreement with the exact mode within the documented one-bin-width error
bound, (2) the plan property that motivates it — no ObjectHashAggregate
(exact `percentile` and `percentile_approx` are both
TypedImperativeAggregates and fall out of codegen).
"""

import math

import pytest
from pyspark.sql import functions as F

from packs_spark.operators.drift import psi_2sample
from packs_spark.operators.quantiles import (
    iqr_summary,
    quantile_values,
    quantile_values_multi,
)


def test_binned_quantiles_within_one_bin_of_bracketing_ranks(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 997 * 3.25 - 600.0).alias("x")
    )
    probs = [0.1, 0.25, 0.5, 0.75, 0.9]
    approx = quantile_values(df, "x", probs, exact=False, bins=4096)
    xs = sorted(r["x"] for r in df.collect())
    n = len(xs)
    mn, mx = xs[0], xs[-1]
    bin_w = (mx - mn) / 4096
    for p, a in zip(probs, approx):
        t = p * (n - 1)
        lo, hi = xs[math.floor(t)], xs[math.ceil(t)]
        # documented bound: within one bin width of the order statistics
        # bracketing the target rank
        assert lo - bin_w - 1e-9 <= a <= hi + bin_w + 1e-9, (p, a, lo, hi)


def test_binned_quantiles_edge_cases(spark):
    empty = spark.range(10).select(
        F.when(F.col("id") < 0, F.col("id")).cast("double").alias("x")
    )
    assert quantile_values(empty, "x", [0.5], exact=False) == [None]
    const = spark.range(10).select(F.lit(7.5).alias("x"))
    assert quantile_values(const, "x", [0.1, 0.9], exact=False) == [7.5, 7.5]


def test_binned_quantiles_skip_nulls(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id").cast("double"))
        .alias("x")
    )
    exact = quantile_values(df, "x", [0.5], exact=True)
    approx = quantile_values(df, "x", [0.5], exact=False, bins=4096)
    # max inter-value gap is 2 (the removed multiples of 10), plus one bin
    assert abs(exact[0] - approx[0]) <= 2 + 1000 / 4096 + 1e-9


def test_iqr_summary_modes_agree(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    ex = {r["column"]: r for r in iqr_summary(df, cols, exact=True).collect()}
    ap = {r["column"]: r for r in iqr_summary(df, cols, exact=False).collect()}
    for c in cols:
        mn, mx = df.agg(F.min(c), F.max(c)).collect()[0]
        bin_w = (float(mx) - float(mn)) / 4096
        assert abs(ex[c]["q1"] - ap[c]["q1"]) <= bin_w + 1e-9
        assert abs(ex[c]["q3"] - ap[c]["q3"]) <= bin_w + 1e-9
        # fences move by <= 2.5 bin widths; the outlier count may differ
        # only by the rows inside that sliver
        assert ex[c]["outlier_count"] == pytest.approx(
            ap[c]["outlier_count"], abs=max(10, 0.01 * ex[c]["outlier_count"])
        )


def test_psi_approx_mode_close_to_exact(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = df.where(F.col("l_orderkey") % 2 == 0)
    b = df.where(F.col("l_orderkey") % 2 == 1)
    ex = psi_2sample(a, b, "l_extendedprice", exact=True).collect()[0]
    ap = psi_2sample(a, b, "l_extendedprice", exact=False).collect()[0]
    assert ex["n_a"] == ap["n_a"] and ex["n_b"] == ap["n_b"]
    assert math.isclose(ex["psi"], ap["psi"], abs_tol=0.05)
    assert ex["major_shift"] == ap["major_shift"]


def test_approx_path_plan_has_no_object_hash_aggregate(spark):
    """The point of the binned mode: every aggregate stays a codegen
    HashAggregate.  Exact `percentile` plans through ObjectHashAggregate
    (unbounded per-group state); the binned bucket-count job must not."""
    df = spark.range(100_000).select((F.col("id") * 1.7).alias("x"))
    x = F.col("x")
    bucket = F.least(F.lit(4095), F.floor((x - F.lit(0.0)) / F.lit(1.7)))
    plan = (
        df.where(x.isNotNull())
        .groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" in plan
    exact_plan = (
        df.agg(F.expr("percentile(x, 0.5)"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ObjectHashAggregate" in exact_plan  # the cliff the mode avoids


def test_binned_multi_column_matches_exact_reference(spark):
    """The batched binned path must agree with the INDEPENDENT exact
    percentile within the documented one-bin-width bound per column —
    quantile_values delegates to quantile_values_multi, so comparing the
    two binned paths against each other would be a tautology."""
    from packs_spark.operators.quantiles import quantile_values_multi

    df = spark.range(5000).select(
        (F.col("id") * 1.7).alias("a"),
        (F.col("id") % 97).cast("double").alias("b"),
        F.when(F.col("id") < 0, F.col("id")).cast("double").alias("allnull"),
    )
    multi = quantile_values_multi(
        df, ["a", "b", "allnull"], [0.25, 0.75], exact=False
    )
    exact = quantile_values_multi(
        df, ["a", "b"], [0.25, 0.75], exact=True
    )
    for c, span in (("a", 5000 * 1.7), ("b", 96.0)):
        bin_w = span / 4096
        for e, a in zip(exact[c], multi[c]):
            # columns a and b are dense (gaps <= one bin), so the exact
            # interpolated quantile is within one bin width
            assert abs(e - a) <= bin_w + 1e-9, (c, e, a)
    assert multi["allnull"] == [None, None]


def test_iqr_summary_all_null_column_degrades_gracefully(spark):
    df = spark.range(100).select(
        F.col("id").cast("double").alias("x"),
        F.when(F.col("id") < 0, F.col("id")).cast("double").alias("dead"),
    )
    for exact in (True, False):
        rows = {r["column"]: r for r in iqr_summary(df, ["x", "dead"],
                                                    exact=exact).collect()}
        assert rows["dead"]["q1"] is None
        assert rows["dead"]["outlier_count"] == 0
        assert rows["dead"]["normality_score"] is None
        assert rows["x"]["q1"] is not None


def test_exact_quantiles_take_column_names_verbatim(spark):
    """Exact mode reads ``a-b`` and ``unit price`` as column names, not as
    SQL text (``a - b``, a parse error)."""
    df = spark.createDataFrame(
        [(10.0, 1.0, 1, 2), (20.0, 2.0, 1, 2), (30.0, 3.0, 1, 2)],
        "`a-b` double, `unit price` double, a int, b int",
    )
    assert quantile_values_multi(df, ["a-b", "unit price"], [0.5, 1.0]) == {
        "a-b": [20.0, 30.0], "unit price": [2.0, 3.0]}
