"""KNN outlier scoring — Spark-first replacement of the reference's PyOD
KNN (reference: outlier_detection_pack/main.py:206-224, constants :7-8).

Reference semantics kept exactly:
* fit on a row-capped sample (reference caps at 100k,
  outlier_detection_pack/main.py:7); the reference samples randomly
  WITHOUT a seed (main.py:208) — we use a deterministic top-k-by-key
  sample instead so results are reproducible (documented deviation);
* ``decision_function`` = euclidean distance to the k-th nearest fit
  point (PyOD KNN default ``n_neighbors=5, method='largest'``), self
  included when the scored row is in the fit set — matching the
  reference's ``clf.decision_function(df)`` over ALL rows;
* inlier score ``1 - s / (s.max() + eps)``; outlier when ``< 0.5``;
  normality score = mean inlier (main.py:289-296).

Scale shape: the fit sample is collected once on the driver (top-k by a
sort key — TakeOrdered, no full sort), broadcast to executors, and every
partition scores its rows against it inside one Arrow-batched pandas UDF
(distance matrix per batch, ``np.partition`` for the k-th smallest).
Cost is O(rows × fit_cap) flops with zero shuffles; the only collect is
the fit sample and the final tiny aggregate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from packs_spark.io.envelope import one_row

EPSILON = 1e-9
DEFAULT_K = 5  # PyOD KNN default n_neighbors
DEFAULT_FIT_CAP = 100_000  # reference MAX_ROWS_FOR_FULL_KNN

# Memory budget (in doubles) for one batch×fit-chunk distance block —
# ~64 MB regardless of how big the Arrow batch or the fit sample is.
_DIST_BLOCK_DOUBLES = 8_000_000


def _kth_nn_dist_np(X: np.ndarray, Y: np.ndarray, k: int) -> np.ndarray:
    """Distance to the k-th nearest row of ``Y`` for every row of ``X``,
    computed in bounded memory: the fit matrix is processed in chunks and
    only a running (n, k) block of the k smallest squared distances is
    kept, so fit_cap=100_000 (the reference's MAX_ROWS_FOR_FULL_KNN)
    never allocates more than the ~64 MB block — no len(batch)×len(fit)
    matrix.

    Per-dimension (x-y)² accumulation, NOT the |x|²+|y|²-2x·y GEMM trick:
    with feature magnitudes ~1e5 and neighbor gaps ~1e-2 the GEMM form
    cancels catastrophically; this form is bit-compatible with the SQL
    oracle's (a-b)*(a-b) sums.  Chunking changes only which candidates
    are *kept*, never a distance value, so results are identical to the
    full-matrix computation.
    """
    n = len(X)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    chunk = max(k, _DIST_BLOCK_DOUBLES // max(n, 1))
    best: np.ndarray | None = None  # (n, k) smallest d² seen so far
    for s in range(0, len(Y), chunk):
        Yc = Y[s : s + chunk]
        d2 = np.zeros((n, len(Yc)))
        for j in range(X.shape[1]):
            diff = X[:, j][:, None] - Yc[:, j][None, :]
            d2 += diff * diff
        cand = d2 if best is None else np.concatenate([best, d2], axis=1)
        kk = min(k, cand.shape[1])
        best = np.partition(cand, kk - 1, axis=1)[:, :kk]
    # knn_scores validates len(fit) > k up front; this backstop must
    # survive ``python -O`` (an assert would vanish) and name the counts
    # instead of dying as an opaque AssertionError inside an executor task
    if best is None or best.shape[1] < k:
        have = 0 if best is None else best.shape[1]
        raise ValueError(
            f"KNN fit sample provides only {have} candidate neighbors, "
            f"need k={k} — pass a fit sample with more than k rows"
        )
    return np.sqrt(best.max(axis=1))


def knn_scores(
    df: DataFrame,
    feature_cols: list[str],
    order_cols: list[str],
    k: int = DEFAULT_K,
    fit_cap: int = DEFAULT_FIT_CAP,
) -> DataFrame:
    """Append a ``knn_score`` column: distance to the k-th nearest fit
    point.  Nulls are mean-imputed first (reference main.py:183-186)."""
    spark = df.sparkSession

    # cast features to double BEFORE imputation: na.fill with a float mean
    # on an integer-typed column silently truncates the fill value
    for c in feature_cols:
        df = df.withColumn(c, F.col(c).cast("double"))
    means = {
        c: (r if r is not None else 0.0)
        for c, r in zip(
            feature_cols,
            df.agg(*[F.avg(c) for c in feature_cols]).collect()[0],
        )
    }
    filled = df.na.fill(means, subset=feature_cols)

    fit_pdf = (
        filled.orderBy(*order_cols)
        .limit(fit_cap)
        .select(*[F.col(c).cast("double") for c in feature_cols])
        .toPandas()
    )
    fit = np.ascontiguousarray(fit_pdf.to_numpy(dtype=np.float64))
    if len(fit) <= k:
        raise ValueError(
            f"KNN needs more than k={k} fit rows, got {len(fit)} "
            "(reference raises the same way, main.py:193-198)"
        )
    bc_fit = spark.sparkContext.broadcast(fit)

    @F.pandas_udf("double")
    def kth_nn_dist(*cols: pd.Series) -> pd.Series:
        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        Y = bc_fit.value
        return pd.Series(_kth_nn_dist_np(X, Y, k))

    return filled.withColumn(
        "knn_score", kth_nn_dist(*[F.col(c).cast("double") for c in feature_cols])
    )


def inlier_expr(max_score: float) -> Column:
    return 1.0 - F.col("knn_score") / F.lit(max_score + EPSILON)


def knn_normality(
    df: DataFrame,
    feature_cols: list[str],
    order_cols: list[str],
    k: int = DEFAULT_K,
    fit_cap: int = DEFAULT_FIT_CAP,
    threshold: float = 0.5,
) -> DataFrame:
    """Dataset-level normality summary, reference envelope semantics:
    (n_rows, n_outliers, normality_score round-4, max_knn_score round-6).

    Two passes over the scored frame (max, then the thresholded
    aggregate) — the reference needs ``scores.max()`` before the inlier
    transform too; at scale both are single shuffle-free scans."""
    scored = knn_scores(df, feature_cols, order_cols, k=k, fit_cap=fit_cap)
    scored = scored.persist()
    try:
        max_score = scored.agg(F.max("knn_score")).collect()[0][0] or 0.0
        inlier = inlier_expr(max_score)
        row = scored.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((inlier < threshold).cast("long")).alias("n_outliers"),
            F.round(F.avg(inlier), 4).alias("normality_score"),
        ).collect()[0]
    finally:
        scored.unpersist()
    spark = df.sparkSession
    return one_row(spark).select(
        F.lit(row["n_rows"]).alias("n_rows"),
        F.lit(row["n_outliers"]).alias("n_outliers"),
        F.lit(float(row["normality_score"])).alias("normality_score"),
        F.round(F.lit(max_score), 6).alias("max_knn_score"),
    )


def one_hot_columns(
    df: DataFrame, col: str, max_categories: int = 100
) -> tuple[DataFrame, list[str]]:
    """Sparse-free one-hot encoding of a low-cardinality categorical as
    plain double Columns (reference A15: one-hot cap of 100 distinct,
    outlier_detection_pack/main.py:8,265-283; wider columns are skipped).

    Categories are collected once (sorted for determinism — the
    reference's sklearn OHE also sorts) and become literal comparisons:
    pure codegen, no Spark ML pipeline state, broadcast-free.  Returns
    (df with the new columns, their names) — empty list when skipped.
    """
    cats = [
        r[0]
        for r in df.select(col).distinct().limit(max_categories + 1).collect()
        if r[0] is not None
    ]
    if len(cats) > max_categories:
        return df, []
    names = []
    for v in sorted(cats):
        name = f"{col}__{v}"
        df = df.withColumn(name, (F.col(col) == F.lit(v)).cast("double"))
        names.append(name)
    return df, names
