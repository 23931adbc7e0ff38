"""Pack-level API — the reference's invocation contract on Spark.

A reference user runs a pack against a ``source_conf`` + ``pack_conf``
and collects three artifact streams (metrics / recommendations /
schemas — qalita_core.pack.Pack in every ``*_pack/main.py``).  This
facade keeps that contract: ``run_pack(spark, name, source_conf,
pack_conf)`` resolves the source through the engine's connectors, runs
the operator-level implementation, and returns the three streams as
DataFrames in the envelope shapes of :mod:`packs_spark.io.envelope`.

Distributed by construction: the data pass is the operator's single-scan
aggregate; only the per-column RESULT frame (rows = columns, not data)
is reshaped into the long envelope form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from packs_spark.io.envelope import (
    ENVELOPE_SCHEMA,
    RECOMMENDATION_SCHEMA,
    SCHEMA_STREAM_SCHEMA,
    schema_stream,
    text_validation_recommendations,
)
from packs_spark.io.sources import load_source


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _melt_per_column(
    summary: DataFrame,
    column_col: str,
    dataset: str,
    key_map: dict[str, str] | None = None,
) -> DataFrame:
    """Per-column wide result frame → long envelope rows: one
    (key=metric, value=str, perimeter='column', scope=column,
    parent_scope=dataset) row per metric per column.  Pure projection +
    inline — no shuffle; the summary frame is one row per column.
    ``key_map`` renames result columns to the reference packs' envelope
    key names so a consumer of the reference's metrics keeps working."""
    key_map = key_map or {}
    metric_cols = [c for c in summary.columns if c != column_col]
    structs = [
        F.struct(
            F.lit(key_map.get(m, m)).alias("key"),
            F.col(m).cast("string").alias("value"),
            F.lit("column").alias("perimeter"),
            F.col(column_col).cast("string").alias("scope"),
            F.lit(dataset).alias("parent_scope"),
        )
        for m in metric_cols
    ]
    return summary.select(F.inline(F.array(*structs)))


# summary column → reference envelope key (text_validation_pack/main.py:
# 190-216) — emitted verbatim so reference metric consumers keep working.
_TEXT_VALIDATION_KEYS = {
    "min_length": "text_min_length",
    "max_length": "text_max_length",
    "mean_length": "text_mean_length",
    "below_min": "text_length_below_min_length",
    "above_max": "text_length_above_max_length",
    "in_range_percent": "text_length_in_range_percent",
    "empty_count": "empty_text_found",
    "whitespace_count": "whitespace_text_found",
    "placeholder_count": "null_placeholder_text_found",
    "surrounded_count": "text_surrounded_by_whitespace_found",
}


def _dataset_metrics(wide: DataFrame, dataset: str) -> DataFrame:
    """One-row wide aggregate → long dataset-scope envelope rows."""
    structs = [
        F.struct(
            F.lit(m).alias("key"),
            F.col(m).cast("string").alias("value"),
            F.lit("dataset").alias("perimeter"),
            F.lit(dataset).alias("scope"),
            F.lit(None).cast("string").alias("parent_scope"),
        )
        for m in wide.columns
    ]
    return wide.select(F.inline(F.array(*structs)))


def _suite_envelope(spark, df, dataset: str, suite: list) -> dict:
    """Shared evaluation + envelope for the expectation-suite packs
    (great_expectations / dqops_checks): per-check pass/fail metric rows
    plus the dataset-level score — one place so the two packs can't
    silently diverge on the envelope convention."""
    from packs_spark.io.envelope import metric_rows_to_df
    from packs_spark.operators.expectations import evaluate_suite

    res = evaluate_suite(df, suite)
    rows = [
        (r["expectation"], str(r["success"]), "column",
         r.get("column") or dataset, dataset)
        for r in res
    ]
    score = sum(1 for r in res if r["success"]) / len(res) if res else 1.0
    rows.append(("score", str(round(score, 2)), "dataset", dataset, None))
    return {
        "metrics": metric_rows_to_df(spark, rows),
        "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
        "schemas": schema_stream(spark, df, dataset),
    }


def run_pack(
    spark: SparkSession,
    pack_name: str,
    source_conf: dict | list,
    pack_conf: dict | None = None,
) -> dict[str, DataFrame]:
    """Run one pack; returns {"metrics", "recommendations", "schemas"}.

    ``source_conf`` may be a LIST of source configs (J5, the reference's
    multi-table resolution): each runs through the pack and the three
    envelope streams are unioned.  For data_compare with a list-valued
    ``job.target``, source/target are paired positionally
    (data_compare_pack/main.py:189-197); on a length mismatch the
    reference compares the first of each and warns — mirrored here.
    """
    pack_conf = pack_conf or {}
    job = pack_conf.get("job", {})

    if isinstance(source_conf, list):
        targets = job.get("target")
        if pack_name == "data_compare" and isinstance(targets, list):
            if len(targets) == len(source_conf):
                pairs = list(zip(source_conf, targets))
            else:  # reference fallback: first of each
                import warnings

                warnings.warn(
                    "Source/Target tables count mismatch; comparing first "
                    "dataset of each.",
                    stacklevel=2,
                )
                pairs = [(source_conf[0], targets[0])]
            results = [
                run_pack(
                    spark, pack_name, s,
                    {**pack_conf, "job": {**job, "target": t}},
                )
                for s, t in pairs
            ]
        else:
            results = [
                run_pack(spark, pack_name, s, pack_conf) for s in source_conf
            ]
        merged = {}
        for k in ("metrics", "recommendations", "schemas"):
            out = results[0][k]
            for r in results[1:]:
                out = out.unionByName(r[k])
            merged[k] = out
        return merged

    # dbt_checks consumes a dbt ARTIFACT, not a data source — handle it
    # before load_source (there is no table to read).  Running `dbt test`
    # itself is subprocess orchestration outside the engine
    # (dbt_checks_pack/main.py:7-22); the engine content is parsing
    # run_results.json into the metrics envelope (main.py:38-62).
    if pack_name == "dbt_checks":
        import json as _json

        from packs_spark.io.envelope import metric_rows_to_df

        project_dir = job.get("project_dir", ".")
        data = job.get("run_results_data")
        if data is None:
            path = job.get("run_results") or os.path.join(
                project_dir, "target", "run_results.json"
            )
            data = {}
            if os.path.exists(path):
                with open(path) as f:
                    data = _json.load(f)
        tests_total = tests_passed = 0
        for res in data.get("results", []):
            if res.get("resource_type") == "test":
                tests_total += 1
                if res.get("status") == "pass":
                    tests_passed += 1
        tests_failed = tests_total - tests_passed
        score = 1.0 if tests_total == 0 else tests_passed / tests_total
        rows = [
            ("tests_total", str(tests_total), "dataset", project_dir, None),
            ("tests_passed", str(tests_passed), "dataset", project_dir, None),
            ("tests_failed", str(tests_failed), "dataset", project_dir, None),
            ("score", str(round(score, 2)), "dataset", project_dir, None),
        ]
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": _empty(spark, SCHEMA_STREAM_SCHEMA),
        }

    dataset = source_conf.get("name", "source")
    df = load_source(spark, source_conf)

    if pack_name == "text_validation":
        from packs_spark.operators import text_validation

        cols = job.get("columns") or [
            c for c, t in df.dtypes if t == "string"
        ]
        min_l, max_l = job.get("min_length"), job.get("max_length")
        summary = text_validation.summary(df, cols, min_l, max_l)
        metrics = _melt_per_column(
            summary, "column", dataset, key_map=_TEXT_VALIDATION_KEYS
        ).unionByName(
            _dataset_metrics(text_validation.score(summary), dataset)
        )
        recs = text_validation_recommendations(summary, dataset, min_l, max_l)
        return {
            "metrics": metrics,
            "recommendations": recs,
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "profiling":
        cols = df.columns
        n = F.count(F.lit(1))
        missing = sum(F.sum(F.col(c).isNull().cast("long")) for c in cols)
        wide = df.agg(
            n.alias("n_rows"),
            F.lit(len(cols)).alias("n_var"),
            missing.alias("n_cells_missing"),
            F.round(missing / (n * len(cols)), 6).alias("p_cells_missing"),
        )
        # per-column completeness_score — the reference's key name and
        # round-2 formula (profiling_pack/main.py:306-323), one wide pass
        per_col = df.agg(
            F.count(F.lit(1)).alias("__t"),
            *[F.count(F.col(c)).alias(f"nn_{c}") for c in cols],
            *[F.countDistinct(F.col(c)).alias(f"nd_{c}") for c in cols],
        ).select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(f"nn_{c}").alias("non_null"),
                            F.round(
                                F.col(f"nn_{c}")
                                / F.greatest(F.col("__t"), F.lit(1)),
                                2,
                            ).alias("completeness_score"),
                            # ydata report keys the reference re-emits
                            F.col(f"nd_{c}").alias("n_distinct"),
                            F.round(
                                F.col(f"nd_{c}")
                                / F.greatest(F.col(f"nn_{c}"), F.lit(1)),
                                4,
                            ).alias("p_distinct"),
                        )
                        for c in cols
                    ]
                )
            )
        )
        metrics = _dataset_metrics(wide, dataset).unionByName(
            _melt_per_column(per_col, "column", dataset)
        )
        return {
            "metrics": metrics,
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "duplicates":
        from packs_spark.io.envelope import (
            recommendation_level,
            recommendation_rows_to_df,
        )

        keys = job.get("columns") or df.columns
        kc = F.struct(*[F.col(c) for c in keys])
        # reference key names and formulas verbatim
        # (duplicates_finder_pack/main.py:150-173)
        # greatest(n, 1) guards the empty source: 0/0 would make score
        # NULL and the < 0.9 comparison below a TypeError
        safe_n = F.greatest(F.col("__n"), F.lit(1))
        wide = df.agg(
            F.count(F.lit(1)).alias("__n"), F.countDistinct(kc).alias("__d")
        ).select(
            F.col("__n"),
            F.col("__d"),
            F.when(F.col("__n") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("__d") / safe_n, 2))
            .alias("score"),
            (F.col("__n") - F.col("__d")).alias("duplicates"),
            F.col("__d").alias("distinct_count"),
            F.when(F.col("__n") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("__d") / safe_n, 4))
            .alias("distinct_percent"),
        )
        # ONE scan: collect the row, derive metrics AND the
        # recommendation from it (re-aggregating for the metric stream
        # would scan the table twice)
        from packs_spark.io.envelope import metric_rows_to_df

        row = wide.first()
        metric_rows = [
            (k, str(row[k]), "dataset", dataset, None)
            for k in ("score", "duplicates", "distinct_count",
                      "distinct_percent")
        ]
        recs = []
        # threshold / level / message use the UNROUNDED ratio from __n/__d
        # (the reference compares the raw score, duplicates_finder_pack/
        # main.py:175) — gating on the 2-dp-rounded metric would skip the
        # recommendation for true scores in [0.895, 0.9) and could flip
        # the level at the 0.3/0.5 ladder boundaries; rounding is only
        # for the emitted metric strings above.
        raw_score = row["__d"] / row["__n"] if row["__n"] else 1.0
        if raw_score < 0.9:  # reference threshold main.py:174-180
            rate = 1.0 - raw_score
            recs.append(
                (
                    f"dataset '{dataset}' has a duplication rate of "
                    f"{rate * 100:.1f}% on the scope {list(keys)}.",
                    "Duplicates",
                    "dataset",
                    dataset,
                    None,
                    recommendation_level(rate),
                )
            )
        return {
            "metrics": metric_rows_to_df(spark, metric_rows),
            "recommendations": (
                recommendation_rows_to_df(spark, recs)
                if recs
                else _empty(spark, RECOMMENDATION_SCHEMA)
            ),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "schema_scanner":
        names = sorted(df.columns)
        wide = spark.range(1).select(
            F.lit(len(names)).alias("column_count"),
            F.md5(F.lit(",".join(names))).alias("columns_hash"),
        )
        return {
            "metrics": _dataset_metrics(wide, dataset),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "numeric_validation":
        from packs_spark.io.envelope import recommendation_level

        rules_cfg = job.get("rules") or []
        aggs = []
        for i, r in enumerate(rules_cfg):
            c = F.col(r["column"])
            below = F.sum((c < F.lit(r["min"])).cast("long"))
            above = F.sum((c > F.lit(r["max"])).cast("long"))
            aggs += [
                below.alias(f"b{i}"),
                above.alias(f"a{i}"),
                F.count(c).alias(f"n{i}"),
            ]
        # no rules → empty streams (df.agg() with zero exprs raises)
        wide = df.agg(*aggs).collect()[0] if aggs else {}
        metric_rows, rec_rows = [], []
        for i, r in enumerate(rules_cfg):
            b, a, n = wide[f"b{i}"] or 0, wide[f"a{i}"] or 0, wide[f"n{i}"]
            prop = (b + a) / n if n else 0.0
            metric_rows += [
                ("below_min", str(b), "column", r["column"], dataset),
                ("above_max", str(a), "column", r["column"], dataset),
                ("in_range_percent", str(round(1 - prop, 4)), "column",
                 r["column"], dataset),
            ]
            if b + a:
                rec_rows.append(
                    (
                        f"Column '{r['column']}' has {b + a} values outside "
                        f"[{r['min']}, {r['max']}].",
                        "Out Of Range Values",
                        "column",
                        r["column"],
                        dataset,
                        recommendation_level(prop),
                    )
                )
        from packs_spark.io.envelope import (
            metric_rows_to_df,
            recommendation_rows_to_df,
        )

        return {
            "metrics": metric_rows_to_df(spark, metric_rows),
            "recommendations": (
                recommendation_rows_to_df(spark, rec_rows)
                if rec_rows
                else _empty(spark, RECOMMENDATION_SCHEMA)
            ),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "pii_scanner":
        from packs_spark.functions.patterns import PII_PATTERNS, contains_pattern
        from packs_spark.io.envelope import (
            metric_rows_to_df,
            recommendation_level,
            recommendation_rows_to_df,
        )

        cols = job.get("columns") or [
            c for c, t in df.dtypes if t == "string"
        ]
        keys = job.get("patterns") or [k for k, _ in PII_PATTERNS]
        pats = [(k, rx) for k, rx in PII_PATTERNS if k in keys]
        aggs = [
            F.sum(contains_pattern(F.col(c), rx).cast("long")).alias(
                f"h_{c}__{k}"
            )
            for c in cols
            for k, rx in pats
        ]
        aggs.append(F.count(F.lit(1)).alias("__n"))
        wide = df.agg(*aggs).collect()[0]
        metric_rows, rec_rows = [], []
        for c in cols:
            col_hits = 0
            for k, _ in pats:
                h = wide[f"h_{c}__{k}"] or 0
                if h:
                    metric_rows.append(
                        (f"pii_hits_{k}", str(h), "column", c, dataset)
                    )
                col_hits += h
            if col_hits:
                rec_rows.append(
                    (
                        f"Column '{c}' matched PII patterns in {col_hits} rows.",
                        "PII Found",
                        "column",
                        c,
                        dataset,
                        recommendation_level(col_hits / max(wide["__n"], 1)),
                    )
                )
        return {
            "metrics": metric_rows_to_df(spark, metric_rows),
            "recommendations": (
                recommendation_rows_to_df(spark, rec_rows)
                if rec_rows
                else _empty(spark, RECOMMENDATION_SCHEMA)
            ),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "data_compare":
        from packs_spark.operators.compare import compare

        target_conf = job.get("target")
        if not target_conf:
            raise ValueError("data_compare needs pack_conf.job.target")
        target = load_source(spark, target_conf)
        wide = compare(
            df,
            target,
            id_cols=job["id_columns"],
            compare_cols=job.get("columns"),
            abs_tol=job.get("abs_tol", 1e-4),
            rel_tol=job.get("rel_tol", 0.0),
        )
        return {
            "metrics": _dataset_metrics(wide, dataset),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "timeliness":
        from packs_spark.functions.datesniff import sniff_column, sniffed_timestamp
        from packs_spark.io.envelope import metric_rows_to_df
        from packs_spark.io.sources import data_staleness_days

        metric_rows = []
        for col in df.columns:
            info = sniff_column(df, col)
            if info["kind"] == "year_only":
                r = df.agg(
                    F.min(F.col(col).cast("int")).alias("mn"),
                    F.max(F.col(col).cast("int")).alias("mx"),
                ).first()
                metric_rows += [
                    ("earliest_year", str(r.mn), "column", col, dataset),
                    ("latest_year", str(r.mx), "column", col, dataset),
                ]
            elif info["kind"] == "date":
                # reuse the classification — a second independent sample
                # could disagree (and sniffed_timestamp would return None)
                ts = sniffed_timestamp(df, col, info=info)
                r = df.select(ts.alias("ts")).agg(
                    F.date_format(F.min("ts"), "yyyy-MM-dd").alias("mn"),
                    F.date_format(F.max("ts"), "yyyy-MM-dd").alias("mx"),
                ).first()
                metric_rows += [
                    ("earliest_date", str(r.mn), "column", col, dataset),
                    ("latest_date", str(r.mx), "column", col, dataset),
                ]
        if source_conf.get("path"):
            metric_rows.append(
                (
                    "data_staleness_days",
                    str(round(data_staleness_days(source_conf["path"]), 2)),
                    "dataset",
                    dataset,
                    None,
                )
            )
        return {
            "metrics": metric_rows_to_df(spark, metric_rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "pattern_validation":
        from packs_spark.functions.patterns import FORMAT_PATTERNS, matches_format
        from packs_spark.io.envelope import metric_rows_to_df

        checks = job.get("checks") or []  # [{"column":..., "pattern": key}]
        aggs = []
        for i, ch in enumerate(checks):
            c = F.col(ch["column"])
            rx = FORMAT_PATTERNS[ch["pattern"]]
            ok = F.sum(
                F.coalesce(matches_format(c, rx).cast("long"), F.lit(0))
            )
            aggs += [ok.alias(f"ok{i}"), F.count(c).alias(f"n{i}")]
        wide = df.agg(*aggs).collect()[0] if checks else {}
        rows = []
        for i, ch in enumerate(checks):
            ok, n = wide[f"ok{i}"] or 0, wide[f"n{i}"]
            rows += [
                (f"valid_{ch['pattern']}", str(ok), "column", ch["column"],
                 dataset),
                (f"valid_percent_{ch['pattern']}",
                 str(round(ok / n, 4) if n else 1.0), "column",
                 ch["column"], dataset),
            ]
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "accuracy":
        from packs_spark.functions.numeric import decimal_digits
        from packs_spark.io.envelope import metric_rows_to_df

        cols = job.get("columns") or [
            c for c, t in df.dtypes if t in ("double", "float")
        ]
        rows = []
        for col in cols:
            d = (
                df.where(F.col(col).isNotNull())
                .select(decimal_digits(F.col(col)).alias("digits"))
                .groupBy("digits")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            agg = d.agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("digits")).alias("nd"))
                ).alias("m"),
                F.sum("cnt").alias("nn"),
            ).first()
            if agg.nn:
                rows += [
                    ("modal_decimal_digits", str(-agg.m.nd), "column", col,
                     dataset),
                    ("proportion_at_modal",
                     str(round(agg.m.cnt / agg.nn, 4)), "column", col,
                     dataset),
                ]
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "referential_integrity":
        from packs_spark.io.envelope import metric_rows_to_df

        parent_conf = job.get("parent")
        if not parent_conf:
            raise ValueError("referential_integrity needs pack_conf.job.parent")
        parent = load_source(spark, parent_conf)
        ck, pk = job["child_key"], job["parent_key"]
        # alias the parent key: with ck == pk (the common FK config) an
        # unaliased join raises AMBIGUOUS_REFERENCE
        pkeys = (
            parent.select(F.col(pk).alias("__parent_key")).dropDuplicates()
        )
        # no forced broadcast: AQE broadcasts a dim-sized key set on its own
        # and a fact-sized parent degrades to shuffle instead of OOMing the
        # driver at the broadcast limit
        joined = df.join(pkeys, df[ck] == F.col("__parent_key"), "left")
        orphan = (
            df[ck].isNotNull() & F.col("__parent_key").isNull()
        ).cast("long")
        r = joined.agg(
            F.sum(orphan).alias("orphans"), F.count(F.lit(1)).alias("n")
        ).first()
        rows = [
            ("orphan_count", str(r.orphans or 0), "dataset", dataset, None),
            ("child_count", str(r.n), "dataset", dataset, None),
            # empty child table → ratio 0.0, not ZeroDivisionError
            # (mirrors the duplicates branch's n == 0 guard)
            ("orphan_ratio",
             str(round((r.orphans or 0) / r.n, 4) if r.n else 0.0),
             "dataset", dataset, None),
        ]
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "outlier_detection":
        from packs_spark.io.envelope import (
            metric_rows_to_df,
            recommendation_level,
            recommendation_rows_to_df,
        )
        from packs_spark.ml.knn import knn_normality

        feats = job.get("columns") or [
            c for c, t in df.dtypes if t in ("double", "float", "bigint", "int")
        ]
        order = job.get("order_columns") or [df.columns[0]]
        r = knn_normality(
            df,
            feats,
            order,
            k=job.get("n_neighbors", 5),
            fit_cap=job.get("fit_cap", 100_000),
        ).first()
        prop = (r.n_outliers or 0) / r.n_rows if r.n_rows else 0.0
        rows = [
            ("n_outliers", str(r.n_outliers), "dataset", dataset, None),
            ("normality_score", str(r.normality_score), "dataset", dataset,
             None),
        ]
        recs = []
        if r.n_outliers:
            recs.append(
                (
                    f"{r.n_outliers} of {r.n_rows} rows score as outliers.",
                    "Outliers Detected",
                    "dataset",
                    dataset,
                    None,
                    recommendation_level(prop),
                )
            )
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": (
                recommendation_rows_to_df(spark, recs)
                if recs
                else _empty(spark, RECOMMENDATION_SCHEMA)
            ),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "data_drift":
        from packs_spark.io.envelope import metric_rows_to_df
        from packs_spark.operators.drift import (
            drift_score,
            ks_2sample,
            ks_pvalue_asymp,
        )

        target_conf = job.get("target")
        if not target_conf:
            raise ValueError("data_drift needs pack_conf.job.target")
        target = load_source(spark, target_conf)
        cols = job.get("columns") or [
            c
            for c, t in df.dtypes
            if t in ("double", "float", "bigint", "int") and c in target.columns
        ]
        rows, pvals = [], []
        for col in cols:
            d, n_a, n_b = ks_2sample(df, target, col)
            p = ks_pvalue_asymp(d, n_a, n_b)
            pvals.append(p)
            rows += [
                ("ks_statistic", str(round(d, 6)), "column", col, dataset),
                ("ks_pvalue", str(round(p, 6)), "column", col, dataset),
            ]
        rows.append(
            ("drift_score", str(round(drift_score(pvals), 2)), "dataset",
             dataset, None)
        )
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "great_expectations":
        return _suite_envelope(spark, df, dataset, job.get("expectations", []))

    if pack_name == "soda":
        from packs_spark.io.envelope import metric_rows_to_df
        from packs_spark.operators.expectations import evaluate_suite

        # raw SodaCL text is parsed inside the suite's containment: an
        # unsupported or non-string check becomes one failed row labelled
        # with its text instead of aborting the pack run
        res = evaluate_suite(df, [{"_raw": c} for c in job.get("checks", [])])
        rows = [
            (r["expectation"], str(r["success"]), "dataset", dataset, None)
            for r in res
        ]
        return {
            "metrics": metric_rows_to_df(spark, rows),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    if pack_name == "dqops_checks":
        # dqops-catalog checks (dqops-checks-reference.md): job.checks is
        # [{"check": "<name>", "column": ..., <params>}]; each rides the
        # same single-pass evaluate_suite agg via the dqops: prefix.
        # malformed entries become dqops:<missing check>, which the check
        # catalog rejects and the suite records as failed instead of the
        # whole pack run aborting: a bare string is promoted to a
        # parameterless check, a non-dict non-string entry to a rejected
        # placeholder (c.get on it would raise AttributeError pre-suite)
        suite = []
        for c in job.get("checks", []):
            if isinstance(c, str):
                c = {"check": c}
            elif not isinstance(c, dict):
                c = {"check": f"<malformed entry: {type(c).__name__}>"}
            suite.append(
                {"expectation_type": f"dqops:{c.get('check', '<missing check>')}",
                 "kwargs": {k: v for k, v in c.items() if k != "check"}}
            )
        return _suite_envelope(spark, df, dataset, suite)

    if pack_name == "fhir_compliance":
        from packs_spark.operators.fhir import compliance_summary

        wide = compliance_summary(
            df,
            field_mappings=job.get("field_mappings", {}),
            required_fields=job.get("required_fields"),
            enums=job.get("enums"),
            patterns=job.get("patterns"),
            date_fields=job.get("date_fields"),
            boolean_fields=job.get("boolean_fields"),
        )
        return {
            "metrics": _dataset_metrics(wide, dataset),
            "recommendations": _empty(spark, RECOMMENDATION_SCHEMA),
            "schemas": schema_stream(spark, df, dataset),
        }

    raise ValueError(
        f"unknown pack {pack_name!r}; every reference pack except "
        "dbt_checks (out of engine scope — it shells out to dbt) is "
        "available: text_validation, profiling, duplicates, "
        "schema_scanner, numeric_validation, pii_scanner, data_compare, "
        "timeliness, pattern_validation, accuracy, referential_integrity, "
        "outlier_detection, data_drift, great_expectations, soda, "
        "dqops_checks, fhir_compliance"
    )
