"""Pack-level API: ``run_pack(spark, name, source_conf, pack_conf)``.

A reference user runs a pack against a ``source_conf`` + ``pack_conf``
and collects three artifact streams (metrics / recommendations /
schemas — qalita_core.pack.Pack in every ``*_pack/main.py``).  ``run_pack``
keeps that contract as a dispatch table: ``_ADAPTERS`` maps each pack
name to an adapter of a few lines that calls the pack's builder in
:mod:`packs_spark.operators` and turns its result into metric rows and
recommendation rows.  The builders are the functions the pack's registry
rows run too, so the DuckDB oracle gates the numbers ``run_pack`` returns.
The ratios the packs have always rounded on the driver (orphan_ratio,
in_range_percent, proportion_at_modal) are rounded there from the
builder's counts with Python's ``round``, as the reference does.

Everything else happens once, here: loading the source, fanning out over a
list of sources, the schemas stream and the three-stream dict.  Metric
rows go through :func:`packs_spark.io.envelope.envelope`, the one envelope
builder.  The data pass is the builder's aggregate; only its result (a
row, or a row per column) becomes envelope rows.
"""

from __future__ import annotations

import json
import os
import warnings
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from packs_spark.functions import numeric as NUM
from packs_spark.functions.datesniff import sniff_column, sniffed_timestamp
from packs_spark.functions.patterns import PII_PATTERNS, pii_hit_count
from packs_spark.io.envelope import (
    SCHEMA_STREAM_SCHEMA,
    envelope,
    recommendation_level,
    recommendation_rows_to_df,
    schema_stream,
    text_validation_recommendations,
)
from packs_spark.io.sources import data_staleness_days, load_source
from packs_spark.ml.knn import knn_normality
from packs_spark.operators import pack_metrics as PM
from packs_spark.operators import text_validation
from packs_spark.operators.compare import compare
from packs_spark.operators.drift import drift_score, ks_2sample, ks_pvalue_asymp
from packs_spark.operators.expectations import evaluate_suite
from packs_spark.operators.fhir import compliance_summary

_NUMERIC = ("double", "float", "bigint", "int")


def _columns(df: DataFrame, *types: str) -> list[str]:
    return [c for c, t in df.dtypes if t in types]


def _wide(spark, wide: DataFrame, dataset: str) -> DataFrame:
    """Dataset-scope rows of every column of a one-row result frame."""
    return envelope(
        spark, [(m, F.col(m), "dataset", dataset, None) for m in wide.columns],
        wide,
    )


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


# Each adapter: (spark, df, dataset, job, source_conf) → (metrics
# DataFrame, recommendations as a DataFrame or a list of
# (content, type, perimeter, scope, parent_scope, level) tuples).


def _text_validation(spark, df, dataset, job, source_conf):
    cols = job.get("columns") or _columns(df, "string")
    min_l, max_l = job.get("min_length"), job.get("max_length")
    summary = text_validation.summary(df, cols, min_l, max_l)
    per_col = [
        (_TEXT_VALIDATION_KEYS.get(m, m), F.col(m), "column", F.col("column"),
         dataset)
        for m in summary.columns if m != "column"
    ]
    metrics = envelope(spark, per_col, summary).unionByName(
        _wide(spark, text_validation.score(summary), dataset)
    )
    recs = text_validation_recommendations(summary, dataset, min_l, max_l)
    return metrics, recs


def _profiling(spark, df, dataset, job, source_conf):
    cols = df.columns
    # two aggregates: the missing-cell sums stay out of the countDistinct
    # pass, whose distinct rewrite Expands every row
    counts = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(F.col(c)).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(F.col(c)).alias(f"nd_{c}") for c in cols],
    )
    per_col = []
    for c in cols:
        nn, nd = F.col(f"nn_{c}"), F.col(f"nd_{c}")
        per_col += [
            ("non_null", nn, "column", c, dataset),
            # the reference's key and round-2 formula
            # (profiling_pack/main.py:306-323)
            ("completeness_score", PM.completeness(nn, F.col("__n"), 2),
             "column", c, dataset),
            # the ydata report's distinct share of the non-null values
            ("n_distinct", nd, "column", c, dataset),
            ("p_distinct", F.round(nd / F.greatest(nn, F.lit(1)), 4),
             "column", c, dataset),
        ]
    metrics = _wide(spark, df.agg(*PM.cells_missing(cols)), dataset)
    return metrics.unionByName(envelope(spark, per_col, counts)), []


def _duplicates(spark, df, dataset, job, source_conf):
    keys = job.get("columns") or df.columns
    # ONE scan: metrics AND the recommendation come from the collected row
    row = df.agg(*PM.duplicates(keys)).first()
    metrics = [
        (k, row[k], "dataset", dataset, None)
        for k in ("score", "duplicates", "distinct_count", "distinct_percent")
    ]
    # the threshold and level use the UNROUNDED ratio (the reference
    # compares the raw score, duplicates_finder_pack/main.py:174-180):
    # the 2-dp score would skip true scores in [0.895, 0.9)
    n, d = row["n_rows"], row["distinct_count"]
    raw_score = d / n if n else 1.0
    recs = []
    if raw_score < 0.9:
        rate = 1.0 - raw_score
        recs.append((
            f"dataset '{dataset}' has a duplication rate of "
            f"{rate * 100:.1f}% on the scope {list(keys)}.",
            "Duplicates", "dataset", dataset, None, recommendation_level(rate),
        ))
    return envelope(spark, metrics), recs


def _schema_scanner(spark, df, dataset, job, source_conf):
    wide = spark.range(1).select(*PM.schema_signature(df))
    return _wide(spark, wide, dataset), []


def _numeric_validation(spark, df, dataset, job, source_conf):
    rules = job.get("rules") or []
    # one struct of aggregates per rule, all in one scan; no rules → empty
    # streams (df.agg() with zero exprs raises)
    checks = df.agg(*[
        F.struct(NUM.below_min(F.col(r["column"]), r["min"]),
                 NUM.above_max(F.col(r["column"]), r["max"]),
                 F.count(r["column"]))
        for r in rules
    ]).first() if rules else []
    metrics, recs = [], []
    for r, (b, a, n) in zip(rules, checks):
        b, a = b or 0, a or 0  # an empty table sums to NULL
        prop = (b + a) / n if n else 0.0
        metrics += [
            ("below_min", b, "column", r["column"], dataset),
            ("above_max", a, "column", r["column"], dataset),
            ("in_range_percent", round(1 - prop, 4), "column", r["column"],
             dataset),
        ]
        if b + a:
            recs.append((
                f"Column '{r['column']}' has {b + a} values outside "
                f"[{r['min']}, {r['max']}].",
                "Out Of Range Values", "column", r["column"], dataset,
                recommendation_level(prop),
            ))
    return envelope(spark, metrics), recs


def _pii_scanner(spark, df, dataset, job, source_conf):
    cols = job.get("columns") or _columns(df, "string")
    keys = job.get("patterns") or [k for k, _ in PII_PATTERNS]
    pats = [(k, rx) for k, rx in PII_PATTERNS if k in keys]
    n, *hits = df.agg(
        F.count(F.lit(1)),
        *[F.struct(*[pii_hit_count(F.col(c), rx).alias(k) for k, rx in pats])
          for c in cols],
    ).first()
    metrics, recs = [], []
    for c, h in zip(cols, hits):
        metrics += [
            (f"pii_hits_{k}", h[k], "column", c, dataset)
            for k, _ in pats if h[k]
        ]
        col_hits = sum(v or 0 for v in h)  # an empty table sums to NULL
        if col_hits:
            recs.append((
                f"Column '{c}' matched PII patterns in {col_hits} rows.",
                "PII Found", "column", c, dataset,
                recommendation_level(col_hits / max(n, 1)),
            ))
    return envelope(spark, metrics), recs


def _data_compare(spark, df, dataset, job, source_conf):
    if not job.get("target"):
        raise ValueError("data_compare needs pack_conf.job.target")
    wide = compare(
        df,
        load_source(spark, job["target"]),
        id_cols=job["id_columns"],
        compare_cols=job.get("columns"),
        abs_tol=job.get("abs_tol", 1e-4),
        rel_tol=job.get("rel_tol", 0.0),
    )
    return _wide(spark, wide, dataset), []


def _timeliness(spark, df, dataset, job, source_conf):
    metrics = []
    for col in df.columns:
        info = sniff_column(df, col)
        if info["kind"] == "year_only":
            r = df.agg(
                F.min(F.col(col).cast("int")), F.max(F.col(col).cast("int"))
            ).first()
            metrics += [
                ("earliest_year", str(r[0]), "column", col, dataset),
                ("latest_year", str(r[1]), "column", col, dataset),
            ]
        elif info["kind"] == "date":
            # reuse the classification — a second independent sample
            # could disagree (and sniffed_timestamp would return None)
            ts = sniffed_timestamp(df, col, info=info)
            r = df.select(ts.alias("ts")).agg(
                F.date_format(F.min("ts"), "yyyy-MM-dd"),
                F.date_format(F.max("ts"), "yyyy-MM-dd"),
            ).first()
            # str: a column none of whose values parse reads "None"
            metrics += [
                ("earliest_date", str(r[0]), "column", col, dataset),
                ("latest_date", str(r[1]), "column", col, dataset),
            ]
    if source_conf.get("path"):
        days = round(data_staleness_days(source_conf["path"]), 2)
        metrics.append(("data_staleness_days", days, "dataset", dataset, None))
    return envelope(spark, metrics), []


def _pattern_validation(spark, df, dataset, job, source_conf):
    checks = job.get("checks") or []  # [{"column": ..., "pattern": key}]
    found = df.agg(*[
        F.struct(*PM.pattern_check(ch["column"], ch["pattern"])) for ch in checks
    ]).first() if checks else []
    metrics = [
        row
        for ch, r in zip(checks, found)
        for row in (
            # an empty table leaves valid NULL: no row is invalid
            (f"valid_{ch['pattern']}", r["valid"] or 0, "column",
             ch["column"], dataset),
            (f"valid_percent_{ch['pattern']}", r["valid_percent"], "column",
             ch["column"], dataset),
        )
    ]
    return envelope(spark, metrics), []


def _accuracy(spark, df, dataset, job, source_conf):
    metrics = []
    for col in job.get("columns") or _columns(df, "double", "float"):
        r = PM.decimal_precision(df, col).first()
        if r["non_null"]:
            metrics += [
                ("modal_decimal_digits", r["modal_digits"], "column", col,
                 dataset),
                ("proportion_at_modal",
                 round(r["modal_count"] / r["non_null"], 4), "column", col,
                 dataset),
            ]
    return envelope(spark, metrics), []


def _referential_integrity(spark, df, dataset, job, source_conf):
    if not job.get("parent"):
        raise ValueError("referential_integrity needs pack_conf.job.parent")
    parent = load_source(spark, job["parent"])
    r = PM.orphans(df, job["child_key"], parent, job["parent_key"]).first()
    n = r["child_count"]
    metrics = [
        ("orphan_count", r["orphan_count"], "dataset", dataset, None),
        ("child_count", n, "dataset", dataset, None),
        ("orphan_ratio", round(r["orphan_count"] / n, 4) if n else 0.0,
         "dataset", dataset, None),
    ]
    return envelope(spark, metrics), []


def _outlier_detection(spark, df, dataset, job, source_conf):
    r = knn_normality(
        df,
        job.get("columns") or _columns(df, *_NUMERIC),
        job.get("order_columns") or [df.columns[0]],
        k=job.get("n_neighbors", 5),
        fit_cap=job.get("fit_cap", 100_000),
    ).first()
    metrics = [
        ("n_outliers", r.n_outliers, "dataset", dataset, None),
        ("normality_score", r.normality_score, "dataset", dataset, None),
    ]
    recs = []
    if r.n_outliers:
        recs.append((
            f"{r.n_outliers} of {r.n_rows} rows score as outliers.",
            "Outliers Detected", "dataset", dataset, None,
            recommendation_level(r.n_outliers / r.n_rows),
        ))
    return envelope(spark, metrics), recs


def _data_drift(spark, df, dataset, job, source_conf):
    if not job.get("target"):
        raise ValueError("data_drift needs pack_conf.job.target")
    target = load_source(spark, job["target"])
    cols = job.get("columns") or [
        c for c in _columns(df, *_NUMERIC) if c in target.columns
    ]
    metrics, pvals = [], []
    for col in cols:
        d, n_a, n_b = ks_2sample(df, target, col)
        p = ks_pvalue_asymp(d, n_a, n_b)
        pvals.append(p)
        metrics += [
            ("ks_statistic", round(d, 6), "column", col, dataset),
            ("ks_pvalue", round(p, 6), "column", col, dataset),
        ]
    metrics.append(
        ("drift_score", round(drift_score(pvals), 2), "dataset", dataset, None)
    )
    return envelope(spark, metrics), []


def _suite(spark, df, dataset, suite: list):
    """Per-check pass/fail rows plus the dataset score of an expectation
    suite (great_expectations / dqops_checks) — one place so the two packs
    can't silently diverge on the envelope convention."""
    res = evaluate_suite(df, suite)
    metrics = [
        (r["expectation"], r["success"], "column", r.get("column") or dataset,
         dataset)
        for r in res
    ]
    score = sum(1 for r in res if r["success"]) / len(res) if res else 1.0
    metrics.append(("score", round(score, 2), "dataset", dataset, None))
    return envelope(spark, metrics), []


def _great_expectations(spark, df, dataset, job, source_conf):
    return _suite(spark, df, dataset, job.get("expectations", []))


def _soda(spark, df, dataset, job, source_conf):
    # raw SodaCL text is parsed inside the suite's containment: an
    # unsupported or non-string check becomes one failed row labelled
    # with its text instead of aborting the pack run
    res = evaluate_suite(df, [{"_raw": c} for c in job.get("checks", [])])
    metrics = [
        (r["expectation"], r["success"], "dataset", dataset, None) for r in res
    ]
    return envelope(spark, metrics), []


def _dqops_checks(spark, df, dataset, job, source_conf):
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
    return _suite(spark, df, dataset, suite)


def _fhir_compliance(spark, df, dataset, job, source_conf):
    wide = compliance_summary(
        df,
        field_mappings=job.get("field_mappings", {}),
        required_fields=job.get("required_fields"),
        enums=job.get("enums"),
        patterns=job.get("patterns"),
        date_fields=job.get("date_fields"),
        boolean_fields=job.get("boolean_fields"),
    )
    return _wide(spark, wide, dataset), []


def _dbt_checks(spark, df, dataset, job, source_conf):
    # the engine content of dbt_checks is parsing run_results.json into
    # the metrics envelope (dbt_checks_pack/main.py:38-62); running
    # `dbt test` itself is subprocess orchestration outside the engine
    data = job.get("run_results_data")
    if data is None:
        path = job.get("run_results") or os.path.join(
            dataset, "target", "run_results.json"
        )
        data = {}
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
    tests = [r for r in data.get("results", []) if r.get("resource_type") == "test"]
    passed = sum(1 for r in tests if r.get("status") == "pass")
    score = passed / len(tests) if tests else 1.0
    metrics = [
        (k, v, "dataset", dataset, None)
        for k, v in (("tests_total", len(tests)), ("tests_passed", passed),
                     ("tests_failed", len(tests) - passed),
                     ("score", round(score, 2)))
    ]
    return envelope(spark, metrics), []


_ADAPTERS = {
    "text_validation": _text_validation,
    "profiling": _profiling,
    "duplicates": _duplicates,
    "schema_scanner": _schema_scanner,
    "numeric_validation": _numeric_validation,
    "pii_scanner": _pii_scanner,
    "data_compare": _data_compare,
    "timeliness": _timeliness,
    "pattern_validation": _pattern_validation,
    "accuracy": _accuracy,
    "referential_integrity": _referential_integrity,
    "outlier_detection": _outlier_detection,
    "data_drift": _data_drift,
    "great_expectations": _great_expectations,
    "soda": _soda,
    "dqops_checks": _dqops_checks,
    "fhir_compliance": _fhir_compliance,
    "dbt_checks": _dbt_checks,
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
    if pack_name not in _ADAPTERS:
        raise ValueError(
            f"unknown pack {pack_name!r}; available: "
            + ", ".join(sorted(_ADAPTERS))
        )
    pack_conf = pack_conf or {}
    job = pack_conf.get("job", {})

    if isinstance(source_conf, list):
        targets = job.get("target")
        if pack_name == "data_compare" and isinstance(targets, list):
            if len(targets) != len(source_conf):  # reference fallback
                warnings.warn(
                    "Source/Target tables count mismatch; comparing first "
                    "dataset of each.",
                    stacklevel=2,
                )
                source_conf, targets = source_conf[:1], targets[:1]
            runs = [
                (s, {**pack_conf, "job": {**job, "target": t}})
                for s, t in zip(source_conf, targets)
            ]
        else:
            runs = [(s, pack_conf) for s in source_conf]
        results = [run_pack(spark, pack_name, s, c) for s, c in runs]
        return {
            k: reduce(DataFrame.unionByName, (r[k] for r in results))
            for k in ("metrics", "recommendations", "schemas")
        }

    if pack_name == "dbt_checks":
        # a dbt ARTIFACT, not a data source: no table to read, no schemas
        df, dataset = None, job.get("project_dir", ".")
        schemas = spark.createDataFrame([], SCHEMA_STREAM_SCHEMA)
    else:
        df = load_source(spark, source_conf)
        dataset = source_conf.get("name", "source")
        schemas = schema_stream(spark, df, dataset)
    metrics, recs = _ADAPTERS[pack_name](spark, df, dataset, job, source_conf)
    if not isinstance(recs, DataFrame):
        recs = recommendation_rows_to_df(spark, recs)
    return {"metrics": metrics, "recommendations": recs, "schemas": schemas}
