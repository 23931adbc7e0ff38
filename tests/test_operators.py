"""Pack-operator behaviors not covered by the DuckDB oracle gate:
duplicate row fetch-back (J1), envelope formatting parity with the
reference's ``str(round(...))``, checkpointed writer resume, KS p-value."""

import json
import os

import pandas as pd
from pyspark.sql import functions as F

from packs_spark.io.envelope import envelope, format_value
from packs_spark.io.lakehouse import CheckpointedWriter
from packs_spark.operators.drift import drift_score, ks_2sample, ks_pvalue_asymp


def test_duplicate_rows_join_back(spark, sf_dir):
    """J1: keys with count>1 joined back must fetch exactly the rows whose
    key group is duplicated (duplicates_finder_pack/main.py:72-76)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = ["l_partkey", "l_suppkey"]
    dup_keys = li.groupBy(*keys).count().where(F.col("count") > 1).drop("count")
    dup_rows = li.join(F.broadcast(dup_keys), keys, "inner")
    pdf = li.toPandas()
    expected = pdf[pdf.duplicated(subset=keys, keep=False)]
    assert dup_rows.count() == len(expected)


def test_envelope_rounding_matches_reference():
    # reference: str(round(x, 2)) — banker's rounding
    assert format_value(0.125, 2) == "0.12"
    assert format_value(0.135, 2) == "0.14"  # 0.135 stored as 0.13500000000000001
    assert format_value(2.0, 2) == "2.0"
    assert format_value(None) == "null"
    assert format_value(7) == "7"


def test_envelope_dataframe_shape(spark):
    df = envelope(
        spark,
        [
            ("score", round(0.875, 2), "dataset", "ds", None),
            ("n", 10, "dataset", "ds", None),
            ("null_count", 3, "column", "c1", "ds"),
        ],
    )
    rows = {(r["key"], r["perimeter"]): r["value"] for r in df.collect()}
    assert rows[("score", "dataset")] == "0.88"
    assert rows[("n", "dataset")] == "10"
    assert rows[("null_count", "column")] == "3"
    # Column values over a frame are spelled by Spark's string cast
    wide = spark.range(1).select(F.lit(0.000833).alias("p"))
    (row,) = envelope(spark, [("p", F.col("p"), "dataset", "ds", None)], wide).collect()
    assert (row.key, row.value, row.scope, row.parent_scope) == (
        "p", "8.33E-4", "ds", None,
    )


def test_checkpointed_writer_resume(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.range(1000).withColumn("bucket", (F.col("id") % 8).cast("int"))
    w = CheckpointedWriter(base, n_buckets=8)
    stats1 = w.write_resumable(df, wave_size=4)
    assert stats1 == {"skipped": 0, "written": 8}
    assert w.completed_buckets() == set(range(8))
    # resume: nothing left to do
    stats2 = w.write_resumable(df)
    assert stats2["written"] == 0 and stats2["skipped"] == 8
    # simulate a crash that lost bucket 3's marker → only bucket 3 rewritten
    os.remove(os.path.join(base, "_progress", "bucket-3.json"))
    stats3 = w.write_resumable(df)
    assert stats3["written"] == 1
    got = spark.read.parquet(base)
    assert got.count() == 1000  # idempotent overwrite, no duplicates
    marker = json.load(open(os.path.join(base, "_progress", "bucket-3.json")))
    assert marker["bucket"] == 3


def test_ks_matches_reference_engine(spark, sf_dir):
    """KS statistic equals a pandas/numpy exact recomputation; p-value within
    asymptotic tolerance of the exact jump formula."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    split = F.lit("1998-01-01").cast("timestamp")
    d, n_a, n_b = ks_2sample(
        li.where(F.col("l_shipdate") < split),
        li.where(F.col("l_shipdate") >= split),
        "l_quantity",
    )
    pdf = li.select("l_quantity", "l_shipdate").toPandas()
    a = pdf[pdf.l_shipdate < "1998-01-01"].l_quantity.dropna().to_numpy()
    b = pdf[pdf.l_shipdate >= "1998-01-01"].l_quantity.dropna().to_numpy()
    import numpy as np

    xs = np.sort(np.unique(np.concatenate([a, b])))
    fa = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    d_exact = float(np.max(np.abs(fa - fb)))
    assert abs(d - d_exact) < 1e-12
    assert n_a == len(a) and n_b == len(b)
    p = ks_pvalue_asymp(d, n_a, n_b)
    assert 0.0 <= p <= 1.0
    try:  # scipy optional in this sandbox
        from scipy import stats

        _, p_ref = stats.ks_2samp(a, b, method="asymp")
        assert abs(p - p_ref) < 0.02
    except ImportError:
        pass


def test_drift_score():
    assert drift_score([]) == 1.0
    assert drift_score([0.5, 0.01]) == 0.5


def test_slugify_columns_renames_and_maps(spark):
    from packs_spark.functions.text import slugify_columns

    df = spark.createDataFrame(
        [(1, "a", 2.0)], ["plain", "has space", "  lots \t of  ws  "]
    )
    renamed, assoc = slugify_columns(df)
    assert renamed.columns == ["plain", "has_space", "lots_of_ws"]
    assert assoc == {
        "plain": "plain",
        "has_space": "has space",
        "lots_of_ws": "  lots \t of  ws  ",
    }
    # metadata-only: data unchanged
    assert renamed.collect() == [(1, "a", 2.0)]


def test_fhir_compliance_semantics(spark):
    """Reference semantics (fhir_compliance_pack/main.py:44-120): required
    presence, enum, anchored pattern, ISO date, boolean-like — checks
    apply only when the value is present; absent mapped columns never
    invalidate; completeness is the mean present-fraction."""
    from packs_spark.operators.fhir import compliance_summary

    rows = [
        # id, status, birth,        active  -> all valid, all present
        ("p1", "male", "1990-01-05", "true"),
        # missing required id -> invalid
        (None, "male", "1990-01-05", "true"),
        # enum violation
        ("p3", "alien", "1990-01-05", "true"),
        # bad ISO date
        ("p4", "female", "05/01/1990", "true"),
        # bad boolean
        ("p5", "female", "1990-01-05", "maybe"),
        # optional fields absent (empty strings) -> still valid, less complete
        ("p6", "", "", ""),
    ]
    df = spark.createDataFrame(rows, ["pid", "gender", "birth", "active"])
    out = compliance_summary(
        df,
        field_mappings={
            "id": "pid",
            "gender": "gender",
            "birthDate": "birth",
            "active": "active",
            "ghost": "not_a_column",
        },
        required_fields=["id"],
        enums={"gender": ["male", "female", "other", "unknown"]},
        patterns={"id": "p\\d+"},
        date_fields=["birthDate"],
        boolean_fields=["active"],
    ).first()
    assert out.total_records == 6
    assert out.valid_records == 2  # p1 and p6
    assert out.validity_ratio == round(2 / 6, 4)
    assert out.score == round(2 / 6, 2)
    # present counts per row (of 5 mapped fields): 4,3,4,4,4,1
    assert out.completeness == round((4 + 3 + 4 + 4 + 4 + 1) / (5 * 6), 4)


def test_slugify_columns_collision_raises(spark):
    import pytest as _pytest

    from packs_spark.functions.text import slugify_columns

    df = spark.createDataFrame([(1, 2)], ["a b", "a  b"])
    with _pytest.raises(ValueError, match="collide"):
        slugify_columns(df)
