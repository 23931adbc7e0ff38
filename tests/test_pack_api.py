"""Pack-level API facade: three envelope streams per run, the reference's
per-pack contract (qalita_core.pack.Pack metrics/recommendations/schemas)."""

import pytest

from packs_spark.pack_api import _ADAPTERS, run_pack


@pytest.fixture()
def csv_source(spark, tmp_path):
    p = tmp_path / "people.csv"
    p.write_text(
        "name,comment,age\n"
        'alice,fine text,30\n'
        'bob,"",41\n'  # quoted empty survives CSV parsing as ""
        'carol,n/a,35\n'
        'dave,"  ",28\n'
        'alice,fine text,30\n'
    )
    return {"type": "csv", "path": str(p), "name": "people"}


def test_text_validation_pack_streams(spark, csv_source):
    out = run_pack(
        spark,
        "text_validation",
        csv_source,
        {"job": {"columns": ["comment"], "min_length": 2}},
    )
    m = {(r.key, r.scope): r.value for r in out["metrics"].collect()}
    # per-column metric rows land in column scope with dataset parent;
    # note CSV empty fields arrive as NULL (same as pandas read_csv →
    # NaN in the reference), so empty_count is 0 and non_null is 4
    # keys follow the REFERENCE envelope names (text_validation_pack
    # main.py:190-216) so reference metric consumers keep working
    assert m[("non_null", "comment")] == "4"
    assert m[("empty_text_found", "comment")] == "0"
    assert m[("null_placeholder_text_found", "comment")] == "1"
    assert m[("whitespace_text_found", "comment")] == "1"
    assert ("text_mean_length", "comment") in m
    # dataset-level score row
    assert ("score", "people") in m
    recs = {r.type for r in out["recommendations"].collect()}
    assert "Null Placeholder Found" in recs
    assert "Whitespace Only Text" in recs
    schema_rows = out["schemas"].collect()
    assert {r.value for r in schema_rows if r.key == "column"} == {
        "name", "comment", "age",
    }


def test_profiling_pack_streams(spark, csv_source):
    out = run_pack(spark, "profiling", csv_source)
    m = {(r.key, r.perimeter, r.scope): r.value for r in out["metrics"].collect()}
    assert m[("n_rows", "dataset", "people")] == "5"
    assert m[("n_var", "dataset", "people")] == "3"
    assert m[("non_null", "column", "comment")] == "4"
    # reference key + round-2 formula (profiling_pack/main.py:306-323)
    assert m[("completeness_score", "column", "comment")] == "0.8"
    assert m[("completeness_score", "column", "name")] == "1.0"
    # ydata-report keys (n_distinct / p_distinct over non-null values)
    assert m[("n_distinct", "column", "name")] == "4"  # alice dup'd
    assert m[("p_distinct", "column", "name")] == "0.8"
    assert out["recommendations"].count() == 0


def test_duplicates_pack_streams(spark, csv_source):
    out = run_pack(spark, "duplicates", csv_source)
    m = {r.key: r.value for r in out["metrics"].collect()}
    # reference key names + formulas (duplicates_finder_pack/main.py:150-173)
    assert m["duplicates"] == "1" and m["distinct_count"] == "4"
    assert m["distinct_percent"] == "0.8" and m["score"] == "0.8"
    rec = out["recommendations"].first()  # score 0.8 < 0.9 threshold
    assert rec.type == "Duplicates" and "20.0%" in rec.content


def test_schema_scanner_pack_streams(spark, csv_source):
    out = run_pack(spark, "schema_scanner", csv_source)
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["column_count"] == "3"
    assert len(m["columns_hash"]) == 32


def test_unknown_pack_raises(spark, csv_source):
    with pytest.raises(ValueError, match="unknown pack") as err:
        run_pack(spark, "nope", csv_source)
    # the message lists every pack run_pack dispatches, dbt_checks included
    assert "dbt_checks" in _ADAPTERS and len(_ADAPTERS) == 18
    for name in _ADAPTERS:
        assert name in str(err.value)


def test_numeric_validation_pack_streams(spark, csv_source):
    out = run_pack(
        spark,
        "numeric_validation",
        csv_source,
        {"job": {"rules": [{"column": "age", "min": 30, "max": 40}]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["below_min"] == "1" and m["above_max"] == "1"  # 28 and 41
    rec = out["recommendations"].first()
    assert rec.type == "Out Of Range Values"
    assert rec.level in ("info", "warning", "high")
    assert "2 values outside" in rec.content


def test_pii_scanner_pack_streams(spark, tmp_path):
    p = tmp_path / "contacts.csv"
    p.write_text(
        "note\n"
        "reach me at al@example.com\n"
        "server at 10.0.0.1\n"
        "nothing here\n"
    )
    out = run_pack(
        spark,
        "pii_scanner",
        {"type": "csv", "path": str(p), "name": "contacts"},
        {"job": {"patterns": ["email", "ipv4"]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["pii_hits_email"] == "1" and m["pii_hits_ipv4"] == "1"
    rec = out["recommendations"].first()
    assert rec.type == "PII Found" and "2 rows" in rec.content


def test_data_compare_pack_streams(spark, tmp_path):
    src = tmp_path / "a.csv"
    tgt = tmp_path / "b.csv"
    src.write_text("id,v\n1,10.0\n2,20.0\n3,30.0\n")
    tgt.write_text("id,v\n1,10.0\n2,21.0\n4,40.0\n")
    out = run_pack(
        spark,
        "data_compare",
        {"type": "csv", "path": str(src), "name": "a"},
        {"job": {"target": {"type": "csv", "path": str(tgt)},
                 "id_columns": ["id"]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["rows_in_common"] == "2"
    assert m["rows_source_only"] == "1" and m["rows_target_only"] == "1"


@pytest.mark.parametrize(
    "source, source_only",
    [("id,v\n", "0"), ("id,v\n5,10.0\n6,20.0\n", "2")],
    ids=["header_only", "disjoint_ids"],
)
def test_data_compare_no_rows_in_common(spark, tmp_path, source, source_only):
    """With no row in common the match rate is NULL, not a division by
    zero."""
    src = tmp_path / "a.csv"
    tgt = tmp_path / "b.csv"
    src.write_text(source)
    tgt.write_text("id,v\n1,10.0\n2,20.0\n")
    out = run_pack(
        spark,
        "data_compare",
        {"type": "csv", "path": str(src), "name": "a"},
        {"job": {"target": {"type": "csv", "path": str(tgt)},
                 "id_columns": ["id"]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m == {
        "rows_in_common": "0", "rows_source_only": source_only,
        "rows_target_only": "2", "cell_mismatches": "0",
        "rows_fully_matched": "0", "match_rate": None,
    }


def test_timeliness_pack_streams(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text(
        "launch,year\n"
        "2021-03-05,1999\n"
        "2020-01-15,2004\n"
        "2022-06-30,2001\n"
    )
    out = run_pack(
        spark, "timeliness", {"type": "csv", "path": str(p), "name": "t"}
    )
    m = {(r.key, r.scope): r.value for r in out["metrics"].collect()}
    assert m[("earliest_date", "launch")] == "2020-01-15"
    assert m[("latest_date", "launch")] == "2022-06-30"
    assert m[("earliest_year", "year")] == "1999"
    assert m[("latest_year", "year")] == "2004"
    assert float(m[("data_staleness_days", "t")]) >= 0.0


def test_remaining_pack_adapters(spark, tmp_path):
    """One smoke per adapter: every reference pack except dbt runs through
    run_pack and yields the three streams."""
    import pandas as pd

    src = tmp_path / "m.csv"
    src.write_text(
        "id,email,price,qty\n"
        "1,a@x.com,10.50,3\n"
        "2,bad-email,20.25,4\n"
        "3,c@y.org,30.75,5\n"
        "4,d@z.net,40.00,600\n"
    )
    conf = {"type": "csv", "path": str(src), "name": "m"}

    out = run_pack(spark, "pattern_validation", conf,
                   {"job": {"checks": [{"column": "email", "pattern": "email"}]}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["valid_email"] == "3" and m["valid_percent_email"] == "0.75"

    out = run_pack(spark, "accuracy", conf, {"job": {"columns": ["price"]}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["modal_decimal_digits"] in ("1", "2")

    parent = tmp_path / "p.csv"
    parent.write_text("pid\n1\n2\n3\n")
    out = run_pack(spark, "referential_integrity", conf,
                   {"job": {"parent": {"type": "csv", "path": str(parent)},
                            "child_key": "id", "parent_key": "pid"}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["orphan_count"] == "1" and m["child_count"] == "4"

    out = run_pack(spark, "outlier_detection", conf,
                   {"job": {"columns": ["qty"], "order_columns": ["id"],
                            "n_neighbors": 2}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert "normality_score" in m

    tgt = tmp_path / "t.csv"
    tgt.write_text("id,price,qty\n1,11.0,3\n2,19.0,4\n3,31.0,5\n4,41.0,6\n")
    out = run_pack(spark, "data_drift", conf,
                   {"job": {"target": {"type": "csv", "path": str(tgt)},
                            "columns": ["price"]}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert "ks_statistic" in m and "drift_score" in m

    out = run_pack(spark, "great_expectations", conf,
                   {"job": {"expectations": [
                       {"expectation_type": "expect_column_values_to_not_be_null",
                        "kwargs": {"column": "id"}}]}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["expect_column_values_to_not_be_null"] == "True"
    assert m["score"] == "1.0"

    out = run_pack(spark, "soda", conf,
                   {"job": {"checks": ["row_count > 0", "missing_count(id) = 0"]}})
    vals = [r.value for r in out["metrics"].collect()]
    assert vals == ["True", "True"]

    out = run_pack(spark, "fhir_compliance", conf,
                   {"job": {"field_mappings": {"id": "id", "mail": "email"},
                            "required_fields": ["id"],
                            "patterns": {"mail": r"[^@]+@[^@]+\.[a-z]+"}}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["total_records"] == "4" and m["valid_records"] == "3"


def test_pattern_validation_counts_empty_cells_valid(spark, tmp_path):
    """A NULL or empty cell is valid in the numerator AND the denominator:
    both run over count(*), like the registry row pattern_validation_builtin
    (the numerator used to count them while the denominator was
    count(col), which gave valid_percent_email = 1.5 here)."""
    src = tmp_path / "e.csv"
    src.write_text("id,email\n1,a@x.com\n2,\n3,\n4,bad-email\n")
    out = run_pack(spark, "pattern_validation",
                   {"type": "csv", "path": str(src), "name": "e"},
                   {"job": {"checks": [{"column": "email", "pattern": "email"}]}})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m == {"valid_email": "3", "valid_percent_email": "0.75"}


def test_numeric_validation_no_rules_is_empty(spark, csv_source):
    out = run_pack(spark, "numeric_validation", csv_source)
    assert out["metrics"].count() == 0
    assert out["recommendations"].count() == 0


def test_referential_integrity_same_key_name(spark, tmp_path):
    """child and parent FK columns sharing one name — the common real
    config — must not raise AMBIGUOUS_REFERENCE."""
    c = tmp_path / "child.csv"
    p = tmp_path / "parent.csv"
    c.write_text("cust_id,v\n1,a\n2,b\n9,c\n")
    p.write_text("cust_id\n1\n2\n")
    out = run_pack(
        spark,
        "referential_integrity",
        {"type": "csv", "path": str(c), "name": "child"},
        {"job": {"parent": {"type": "csv", "path": str(p)},
                 "child_key": "cust_id", "parent_key": "cust_id"}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["orphan_count"] == "1" and m["child_count"] == "3"


def test_duplicates_empty_source(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("a,b\n")
    out = run_pack(spark, "duplicates", {"type": "csv", "path": str(p),
                                         "name": "e"})
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["score"] == "1.0" and m["duplicates"] == "0"
    assert out["recommendations"].count() == 0


def test_dbt_checks_pack_parses_run_results(spark, tmp_path):
    """dbt_checks (dbt_checks_pack/main.py:38-62): the engine-side content
    is parsing the dbt run_results.json artifact into the metrics
    envelope — executing `dbt test` is subprocess orchestration outside
    the engine."""
    import json

    proj = tmp_path / "proj"
    (proj / "target").mkdir(parents=True)
    (proj / "target" / "run_results.json").write_text(json.dumps({
        "results": [
            {"resource_type": "test", "status": "pass"},
            {"resource_type": "test", "status": "pass"},
            {"resource_type": "test", "status": "fail"},
            {"resource_type": "model", "status": "success"},  # not a test
        ]
    }))
    out = run_pack(
        spark, "dbt_checks", {}, {"job": {"project_dir": str(proj)}}
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["tests_total"] == "3"
    assert m["tests_passed"] == "2"
    assert m["tests_failed"] == "1"
    assert m["score"] == "0.67"
    assert out["recommendations"].count() == 0


def test_dbt_checks_no_results_scores_one(spark):
    out = run_pack(
        spark, "dbt_checks", {},
        {"job": {"run_results_data": {"results": []}}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["tests_total"] == "0" and m["score"] == "1.0"


def test_data_compare_positional_list_pairing(spark, tmp_path):
    """J5 (data_compare_pack/main.py:189-197): source/target LISTS pair
    positionally; each pair's envelope rows land under its own dataset
    scope in the unioned streams."""
    confs = []
    for i, rows in enumerate(("id,v\n1,10.0\n2,20.0\n", "id,v\n5,1.0\n")):
        s = tmp_path / f"s{i}.csv"
        s.write_text(rows)
        t = tmp_path / f"t{i}.csv"
        t.write_text(rows if i == 0 else "id,v\n5,1.0\n6,2.0\n")
        confs.append((
            {"type": "csv", "path": str(s), "name": f"src{i}"},
            {"type": "csv", "path": str(t)},
        ))
    out = run_pack(
        spark,
        "data_compare",
        [c[0] for c in confs],
        {"job": {"target": [c[1] for c in confs], "id_columns": ["id"]}},
    )
    m = {(r.key, r.scope): r.value for r in out["metrics"].collect()}
    assert m[("rows_in_common", "src0")] == "2"
    assert m[("rows_target_only", "src0")] == "0"
    assert m[("rows_in_common", "src1")] == "1"
    assert m[("rows_target_only", "src1")] == "1"


def test_data_compare_list_mismatch_falls_back_to_first(spark, tmp_path):
    s = tmp_path / "s.csv"
    s.write_text("id,v\n1,10.0\n")
    t = tmp_path / "t.csv"
    t.write_text("id,v\n1,10.0\n")
    with pytest.warns(UserWarning, match="count mismatch"):
        out = run_pack(
            spark,
            "data_compare",
            [{"type": "csv", "path": str(s), "name": "s"}] * 2,
            {"job": {"target": [{"type": "csv", "path": str(t)}],
                     "id_columns": ["id"]}},
        )
    m = {(r.key, r.scope): r.value for r in out["metrics"].collect()}
    assert m[("rows_in_common", "s")] == "1"


def test_dqops_checks_pack(spark, tmp_path):
    """dqops_checks pack: catalog checks by name via job.checks, per-check
    pass/fail metrics plus a dataset score (same envelope as GX/soda)."""
    src = tmp_path / "dq.csv"
    src.write_text(
        'id,name\n1,alice\n2,"   "\n3," bob "\n4,alice\n'
    )
    out = run_pack(
        spark, "dqops_checks",
        {"type": "csv", "path": str(src), "name": "dq"},
        {"job": {"checks": [
            {"check": "whitespace_text_found", "column": "name",
             "max_count": 0},
            {"check": "text_surrounded_by_whitespace_found",
             "column": "name", "max_count": 2},
            {"check": "distinct_count", "column": "id",
             "min_value": 4, "max_value": 4},
            {"check": "duplicate_percent", "column": "name",
             "max_percent": 30.0},
        ]}},
    )
    m = {r.key: (r.value, r.perimeter, r.scope)
         for r in out["metrics"].collect()}
    assert m["dqops:whitespace_text_found"] == ("False", "column", "name")
    assert m["dqops:text_surrounded_by_whitespace_found"][0] == "True"
    assert m["dqops:distinct_count"] == ("True", "column", "id")
    # 4 non-null names, 3 distinct -> 25% duplicates <= 30
    assert m["dqops:duplicate_percent"][0] == "True"
    assert m["score"] == ("0.75", "dataset", "dq")


def test_dqops_pack_contains_malformed_check(spark, tmp_path):
    """A job.checks entry without a 'check' key becomes a failed row, not
    a KeyError aborting the pack run."""
    src = tmp_path / "c.csv"
    src.write_text("id\n1\n2\n")
    out = run_pack(
        spark, "dqops_checks",
        {"type": "csv", "path": str(src), "name": "c"},
        {"job": {"checks": [
            {"column": "id", "max_count": 0},  # no "check" key
            {"check": "distinct_count", "column": "id",
             "min_value": 2, "max_value": 2},
        ]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["dqops:<missing check>"] == "False"
    assert m["dqops:distinct_count"] == "True"
    assert m["score"] == "0.5"


def test_dqops_pack_contains_non_dict_check_entries(spark, tmp_path):
    """A bare-string entry is promoted to a parameterless check (which
    fails compile for lack of a column, contained); a non-dict non-string
    entry becomes a rejected placeholder row — neither aborts the run
    (review finding, round 4: c.get on a str raised AttributeError)."""
    src = tmp_path / "n.csv"
    src.write_text("id\n1\n2\n")
    out = run_pack(
        spark, "dqops_checks",
        {"type": "csv", "path": str(src), "name": "n"},
        {"job": {"checks": [
            "distinct_count",          # bare string: no column -> failed
            42,                        # non-dict, non-string -> failed
            {"check": "distinct_count", "column": "id",
             "min_value": 2, "max_value": 2},
        ]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m["dqops:distinct_count"] == "True"
    assert m["dqops:<malformed entry: int>"] == "False"
    assert m["score"] == "0.33"


def test_soda_pack_contains_bad_checks(spark, tmp_path):
    """An unsupported SodaCL check and a non-string check each become one
    failed row labelled with their text; the good check still runs."""
    src = tmp_path / "s.csv"
    src.write_text("id\n1\n2\n")
    out = run_pack(
        spark, "soda",
        {"type": "csv", "path": str(src), "name": "s"},
        {"job": {"checks": ["row_count > 0", "freshness(ts) < 1d", 5]}},
    )
    m = {r.key: r.value for r in out["metrics"].collect()}
    assert m == {"row_count > 0": "True", "freshness(ts) < 1d": "False",
                 "5": "False"}
