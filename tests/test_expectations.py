"""Expectation-suite + SodaCL evaluator tests (SURVEY §2.4 A17/A18)."""

import pandas as pd

from packs_spark.operators.expectations import (
    evaluate_suite,
    parse_sodacl,
    suite_results_df,
)


def _df(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4, 5],
            "cat": ["a", "b", "a", "c", None],
            "val": [10.0, 20.0, None, 40.0, 50.0],
        }
    )
    return spark.createDataFrame(pdf)


def test_gx_expectations(spark):
    df = _df(spark)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 10}},
            {"expectation_type": "expect_table_columns_to_match_set",
             "kwargs": {"column_set": ["id", "cat", "val"],
                        "exact_match": True}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "cat"}},               # 4/5 → fail
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "cat", "mostly": 0.8}},  # 0.8 → pass
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "val", "min_value": 0, "max_value": 45}},
            # nulls ignored: 3 of 4 non-null vals in [0,45] → 0.75
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "val", "min_value": 0, "max_value": 45,
                        "mostly": 0.75}},
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["a", "b", "c"]}},
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "id"}},
            {"expectation_type": "expect_column_values_to_be_unique",
             "kwargs": {"column": "cat"}},               # 'a' twice → fail
            {"expectation_type": "expect_column_mean_to_be_between",
             "kwargs": {"column": "val", "min_value": 29, "max_value": 31}},
            {"expectation_type": "expect_no_such_thing", "kwargs": {}},
        ],
    )
    got = [(r["expectation"], r["success"]) for r in res]
    assert got == [
        ("expect_table_row_count_to_be_between", True),
        ("expect_table_columns_to_match_set", True),
        ("expect_column_values_to_not_be_null", False),
        ("expect_column_values_to_not_be_null", True),
        ("expect_column_values_to_be_between", False),
        ("expect_column_values_to_be_between", True),
        ("expect_column_values_to_be_in_set", True),
        ("expect_column_values_to_be_unique", True),
        ("expect_column_values_to_be_unique", False),
        ("expect_column_mean_to_be_between", True),
        # unknown expectation skipped, reference `continue` semantics
    ]


def test_sodacl_parse_and_eval(spark):
    df = _df(spark)
    checks = [
        "row_count > 0",
        "missing_count(val) = 1",
        "duplicate_count(cat) = 1",  # 'a' ×2 → 4 non-null − 3 distinct = 1
        "min(val) >= 10",
        "max(val) < 50",  # 50 → fail
        "avg(val) = 30",
        "sum(id) = 15",
    ]
    res = evaluate_suite(df, [parse_sodacl(c) for c in checks])
    assert [r["success"] for r in res] == [
        True, True, True, True, False, True, True,
    ]
    assert res[4]["expectation"] == "max(val) < 50"


def test_suite_score_df(spark):
    df = _df(spark)
    out = suite_results_df(
        df,
        [
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "cat"}},
        ],
    ).collect()
    assert len(out) == 2
    assert all(r.suite_score == 0.5 for r in out)


def test_gx_new_types(spark):
    df = _df(spark)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_sum_to_be_between",
             "kwargs": {"column": "val", "min_value": 100, "max_value": 200}},
            {"expectation_type": "expect_column_sum_to_be_between",
             "kwargs": {"column": "val", "min_value": 1000}},
            {"expectation_type": "expect_column_stdev_to_be_between",
             "kwargs": {"column": "val", "min_value": 1, "max_value": 100}},
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "cat", "min_value": 1, "max_value": 1}},
            {"expectation_type": "expect_column_value_lengths_to_be_between",
             "kwargs": {"column": "cat", "min_value": 2, "max_value": 5}},
            {"expectation_type": "expect_column_values_to_be_of_type",
             "kwargs": {"column": "id", "type_": "int64"}},
            {"expectation_type": "expect_column_values_to_be_of_type",
             "kwargs": {"column": "id", "type_": "str"}},
        ],
    )
    ok = [r["success"] for r in res]
    # sum(val)=120 in [100,200]; not >=1000; stdev ~17.8 in [1,100];
    # all cat lengths are 1; none in [2,5]; id is int64 not str
    assert ok == [True, False, True, True, False, True, False]


def test_gx_round3_types(spark):
    df = _df(spark)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_values_to_be_null",
             "kwargs": {"column": "cat", "mostly": 0.2}},
            {"expectation_type": "expect_column_values_to_be_null",
             "kwargs": {"column": "cat"}},
            {"expectation_type": "expect_column_values_to_not_match_regex",
             "kwargs": {"column": "cat", "regex": "^z"}},
            {"expectation_type": "expect_column_values_to_not_match_regex",
             "kwargs": {"column": "cat", "regex": "^a"}},
            {"expectation_type": "expect_column_values_to_not_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["x", "y"]}},
            {"expectation_type": "expect_column_values_to_not_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["a"]}},
            {"expectation_type": "expect_column_distinct_values_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["a", "b", "c", "d"]}},
            {"expectation_type": "expect_column_distinct_values_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["a", "b"]}},
            {"expectation_type":
                 "expect_column_distinct_values_to_equal_set",
             "kwargs": {"column": "cat", "value_set": ["a", "b", "c"]}},
            {"expectation_type":
                 "expect_column_distinct_values_to_contain_set",
             "kwargs": {"column": "cat", "value_set": ["a", "b"]}},
            {"expectation_type":
                 "expect_column_distinct_values_to_contain_set",
             "kwargs": {"column": "cat", "value_set": ["a", "z"]}},
            {"expectation_type":
                 "expect_column_unique_value_count_to_be_between",
             "kwargs": {"column": "cat", "min_value": 3, "max_value": 3}},
            {"expectation_type":
                 "expect_column_proportion_of_unique_values_to_be_between",
             "kwargs": {"column": "cat", "min_value": 0.7,
                        "max_value": 0.8}},
            {"expectation_type": "expect_column_median_to_be_between",
             "kwargs": {"column": "val", "min_value": 20, "max_value": 40}},
            {"expectation_type":
                 "expect_column_quantile_values_to_be_between",
             "kwargs": {"column": "val", "quantile_ranges": {
                 "quantiles": [0.25, 0.75],
                 "value_ranges": [[10, 20], [40, 50]]}}},
            {"expectation_type":
                 "expect_column_quantile_values_to_be_between",
             "kwargs": {"column": "val", "quantile_ranges": {
                 "quantiles": [0.25], "value_ranges": [[45, 50]]}}},
            {"expectation_type":
                 "expect_column_pair_values_a_to_be_greater_than_b",
             "kwargs": {"column_A": "val", "column_B": "id"}},
            {"expectation_type": "expect_compound_columns_to_be_unique",
             "kwargs": {"column_list": ["id", "cat"]}},
            {"expectation_type": "expect_table_column_count_to_be_between",
             "kwargs": {"min_value": 3, "max_value": 3}},
            {"expectation_type": "expect_table_column_count_to_be_between",
             "kwargs": {"min_value": 5}},
            {"expectation_type":
                 "expect_column_values_to_match_strftime_format",
             "kwargs": {"column": "cat", "strftime_format": "%Y-%m-%d",
                        "mostly": 0.01}},
        ],
    )
    ok = [r["success"] for r in res]
    assert ok == [
        True,   # 1/5 rows null >= 0.2
        False,  # not all null
        True,   # nothing starts with z
        False,  # 'a' matches ^a (2 of 4 non-null)
        True,   # no x/y values
        False,  # 'a' present
        True,   # {a,b,c} ⊆ {a,b,c,d}
        False,  # 'c' outside {a,b}
        True,   # distinct == {a,b,c}
        True,   # contains {a,b}
        False,  # 'z' missing
        True,   # 3 distinct
        True,   # 3 distinct / 4 non-null = 0.75
        True,   # median(10,20,40,50) = 30
        True,   # q25=17.5∈[10,20] (cont), q75=42.5∈[40,50]
        False,  # q25 not in [45,50]
        False,  # (None, 3) counts unexpected (both_values_are_missing
                # is the only ignored shape) -> 4/5 < 1.0
        True,   # (id,cat) pairs unique
        True,   # exactly 3 columns
        False,  # fewer than 5 columns
        False,  # no cat value parses as a date
    ]


def test_uncompilable_expectation_fails_without_killing_suite(spark):
    """An unmapped strftime directive (%f) or unsupported SodaCL check
    records success=False for that expectation; the rest of the suite
    still evaluates (ADVICE r3: one bad format string aborted the run)."""
    res = evaluate_suite(
        _df(spark),
        [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "id"}},
            {"expectation_type":
                 "expect_column_values_to_match_strftime_format",
             "kwargs": {"column": "cat",
                        "strftime_format": "%Y-%m-%d %H:%M:%S.%f"}},
            {"expectation_type": "soda:freshness_using_nonsense",
             "kwargs": {}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1}},
        ],
    )
    assert [r["success"] for r in res] == [True, False, False, True]


def test_dqops_checks(spark):
    """dqops-catalog checks (dqops: prefix): WHITESPACE found/percent,
    DATETIME future/range/format, UNIQUENESS distinct/duplicate — all in
    the same single-pass agg as the GX types."""
    pdf = pd.DataFrame(
        {
            "txt": ["ok", "", "  ", " pad ", "n/a", None],
            "ts": ["2020-01-05 00:00:00", "2020-06-01 00:00:00",
                   "2099-01-01 00:00:00", None, "2020-03-01 00:00:00",
                   "2020-04-01 00:00:00"],
            "k": [1, 2, 2, 3, 4, 4],
        }
    )
    df = spark.createDataFrame(pdf)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "dqops:empty_text_found",
             "kwargs": {"column": "txt", "max_count": 0}},       # 1 empty
            {"expectation_type": "dqops:empty_text_found",
             "kwargs": {"column": "txt", "max_count": 1}},
            {"expectation_type": "dqops:whitespace_text_found",
             "kwargs": {"column": "txt", "max_count": 0}},       # "  "
            {"expectation_type": "dqops:null_placeholder_text_percent",
             "kwargs": {"column": "txt", "max_percent": 20.0}},  # 1/5 = 20%
            {"expectation_type":
                 "dqops:text_surrounded_by_whitespace_found",
             "kwargs": {"column": "txt", "max_count": 1}},  # "  "+" pad "=2
            {"expectation_type": "dqops:date_values_in_future_percent",
             "kwargs": {"column": "ts", "max_percent": 0.0,
                        "now": "2030-01-01 00:00:00"}},     # 2099 is future
            {"expectation_type": "dqops:date_values_in_future_percent",
             "kwargs": {"column": "ts", "max_percent": 20.0,
                        "now": "2030-01-01 00:00:00"}},     # 1/5 = 20%
            {"expectation_type": "dqops:date_in_range_percent",
             "kwargs": {"column": "ts", "min_date": "2020-01-01",
                        "max_date": "2020-12-31", "min_percent": 80.0}},
            {"expectation_type": "dqops:text_match_date_format_percent",
             "kwargs": {"column": "ts",
                        "date_format": "%Y-%m-%d %H:%M:%S",
                        "min_percent": 100.0}},
            {"expectation_type": "dqops:distinct_count",
             "kwargs": {"column": "k", "min_value": 4, "max_value": 4}},
            {"expectation_type": "dqops:distinct_percent",
             "kwargs": {"column": "k", "min_percent": 60.0,
                        "max_percent": 70.0}},              # 4/6 = 66.7%
            {"expectation_type": "dqops:duplicate_count",
             "kwargs": {"column": "k", "max_count": 1}},    # 6-4 = 2 dups
            {"expectation_type": "dqops:duplicate_percent",
             "kwargs": {"column": "k", "max_percent": 40.0}},  # 33.3%
            {"expectation_type": "dqops:not_a_real_check",
             "kwargs": {"column": "k"}},                    # contained fail
        ],
    )
    assert [r["success"] for r in res] == [
        False, True, False, True, False,
        False, True, True, True,
        True, True, False, True,
        False,
    ]


def test_malformed_expectations_are_contained(spark):
    """Review findings: a dqops check without a column, a dict without
    expectation_type, and an unknown dqops name all record success=False
    without aborting the suite (and without silently passing)."""
    res = evaluate_suite(
        _df(spark),
        [
            {"expectation_type": "dqops:empty_text_found",
             "kwargs": {"max_count": 0}},          # no column -> fail
            {"expectation_type": "dqops:distinct_count",
             "kwargs": {"min_value": 1}},          # no column -> fail
            {"kwargs": {"column": "id"}},          # no type -> fail
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1}},
        ],
    )
    assert [r["success"] for r in res] == [False, False, False, True]
    assert res[2]["expectation"] == "<missing type>"


def test_gx_round4_types(spark):
    """Tranche-2 GX types: row_count_to_equal, most_common_value,
    pair_equal, LIKE patterns, type_list, single-pass z-scores."""
    res = evaluate_suite(
        _df(spark),
        [
            {"expectation_type": "expect_table_row_count_to_equal",
             "kwargs": {"value": 5}},
            {"expectation_type": "expect_table_row_count_to_equal",
             "kwargs": {"value": 4}},
            {"expectation_type":
                 "expect_column_most_common_value_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["a"]}},  # mode=a
            {"expectation_type":
                 "expect_column_most_common_value_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": ["b", "c"]}},
            {"expectation_type": "expect_column_pair_values_to_be_equal",
             "kwargs": {"column_A": "id", "column_B": "id"}},
            {"expectation_type": "expect_column_pair_values_to_be_equal",
             "kwargs": {"column_A": "id", "column_B": "val"}},
            {"expectation_type":
                 "expect_column_values_to_match_like_pattern",
             "kwargs": {"column": "cat", "like_pattern": "_"}},  # all 1-char
            {"expectation_type":
                 "expect_column_values_to_not_match_like_pattern",
             "kwargs": {"column": "cat", "like_pattern": "a%"}},  # 'a' matches
            {"expectation_type": "expect_column_values_to_be_in_type_list",
             "kwargs": {"column": "val", "type_list": ["float64", "int"]}},
            {"expectation_type": "expect_column_values_to_be_in_type_list",
             "kwargs": {"column": "val", "type_list": ["str"]}},
            # val = 10,20,40,50: mean 30, sd ~18.26, extreme z ~1.095
            {"expectation_type":
                 "expect_column_value_z_scores_to_be_less_than",
             "kwargs": {"column": "val", "threshold": 2.0}},
            {"expectation_type":
                 "expect_column_value_z_scores_to_be_less_than",
             "kwargs": {"column": "val", "threshold": 1.0}},
            # mostly<1 is a contained NotImplementedError -> failed row
            {"expectation_type":
                 "expect_column_value_z_scores_to_be_less_than",
             "kwargs": {"column": "val", "threshold": 2.0, "mostly": 0.5}},
        ],
    )
    assert [r["success"] for r in res] == [
        True, False, True, False, True, False,
        True, False, True, False,
        True, False, False,
    ]


def test_review_round4_containment_holes(spark):
    """TypeErrors (bad kwarg types), non-dict entries, verdict-time type
    clashes, and an unparseable 'now' are all contained as failed rows —
    none may abort the suite (review findings, round 4)."""
    df = _df(spark)
    res = evaluate_suite(
        df,
        [
            # compile-time TypeError: float(None)
            {"expectation_type":
                 "expect_column_value_z_scores_to_be_less_than",
             "kwargs": {"column": "val", "threshold": None}},
            # compile-time TypeError: unhashable value_set entry
            {"expectation_type": "expect_column_values_to_be_in_set",
             "kwargs": {"column": "cat", "value_set": [["a"]]}},
            # non-dict expectation entry entirely
            "expect_column_values_to_not_be_null",
            # verdict-time TypeError: str bound vs numeric count
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": "one"}},
            # unparseable fixed 'now' must FAIL, not silently pass via
            # cast(NULL) comparison
            {"expectation_type": "dqops:date_values_in_future_percent",
             "kwargs": {"column": "cat", "max_percent": 100.0,
                        "now": "2035-13-99"}},
            # control: a good check after all the bad ones still runs
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "id"}},
        ],
    )
    assert [r["success"] for r in res] == [
        False, False, False, False, False, True,
    ]


def test_mode_of_all_null_column_is_contained_failure(spark):
    """mode() of an empty/all-NULL column is NULL: the expectation fails
    (documented divergence: GX raises on no data, this engine records a
    contained failed row)."""
    pdf = pd.DataFrame({"x": [None, None, None]}).astype("object")
    df = spark.createDataFrame(pdf, "x string")
    res = evaluate_suite(
        df,
        [{"expectation_type":
              "expect_column_most_common_value_to_be_in_set",
          "kwargs": {"column": "x", "value_set": ["a"]}}],
    )
    assert res == [
        {"expectation": "expect_column_most_common_value_to_be_in_set",
         "column": "x", "success": False}
    ]


def test_dqops_custom_sql_family(spark):
    """dqops CUSTOM SQL checks (dqops-checks-reference.md §7 column /
    §4 table): user conditions and aggregate expressions compiled into
    the fused agg, with {column}/{alias}./{table}. placeholder
    substitution and per-check containment of bad SQL."""
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0, 100.0],
                        "y": [1, -1, 2, 3, 4]})
    df = spark.createDataFrame(pdf)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "dqops:sql_condition_passed_percent_on_column",
             "kwargs": {"column": "x", "sql_condition": "{column} > 0",
                        "min_percent": 100}},
            # 4/5 = 80% < 90 → fail
            {"expectation_type": "dqops:sql_condition_passed_percent_on_column",
             "kwargs": {"column": "y", "sql_condition": "{alias}.y > 0",
                        "min_percent": 90}},
            # row (1,1) fails x > y → 1 failed > max_count 0
            {"expectation_type": "dqops:sql_condition_failed_on_table",
             "kwargs": {"sql_condition": "{table}.x > {table}.y",
                        "max_count": 0}},
            {"expectation_type": "dqops:sql_condition_failed_on_column",
             "kwargs": {"column": "y", "sql_condition": "{column} >= 0",
                        "max_count": 1}},
            {"expectation_type": "dqops:sql_aggregate_expression_on_table",
             "kwargs": {"sql_expression": "sum(x) / count(*)",
                        "min_value": 20, "max_value": 25}},
            {"expectation_type": "dqops:sql_aggregate_expression_on_column",
             "kwargs": {"column": "x",
                        "sql_expression": "max({column}) - min({column})",
                        "min_value": 99, "max_value": 99}},
            # containment: unparseable SQL, unknown placeholder, and an
            # unresolvable column each record failed without aborting
            {"expectation_type": "dqops:sql_condition_failed_on_table",
             "kwargs": {"sql_condition": "this is (((not sql",
                        "max_count": 0}},
            {"expectation_type": "dqops:sql_condition_failed_on_table",
             "kwargs": {"sql_condition": "{unknown} > 0", "max_count": 0}},
            {"expectation_type": "dqops:sql_condition_failed_on_table",
             "kwargs": {"sql_condition": "no_such_col > 0", "max_count": 0}},
            # on_column without a column kwarg → contained failure
            {"expectation_type": "dqops:sql_condition_failed_on_column",
             "kwargs": {"sql_condition": "x > 0", "max_count": 0}},
        ],
    )
    assert [r["success"] for r in res] == [
        True, False, False, True, True, True, False, False, False, False,
    ]


def test_kl_divergence_expectation(spark):
    """GX expect_column_kl_divergence_to_be_less_than: natural-log KL vs
    the partition weights; observed mass outside the partition (zero
    GX holdout defaults) makes the divergence infinite → fail."""
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0, 100.0]})
    )
    po_match = {"bins": [0, 5, 200], "weights": [0.8, 0.2]}
    res = evaluate_suite(
        df,
        [
            # observed [0.8, 0.2] == expected → KL 0 < 0.05
            {"expectation_type": "expect_column_kl_divergence_to_be_less_than",
             "kwargs": {"column": "x", "partition_object": po_match,
                        "threshold": 0.05}},
            # expected flipped → KL ≈ 0.83 > 0.05
            {"expectation_type": "expect_column_kl_divergence_to_be_less_than",
             "kwargs": {"column": "x",
                        "partition_object": {"bins": [0, 5, 200],
                                             "weights": [0.2, 0.8]},
                        "threshold": 0.05}},
            # 100.0 falls outside bins [0, 50] → infinite KL even with a
            # huge threshold
            {"expectation_type": "expect_column_kl_divergence_to_be_less_than",
             "kwargs": {"column": "x",
                        "partition_object": {"bins": [0, 5, 50],
                                             "weights": [0.8, 0.2]},
                        "threshold": 10.0}},
            # malformed partition (len(bins) != len(weights)+1) → contained
            {"expectation_type": "expect_column_kl_divergence_to_be_less_than",
             "kwargs": {"column": "x",
                        "partition_object": {"bins": [0, 5],
                                             "weights": [0.8, 0.2]},
                        "threshold": 10.0}},
        ],
    )
    assert [r["success"] for r in res] == [True, False, False, False]


def test_json_parseable_accepts_scalar_null_literal(spark):
    """json.loads('null') succeeds, so GX passes it — the engine's
    get_json_object probe must special-case the scalar literal
    (ADVICE r4)."""
    df = spark.createDataFrame(
        [("null",), ("  null ",), ("\tnull\n",), ('{"k":1}',),
         ("not json",)],
        "js string",
    )
    res = evaluate_suite(
        df,
        [
            # 4 of 5 parse (all three null paddings — json.loads accepts
            # RFC 8259 whitespace incl. tab/LF — plus the object)
            {"expectation_type": "expect_column_values_to_be_json_parseable",
             "kwargs": {"column": "js", "mostly": 0.8}},
            {"expectation_type": "expect_column_values_to_be_json_parseable",
             "kwargs": {"column": "js"}},
        ],
    )
    assert [r["success"] for r in res] == [True, False]


def test_monotone_expectations(spark):
    """increasing/decreasing over INPUT order, incl. the cross-partition
    boundary stitch (violations that exist only BETWEEN partitions) and
    strictly/mostly/null-skip semantics."""
    # 4 partitions of 3; the sequence is globally increasing except one
    # in-partition dip (7 -> 5) and one boundary dip (9 | 8)
    data = [(v,) for v in [1, 2, 3,   4, 7, 5,   6, None, 9,   8, 10, 11]]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 4), "v int"
    )
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_values_to_be_increasing",
             "kwargs": {"column": "v"}},
            # 10 steps over 11 non-null values, 2 violations -> 0.8
            {"expectation_type": "expect_column_values_to_be_increasing",
             "kwargs": {"column": "v", "mostly": 0.8}},
            {"expectation_type": "expect_column_values_to_be_decreasing",
             "kwargs": {"column": "v"}},
        ],
    )
    assert [r["success"] for r in res] == [False, True, False]

    # strictly: a plateau passes non-strict, fails strict
    flat = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,), (2,), (2,), (3,)], 2), "v int"
    )
    res = evaluate_suite(
        flat,
        [
            {"expectation_type": "expect_column_values_to_be_increasing",
             "kwargs": {"column": "v"}},
            {"expectation_type": "expect_column_values_to_be_increasing",
             "kwargs": {"column": "v", "strictly": True}},
        ],
    )
    assert [r["success"] for r in res] == [True, False]

    # boundary-only violation: each partition sorted, the junction is not
    bound = spark.createDataFrame(
        spark.sparkContext.parallelize([(5,), (6,), (1,), (2,)], 2), "v int"
    )
    res = evaluate_suite(
        bound,
        [{"expectation_type": "expect_column_values_to_be_increasing",
          "kwargs": {"column": "v"}}],
    )
    assert res[0]["success"] is False

    # decreasing twin passes on a reversed sequence
    desc = spark.createDataFrame(
        spark.sparkContext.parallelize([(9,), (7,), (7,), (3,)], 2), "v int"
    )
    res = evaluate_suite(
        desc,
        [
            {"expectation_type": "expect_column_values_to_be_decreasing",
             "kwargs": {"column": "v"}},
            {"expectation_type": "expect_column_values_to_be_decreasing",
             "kwargs": {"column": "v", "strictly": True}},
        ],
    )
    assert [r["success"] for r in res] == [True, False]

    # NaN is dropped like NULL (pandas-GX dropna) — verdict must be
    # partitioning-INdependent: [1.0, NaN | 2.0, 3.0] is increasing
    nan = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(1.0,), (float("nan"),), (2.0,), (3.0,)], 2
        ),
        "v double",
    )
    for parts in (1, 2):
        res = evaluate_suite(
            nan.repartition(parts) if parts == 1 else nan,
            [{"expectation_type": "expect_column_values_to_be_increasing",
              "kwargs": {"column": "v", "strictly": True}}],
        )
        assert res[0]["success"] is True, f"parts={parts}"

    # containment: a non-orderable column type fails its row only
    m = spark.createDataFrame([({"a": 1},)], "v map<string,int>")
    res = evaluate_suite(
        m,
        [
            {"expectation_type": "expect_column_values_to_be_increasing",
             "kwargs": {"column": "v"}},
            {"expectation_type": "expect_table_row_count_to_equal",
             "kwargs": {"value": 1}},
        ],
    )
    assert [r["success"] for r in res] == [False, True]


def test_dqops_pii_family(spark):
    """dqops §14 contains_* checks: shared PII regex catalog, non-null
    denominator, max_percent bounds."""
    df = spark.createDataFrame(
        [
            ("mail me at a.b@example.com",),
            ("server 10.1.2.3 is up",),
            ("call (555) 123-4567 today",),
            ("zip is 90210-1234",),
            ("fe80::1 and plain text",),
            ("nothing sensitive here",),
            (None,),
        ],
        "t string",
    )
    res = evaluate_suite(
        df,
        [
            # each PII class occurs in exactly 1 of 6 non-null rows
            {"expectation_type": "dqops:contains_email_percent",
             "kwargs": {"column": "t", "max_percent": 20.0}},
            {"expectation_type": "dqops:contains_email_percent",
             "kwargs": {"column": "t"}},  # default max 0 -> fail
            {"expectation_type": "dqops:contains_ip4_percent",
             "kwargs": {"column": "t", "max_percent": 20.0}},
            {"expectation_type": "dqops:contains_ip6_percent",
             "kwargs": {"column": "t", "max_percent": 20.0}},
            {"expectation_type": "dqops:contains_usa_zipcode_percent",
             "kwargs": {"column": "t", "max_percent": 20.0}},
            {"expectation_type": "dqops:contains_usa_phone_percent",
             "kwargs": {"column": "t", "max_percent": 20.0}},
            # the generic prose row must not trip the US phone pattern
            {"expectation_type": "dqops:contains_usa_phone_percent",
             "kwargs": {"column": "t", "max_percent": 16.0}},
        ],
    )
    assert [r["success"] for r in res] == [
        True, False, True, True, True, True, False
    ]


def test_row_count_to_equal_other_table(spark):
    spark.range(5).createOrReplaceTempView("other_five")
    res = evaluate_suite(
        spark.range(5),
        [
            {"expectation_type":
                 "expect_table_row_count_to_equal_other_table",
             "kwargs": {"other_table_name": "other_five"}},
            {"expectation_type":
                 "expect_table_row_count_to_equal_other_table",
             "kwargs": {"other_table_name": "no_such_table"}},  # contained
        ],
    )
    assert [r["success"] for r in res] == [True, False]
    res = evaluate_suite(
        spark.range(4),
        [{"expectation_type": "expect_table_row_count_to_equal_other_table",
          "kwargs": {"other_table_name": "other_five"}}],
    )
    assert res[0]["success"] is False


def test_gx_round4_tranche3_types(spark):
    """Tranche-3 GX types: column_count_to_equal, value_lengths_to_equal,
    regex lists, JSON/date parseability, multicolumn sum, within-record
    uniqueness, pair-in-set."""
    pdf = pd.DataFrame(
        {
            "a": [1, 2, 3, 4],
            "b": [9, 8, 7, 6],
            "code": ["ab", "cd", "ef", "gh"],
            "js": ['{"k":1}', "[1,2]", "not json", None],
            "dt": ["2020-01-02", "01/03/2020", "nope", "2020-01-02 03:04:05"],
        }
    )
    df = spark.createDataFrame(pdf)
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_table_column_count_to_equal",
             "kwargs": {"value": 5}},
            {"expectation_type": "expect_table_column_count_to_equal",
             "kwargs": {"value": 4}},
            {"expectation_type": "expect_column_value_lengths_to_equal",
             "kwargs": {"column": "code", "value": 2}},
            {"expectation_type": "expect_column_value_lengths_to_equal",
             "kwargs": {"column": "code", "value": 3}},
            # any-of: every code matches one of the two patterns
            {"expectation_type": "expect_column_values_to_match_regex_list",
             "kwargs": {"column": "code",
                        "regex_list": ["^[a-d]+$", "^[e-h]+$"]}},
            # all-of: none matches both
            {"expectation_type": "expect_column_values_to_match_regex_list",
             "kwargs": {"column": "code", "match_on": "all",
                        "regex_list": ["^[a-d]+$", "^[e-h]+$"]}},
            {"expectation_type":
                 "expect_column_values_to_not_match_regex_list",
             "kwargs": {"column": "code", "regex_list": ["^zz$", "^yy$"]}},
            # 2 of 3 non-null js values parse -> mostly 0.6 passes, 0.9 fails
            {"expectation_type": "expect_column_values_to_be_json_parseable",
             "kwargs": {"column": "js", "mostly": 0.6}},
            {"expectation_type": "expect_column_values_to_be_json_parseable",
             "kwargs": {"column": "js", "mostly": 0.9}},
            # 3 of 4 dt values parse (ISO date, MM/dd/yyyy, ISO ts)
            {"expectation_type":
                 "expect_column_values_to_be_dateutil_parseable",
             "kwargs": {"column": "dt", "mostly": 0.75}},
            {"expectation_type":
                 "expect_column_values_to_be_dateutil_parseable",
             "kwargs": {"column": "dt"}},
            # a+b = 10 on every row
            {"expectation_type": "expect_multicolumn_sum_to_equal",
             "kwargs": {"column_list": ["a", "b"], "sum_total": 10}},
            {"expectation_type": "expect_multicolumn_sum_to_equal",
             "kwargs": {"column_list": ["a", "b"], "sum_total": 11}},
            # a != b on every row
            {"expectation_type":
                 "expect_select_column_values_to_be_unique_within_record",
             "kwargs": {"column_list": ["a", "b"]}},
            # code duplicated within record -> fails
            {"expectation_type":
                 "expect_select_column_values_to_be_unique_within_record",
             "kwargs": {"column_list": ["code", "code"]}},
            {"expectation_type": "expect_column_pair_values_to_be_in_set",
             "kwargs": {"column_A": "a", "column_B": "b",
                        "value_pairs_set": [[1, 9], [2, 8], [3, 7], [4, 6]]}},
            {"expectation_type": "expect_column_pair_values_to_be_in_set",
             "kwargs": {"column_A": "a", "column_B": "b",
                        "value_pairs_set": [[1, 9]], "mostly": 0.25}},
        ],
    )
    assert [r["success"] for r in res] == [
        True, False,          # column count
        True, False,          # lengths equal
        True, False, True,    # regex lists
        True, False,          # json parseable
        True, False,          # dateutil parseable
        True, False,          # multicolumn sum
        True, False,          # unique within record
        True, True,           # pair in set
    ]


def test_multicolumn_null_semantics_match_gx_defaults(spark):
    """GX ignore_row_if defaults: multicolumn sum uses
    all_values_are_missing (a partially-null row IS evaluated, with the
    pandas backend's NaN-skipping sum), pair ops use
    both_values_are_missing (a half-null pair is evaluated and counts
    unexpected)."""
    pdf = pd.DataFrame(
        {
            "a": [4.0, 2.0, None, None],
            "b": [1.0, 3.0, 5.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    res = evaluate_suite(
        df,
        [
            # rows evaluated: (4,1)=5 ok, (2,3)=5 ok, (None,5)=5 ok
            # (NaN-skipping sum); all-null row ignored -> PASS
            {"expectation_type": "expect_multicolumn_sum_to_equal",
             "kwargs": {"column_list": ["a", "b"], "sum_total": 5}},
            # half-null pair (None,5) is evaluated and not in set -> only
            # 2 of 3 qualifying rows pass
            {"expectation_type": "expect_column_pair_values_to_be_in_set",
             "kwargs": {"column_A": "a", "column_B": "b",
                        "value_pairs_set": [[4.0, 1.0], [2.0, 3.0]]}},
            {"expectation_type": "expect_column_pair_values_to_be_in_set",
             "kwargs": {"column_A": "a", "column_B": "b",
                        "value_pairs_set": [[4.0, 1.0], [2.0, 3.0]],
                        "mostly": 0.66}},
            # same contract for pair equality: (None,5) counts unexpected
            {"expectation_type": "expect_column_pair_values_to_be_equal",
             "kwargs": {"column_A": "a", "column_B": "a"}},
            {"expectation_type":
                 "expect_column_pair_values_a_to_be_greater_than_b",
             "kwargs": {"column_A": "a", "column_B": "b", "mostly": 0.3}},
        ],
    )
    assert [r["success"] for r in res] == [True, False, True, True, True]


def test_gx_round5_structural_types(spark):
    """Round-5 tranche: column_to_exist (with/without column_index),
    ordered column list, LIKE-pattern lists (match_on any/all), and the
    legacy expect_multicolumn_values_to_be_unique alias."""
    df = _df(spark)  # columns: id, cat, val
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "cat"}},
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "nope"}},
            # id is at position 0; asserting 1 must fail
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "id", "column_index": 0}},
            {"expectation_type": "expect_column_to_exist",
             "kwargs": {"column": "id", "column_index": 1}},
            {"expectation_type": "expect_table_columns_to_match_ordered_list",
             "kwargs": {"column_list": ["id", "cat", "val"]}},
            # same set, wrong order -> fail (contrast with match_set)
            {"expectation_type": "expect_table_columns_to_match_ordered_list",
             "kwargs": {"column_list": ["cat", "id", "val"]}},
            # every cat value is 1 char: matches '_' OR 'z%' under any
            {"expectation_type":
                 "expect_column_values_to_match_like_pattern_list",
             "kwargs": {"column": "cat", "like_pattern_list": ["_", "z%"],
                        "match_on": "any"}},
            # match_on all: must match both '_' and 'a%' -> only 'a' rows
            {"expectation_type":
                 "expect_column_values_to_match_like_pattern_list",
             "kwargs": {"column": "cat", "like_pattern_list": ["_", "a%"],
                        "match_on": "all"}},
            {"expectation_type":
                 "expect_column_values_to_match_like_pattern_list",
             "kwargs": {"column": "cat", "like_pattern_list": ["_", "a%"],
                        "match_on": "all", "mostly": 0.5}},
            # none of the 1-char values matches a 2+-char pattern
            {"expectation_type":
                 "expect_column_values_to_not_match_like_pattern_list",
             "kwargs": {"column": "cat", "like_pattern_list": ["__%", "z%"]}},
            {"expectation_type":
                 "expect_column_values_to_not_match_like_pattern_list",
             "kwargs": {"column": "cat", "like_pattern_list": ["a%"]}},
            # legacy alias rides the select_column branch: cat/val rows
            # are pairwise distinct (string vs double columns)
            {"expectation_type": "expect_multicolumn_values_to_be_unique",
             "kwargs": {"column_list": ["id", "val"]}},
        ],
    )
    assert [r["success"] for r in res] == [
        True, False, True, False,   # column_to_exist
        True, False,                # ordered list
        True, False, True,          # match_like_pattern_list
        True, False,                # not_match_like_pattern_list
        True,                       # legacy multicolumn alias
    ]


def test_gx_json_schema_expectation(spark):
    """expect_column_values_to_match_json_schema: real Draft-7 validation
    (jsonschema lib) batched through a pandas UDF; NULL and unparseable
    values count unexpected."""
    pdf = pd.DataFrame(
        {
            "j": [
                '{"name": "a", "qty": 2}',
                '{"name": "b", "qty": "not-a-number"}',
                '{"name": "c"}',
                "not json",
                None,
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    schema = {
        "type": "object",
        "properties": {
            "name": {"type": "string"},
            "qty": {"type": "number"},
        },
        "required": ["name"],
    }
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_values_to_match_json_schema",
             "kwargs": {"column": "j", "json_schema": schema}},
            # rows 0 and 2 are valid of 4 non-null -> 0.5 mostly passes
            {"expectation_type": "expect_column_values_to_match_json_schema",
             "kwargs": {"column": "j", "json_schema": schema,
                        "mostly": 0.5}},
            # scalar schemas validate scalar JSON literals too
            {"expectation_type": "expect_column_values_to_match_json_schema",
             "kwargs": {"column": "j", "json_schema": {"type": "string"},
                        "mostly": 0.0}},
        ],
    )
    assert [r["success"] for r in res] == [False, True, True]


def test_percentile_checks_take_column_names_verbatim(spark):
    """The median and quantile checks read a column named ``a-b`` or
    ``unit price`` as that column; pasted into SQL text, ``a-b`` was
    evaluated as ``a - b`` and ``unit price`` did not parse."""
    df = spark.createDataFrame(
        [(10.0, 1.0, 1, 2), (20.0, 2.0, 1, 2), (30.0, 3.0, 1, 2)],
        "`a-b` double, `unit price` double, a int, b int",
    )
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_median_to_be_between",
             "kwargs": {"column": "a-b", "min_value": 15, "max_value": 25}},
            # a - b = -1 lies here; the a-b column's median does not
            {"expectation_type": "expect_column_median_to_be_between",
             "kwargs": {"column": "a-b", "min_value": -2, "max_value": 0}},
            {"expectation_type": "expect_column_median_to_be_between",
             "kwargs": {"column": "unit price", "min_value": 1,
                        "max_value": 3}},
            {"expectation_type":
                 "expect_column_quantile_values_to_be_between",
             "kwargs": {"column": "a-b", "quantile_ranges": {
                 "quantiles": [0.5], "value_ranges": [[15, 25]]}}},
            {"expectation_type":
                 "expect_column_quantile_values_to_be_between",
             "kwargs": {"column": "unit price", "quantile_ranges": {
                 "quantiles": [0.0, 1.0], "value_ranges": [[1, 1], [3, 3]]}}},
        ],
    )
    assert [r["success"] for r in res] == [True, False, True, True, True]
    assert all("error" not in r for r in res)


def test_results_name_their_errors(spark):
    """A check that fails at compile, analysis or verdict time carries
    ``error`` ("<ExceptionType>: <message>"); one the data fails does not,
    and the rest of the suite still evaluates."""
    res = evaluate_suite(
        _df(spark),
        [
            # the data fails it: cat has a NULL
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "cat"}},
            # compile time: %f has no java.time twin
            {"expectation_type":
                 "expect_column_values_to_match_strftime_format",
             "kwargs": {"column": "cat", "strftime_format": "%Y %f"}},
            # analysis time: the column does not exist
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "no_such_col"}},
            # verdict time: a string bound against a numeric count
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": "one"}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1}},
        ],
    )
    assert [r["success"] for r in res] == [False, False, False, False, True]
    assert "error" not in res[0] and "error" not in res[4]
    assert res[1]["error"].startswith(
        "ValueError: unsupported strftime directive '%f'")
    assert res[2]["error"].startswith("AnalysisException: ")
    assert "no_such_col" in res[2]["error"]
    assert res[3]["error"].startswith("TypeError: ")


def _catalog_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4, 5],
                "b": [9, 8, 7, 6, 5],
                "cat": ["a", "b", "a", "c", None],
                "val": [10.0, 20.0, None, 40.0, 50.0],
                "txt": ["ok", "", "  ", " pad ", "n/a"],
                "ts": ["2020-01-05 00:00:00", "2020-06-01 00:00:00",
                       "2099-01-01 00:00:00", None, "2020-03-01 00:00:00"],
                "js": ['{"k":1}', "[1,2]", "not json", None, '{"n":"a"}'],
                "pii": ["mail a.b@example.com", "host 10.1.2.3",
                        "call (555) 123-4567", "zip 90210", "fe80::1"],
            }
        )
    )


_COLS = ["id", "b", "cat", "val", "txt", "ts", "js", "pii"]

# catalog key -> (kwargs that pass, kwargs that fail) on _catalog_df; a
# string is SodaCL text.  val's non-null values are 10, 20, 40, 50; cat's
# a, b, a, c; each text/PII flag hits 1 of 5 rows (surrounded: 2)
_CATALOG_CASES = {
    "expect_table_row_count_to_be_between": (
        {"min_value": 1, "max_value": 10}, {"min_value": 6}),
    "expect_table_row_count_to_equal": ({"value": 5}, {"value": 4}),
    "expect_table_row_count_to_equal_other_table": (
        {"other_table_name": "catalog_five"},
        {"other_table_name": "catalog_four"}),
    "expect_column_mean_to_be_between": (
        {"column": "val", "min_value": 29, "max_value": 31},
        {"column": "val", "min_value": 31}),
    "expect_column_median_to_be_between": (
        {"column": "val", "min_value": 30, "max_value": 30},
        {"column": "val", "min_value": 31}),
    "expect_column_min_to_be_between": (
        {"column": "val", "min_value": 10, "max_value": 10},
        {"column": "val", "min_value": 11}),
    "expect_column_max_to_be_between": (
        {"column": "val", "min_value": 50, "max_value": 50},
        {"column": "val", "max_value": 49}),
    "expect_column_sum_to_be_between": (
        {"column": "val", "min_value": 120, "max_value": 120},
        {"column": "val", "min_value": 1000}),
    "expect_column_stdev_to_be_between": (
        {"column": "val", "min_value": 18, "max_value": 19},
        {"column": "val", "max_value": 10}),
    "expect_column_unique_value_count_to_be_between": (
        {"column": "cat", "min_value": 3, "max_value": 3},
        {"column": "cat", "min_value": 4}),
    "expect_column_proportion_of_unique_values_to_be_between": (
        {"column": "cat", "min_value": 0.75, "max_value": 0.75},
        {"column": "cat", "min_value": 0.8}),
    "expect_column_values_to_be_unique": (
        {"column": "id"}, {"column": "cat"}),
    "expect_compound_columns_to_be_unique": (
        {"column_list": ["id", "cat"]}, {"column_list": ["cat", "cat"]}),
    "soda:row_count": ("row_count > 0", "row_count > 5"),
    "soda:missing_count": ("missing_count(val) = 1", "missing_count(val) = 0"),
    "soda:duplicate_count": (
        "duplicate_count(cat) = 1", "duplicate_count(id) > 0"),
    "soda:min": ("min(val) >= 10", "min(val) > 10"),
    "soda:max": ("max(val) <= 50", "max(val) < 50"),
    "soda:avg": ("avg(val) = 30", "avg(val) != 30"),
    "soda:sum": ("sum(id) = 15", "sum(id) < 15"),
    "dqops:distinct_count": (
        {"column": "cat", "min_value": 3, "max_value": 3},
        {"column": "cat", "min_value": 4}),
    "dqops:distinct_percent": (
        {"column": "id", "min_percent": 100.0},
        {"column": "cat", "max_percent": 70.0}),  # 3 of 4 = 75%
    "dqops:duplicate_count": (
        {"column": "cat", "max_count": 1}, {"column": "cat"}),
    "dqops:duplicate_percent": (
        {"column": "cat", "max_percent": 25.0},
        {"column": "cat", "max_percent": 20.0}),
    "expect_column_values_to_not_be_null": ({"column": "id"}, {"column": "cat"}),
    "expect_column_values_to_be_null": (
        {"column": "cat", "mostly": 0.2}, {"column": "cat"}),
    "expect_column_values_to_be_between": (
        {"column": "val", "min_value": 10, "max_value": 50},
        {"column": "val", "min_value": 0, "max_value": 45}),
    "expect_column_value_lengths_to_be_between": (
        {"column": "cat", "min_value": 1, "max_value": 1},
        {"column": "cat", "min_value": 2}),
    "expect_column_value_lengths_to_equal": (
        {"column": "cat", "value": 1}, {"column": "cat", "value": 2}),
    "expect_column_values_to_be_in_set": (
        {"column": "cat", "value_set": ["a", "b", "c"]},
        {"column": "cat", "value_set": ["a", "b"]}),
    "expect_column_values_to_not_be_in_set": (
        {"column": "cat", "value_set": ["x", "y"]},
        {"column": "cat", "value_set": ["a"]}),
    # a NULL in value_set must not excuse the out-of-set 'c'
    "expect_column_distinct_values_to_be_in_set": (
        {"column": "cat", "value_set": ["a", "b", "c", "d"]},
        {"column": "cat", "value_set": ["a", "b", None]}),
    "expect_column_values_to_match_regex": (
        {"column": "cat", "regex": "^[a-c]$"},
        {"column": "cat", "regex": "^a"}),
    "expect_column_values_to_not_match_regex": (
        {"column": "cat", "regex": "^z"}, {"column": "cat", "regex": "^a"}),
    "expect_column_values_to_match_regex_list": (
        {"column": "cat", "regex_list": ["^a$", "^[bc]$"]},
        {"column": "cat", "regex_list": ["^a$", "^[bc]$"],
         "match_on": "all"}),
    "expect_column_values_to_not_match_regex_list": (
        {"column": "cat", "regex_list": ["^z", "^y"]},
        {"column": "cat", "regex_list": ["^z", "^a"]}),
    "expect_column_values_to_match_like_pattern": (
        {"column": "cat", "like_pattern": "_"},
        {"column": "cat", "like_pattern": "a%"}),
    "expect_column_values_to_not_match_like_pattern": (
        {"column": "cat", "like_pattern": "z%"},
        {"column": "cat", "like_pattern": "a%"}),
    "expect_column_values_to_match_like_pattern_list": (
        {"column": "cat", "like_pattern_list": ["a%", "b%", "c%"]},
        {"column": "cat", "like_pattern_list": ["a%", "_"],
         "match_on": "all"}),
    "expect_column_values_to_not_match_like_pattern_list": (
        {"column": "cat", "like_pattern_list": ["__%", "z%"]},
        {"column": "cat", "like_pattern_list": ["a%"]}),
    "expect_column_values_to_match_strftime_format": (
        {"column": "ts", "strftime_format": "%Y-%m-%d %H:%M:%S"},
        {"column": "ts", "strftime_format": "%Y/%m/%d"}),
    "expect_column_values_to_be_json_parseable": (
        {"column": "js", "mostly": 0.75}, {"column": "js"}),
    "expect_column_values_to_be_dateutil_parseable": (
        {"column": "ts"}, {"column": "cat"}),
    "expect_column_values_to_match_json_schema": (
        {"column": "js", "json_schema": {"type": "object"}, "mostly": 0.5},
        {"column": "js", "json_schema": {"type": "object"}}),
    "expect_column_pair_values_a_to_be_greater_than_b": (
        {"column_A": "b", "column_B": "id", "or_equal": True},
        {"column_A": "b", "column_B": "id"}),
    "expect_column_pair_values_to_be_equal": (
        {"column_A": "id", "column_B": "id"},
        {"column_A": "id", "column_B": "b"}),
    "expect_column_pair_values_to_be_in_set": (
        {"column_A": "id", "column_B": "b",
         "value_pairs_set": [[1, 9], [2, 8], [3, 7], [4, 6], [5, 5]]},
        {"column_A": "id", "column_B": "b", "value_pairs_set": [[1, 9]]}),
    "expect_multicolumn_sum_to_equal": (
        {"column_list": ["id", "b"], "sum_total": 10},
        {"column_list": ["id", "b"], "sum_total": 11}),
    "expect_select_column_values_to_be_unique_within_record": (
        {"column_list": ["id", "val"]}, {"column_list": ["id", "b"]}),
    "expect_multicolumn_values_to_be_unique": (
        {"column_list": ["id", "val"]}, {"column_list": ["id", "b"]}),
    "expect_column_distinct_values_to_equal_set": (
        {"column": "cat", "value_set": ["a", "b", "c"]},
        {"column": "cat", "value_set": ["a", "b"]}),
    "expect_column_distinct_values_to_contain_set": (
        {"column": "cat", "value_set": ["a", "b"]},
        {"column": "cat", "value_set": ["a", "z"]}),
    "expect_column_most_common_value_to_be_in_set": (
        {"column": "cat", "value_set": ["a"]},
        {"column": "cat", "value_set": ["b"]}),
    "expect_column_quantile_values_to_be_between": (
        {"column": "val", "quantile_ranges": {
            "quantiles": [0.25, 0.75], "value_ranges": [[10, 20], [40, 50]]}},
        {"column": "val", "quantile_ranges": {
            "quantiles": [0.25], "value_ranges": [[45, 50]]}}),
    "expect_column_kl_divergence_to_be_less_than": (
        {"column": "val", "threshold": 0.05, "partition_object": {
            "bins": [0, 30, 60], "weights": [0.5, 0.5]}},
        {"column": "val", "threshold": 0.05, "partition_object": {
            "bins": [0, 30, 60], "weights": [0.9, 0.1]}}),
    "expect_column_value_z_scores_to_be_less_than": (
        {"column": "val", "threshold": 2.0},
        {"column": "val", "threshold": 1.0}),
    "expect_column_values_to_be_increasing": ({"column": "id"}, {"column": "b"}),
    "expect_column_values_to_be_decreasing": ({"column": "b"}, {"column": "id"}),
    "expect_table_columns_to_match_set": (
        {"column_set": _COLS}, {"column_set": ["id", "b"]}),
    "expect_table_columns_to_match_ordered_list": (
        {"column_list": _COLS}, {"column_list": _COLS[::-1]}),
    "expect_table_column_count_to_be_between": (
        {"min_value": 8, "max_value": 8}, {"min_value": 9}),
    "expect_table_column_count_to_equal": ({"value": 8}, {"value": 9}),
    "expect_column_to_exist": ({"column": "cat"}, {"column": "nope"}),
    "expect_column_values_to_be_of_type": (
        {"column": "id", "type_": "int64"}, {"column": "id", "type_": "str"}),
    "expect_column_values_to_be_in_type_list": (
        {"column": "val", "type_list": ["int", "float64"]},
        {"column": "val", "type_list": ["str"]}),
    "dqops:empty_text_found": (
        {"column": "txt", "max_count": 1}, {"column": "txt"}),
    "dqops:whitespace_text_found": (
        {"column": "txt", "max_count": 1}, {"column": "txt"}),
    "dqops:null_placeholder_text_found": (
        {"column": "txt", "max_count": 1}, {"column": "txt"}),
    "dqops:text_surrounded_by_whitespace_found": (
        {"column": "txt", "max_count": 2},
        {"column": "txt", "max_count": 1}),
    "dqops:empty_text_percent": (
        {"column": "txt", "max_percent": 20.0}, {"column": "txt"}),
    "dqops:whitespace_text_percent": (
        {"column": "txt", "max_percent": 20.0}, {"column": "txt"}),
    "dqops:null_placeholder_text_percent": (
        {"column": "txt", "max_percent": 20.0}, {"column": "txt"}),
    "dqops:text_surrounded_by_whitespace_percent": (
        {"column": "txt", "max_percent": 40.0},
        {"column": "txt", "max_percent": 30.0}),
    "dqops:contains_email_percent": (
        {"column": "pii", "max_percent": 20.0}, {"column": "pii"}),
    "dqops:contains_ip4_percent": (
        {"column": "pii", "max_percent": 20.0}, {"column": "pii"}),
    "dqops:contains_ip6_percent": (
        {"column": "pii", "max_percent": 20.0}, {"column": "pii"}),
    "dqops:contains_usa_zipcode_percent": (
        {"column": "pii", "max_percent": 20.0}, {"column": "pii"}),
    "dqops:contains_usa_phone_percent": (
        {"column": "pii", "max_percent": 20.0}, {"column": "pii"}),
    # 1 of 4 non-null ts values is after 2030
    "dqops:date_values_in_future_percent": (
        {"column": "ts", "max_percent": 25.0, "now": "2030-01-01 00:00:00"},
        {"column": "ts", "now": "2030-01-01 00:00:00"}),
    "dqops:date_in_range_percent": (
        {"column": "ts", "min_date": "2020-01-01", "max_date": "2020-12-31",
         "min_percent": 75.0},
        {"column": "ts", "min_date": "2020-01-01", "max_date": "2020-12-31",
         "min_percent": 80.0}),
    "dqops:text_match_date_format_percent": (
        {"column": "ts", "date_format": "%Y-%m-%d %H:%M:%S"},
        {"column": "ts", "date_format": "%Y/%m/%d"}),
    "dqops:sql_condition_failed_on_column": (
        {"column": "id", "sql_condition": "{column} > 0"},
        {"column": "id", "sql_condition": "{column} > 1"}),
    "dqops:sql_condition_failed_on_table": (
        {"sql_condition": "{table}.id + {table}.b = 10"},
        {"sql_condition": "id < b"}),
    # val's NULL row is a failed row: 4 of 5 pass
    "dqops:sql_condition_passed_percent_on_column": (
        {"column": "val", "sql_condition": "{column} > 0",
         "min_percent": 80.0},
        {"column": "val", "sql_condition": "{column} > 0"}),
    "dqops:sql_condition_passed_percent_on_table": (
        {"sql_condition": "id <= 5"}, {"sql_condition": "id < 5"}),
    "dqops:sql_aggregate_expression_on_column": (
        {"column": "val", "sql_expression": "max({column}) - min({column})",
         "min_value": 40, "max_value": 40},
        {"column": "val", "sql_expression": "max({column}) - min({column})",
         "min_value": 41}),
    "dqops:sql_aggregate_expression_on_table": (
        {"sql_expression": "sum(id) / count(*)", "min_value": 3,
         "max_value": 3},
        {"sql_expression": "sum(id) / count(*)", "min_value": 4}),
}


def test_every_catalog_key_passes_and_fails(spark):
    """Every catalog key, once with kwargs the data meets and once with
    kwargs it misses, in ONE evaluate_suite call (two aggregation passes
    plus the bounded monotone/other-table jobs)."""
    from packs_spark.operators.expectations import CATALOG

    assert set(_CATALOG_CASES) == set(CATALOG)
    spark.range(5).createOrReplaceTempView("catalog_five")
    spark.range(4).createOrReplaceTempView("catalog_four")

    def entry(etype, case):
        if isinstance(case, str):
            parsed = parse_sodacl(case)
            assert parsed["expectation_type"] == etype
            return parsed
        return {"expectation_type": etype, "kwargs": case}

    suite = [entry(etype, case)
             for etype, cases in _CATALOG_CASES.items() for case in cases]
    res = evaluate_suite(_catalog_df(spark), suite)
    assert len(res) == len(suite)
    got = {}
    for i, etype in enumerate(_CATALOG_CASES):
        ok, bad = res[2 * i], res[2 * i + 1]
        assert "error" not in ok and "error" not in bad, (ok, bad)
        got[etype] = (ok["success"], bad["success"])
    assert {k: v for k, v in got.items() if v != (True, False)} == {}


def test_runtime_error_fails_only_its_check(spark):
    """A check that fails at run time (an ANSI cast of 'abc' to a number)
    fails alone; the rest of its pass still evaluates."""
    df = spark.createDataFrame([("1",), ("abc",), ("3",)], "s string")
    res = evaluate_suite(
        df,
        [
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "s", "min_value": 0, "max_value": 5}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1}},
        ],
    )
    assert res[0]["success"] is False
    assert res[0]["error"].startswith("NumberFormatException:")
    assert res[1] == {"expectation": "expect_table_row_count_to_be_between",
                      "column": None, "success": True}


def _orders_df(spark):
    """Orders-shaped: o_custkey 10 and 30 repeat, and every column but the
    key holds a NULL."""
    from datetime import datetime

    return spark.createDataFrame(
        [
            (1, 10, "O", 1500.0, datetime(1995, 1, 2), "1-URGENT"),
            (2, 10, "F", 250000.5, datetime(1996, 3, 4), "2-HIGH"),
            (3, 20, None, None, None, None),
            (4, None, "P", 99.0, datetime(1998, 5, 6), "5-LOW"),
            (5, 30, "O", 410000.0, datetime(1994, 7, 8), "3-MEDIUM"),
            (6, 30, "X", 12.0, datetime(2020, 1, 1), " 4-NOT SPECIFIED"),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def test_split_passes_keep_results(spark):
    """The registry's GX and SodaCL suites give, field for field, what
    their checks give one at a time."""
    from packs_spark.queries_packs import _GX_SUITE, _SODA_CHECKS

    df = _orders_df(spark)
    df.createOrReplaceTempView("suite_other_orders")
    for suite in (_GX_SUITE, [parse_sodacl(c) for c in _SODA_CHECKS]):
        one_at_a_time = [r for exp in suite for r in evaluate_suite(df, [exp])]
        assert evaluate_suite(df, suite) == one_at_a_time


def test_distinct_checks_run_in_their_own_pass(spark, monkeypatch):
    """Plain and object aggregates share one df.agg; the countDistinct
    checks get a second one, and only they do."""
    import re

    df = _orders_df(spark)
    calls = []
    agg = type(df).agg

    def spy(self, *cols):
        calls.append({int(m) for m in
                      re.findall(r" AS c(\d+)_\d+'>$", "\n".join(map(repr, cols)),
                                 re.M)})
        return agg(self, *cols)

    monkeypatch.setattr(type(df), "agg", spy)
    plain = [
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 1}},
        {"expectation_type": "expect_column_median_to_be_between",
         "kwargs": {"column": "o_totalprice", "min_value": 1}},
        {"expectation_type": "expect_column_most_common_value_to_be_in_set",
         "kwargs": {"column": "o_orderstatus", "value_set": ["O"]}},
        {"expectation_type": "expect_table_column_count_to_equal",
         "kwargs": {"value": 6}},
    ]
    evaluate_suite(df, plain)
    assert calls == [{0, 1, 2}]

    calls.clear()
    distinct = [
        {"expectation_type": "expect_column_values_to_be_unique",
         "kwargs": {"column": "o_orderkey"}},
        {"expectation_type": "expect_compound_columns_to_be_unique",
         "kwargs": {"column_list": ["o_orderkey", "o_custkey"]}},
        parse_sodacl("duplicate_count(o_custkey) > 0"),
        {"expectation_type": "dqops:distinct_percent",
         "kwargs": {"column": "o_orderkey", "min_percent": 100.0}},
        {"expectation_type":
             "expect_column_unique_value_count_to_be_between",
         "kwargs": {"column": "o_orderstatus", "min_value": 2}},
    ]
    res = evaluate_suite(df, [plain[0], *distinct, plain[1]])
    assert calls == [{0, 6}, {1, 2, 3, 4, 5}]
    assert [r["success"] for r in res] == [True] * 7
