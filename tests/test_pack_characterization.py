"""Characterization of ``run_pack``: every pack's three streams, row for
row and string for string.

Each of the 18 packs runs once on small fixtures chosen so that every
metric, recommendation and schema row the pack can emit appears.  The
expected rows are the engine's output before ``run_pack`` became a
dispatch table over shared ``operators`` builders; the only rows that
differ from that output are listed in ``CHANGED`` with the reason.  The
other fix, the unknown-pack error naming every pack, is no stream row;
``test_pack_api.test_unknown_pack_raises`` covers it.

The tests after ``CHANGED`` pin, with the same strings as before, what these
fixtures cannot show: ties of the ratios ``run_pack`` rounds on the
driver, empty sources and dates that never parse.
"""

import os
import time

import pytest
from pyspark.sql import types as T

from packs_spark.pack_api import run_pack

_MIXED = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("qty", T.LongType()),
        T.StructField("launch", T.StringType()),
        T.StructField("year", T.LongType()),
    ]
)
_MIXED_ROWS = [
    (1, "alice", "a@x.com", "reach me at al@example.com", 10.5, 3,
     "2021-03-05", 1999),
    (2, "bob", "bad-email", "server at 10.0.0.1", 20.25, 4,
     "2020-01-15", 2004),
    (3, "carol", None, "x", 30.75, 5, "2022-06-30", 2001),
    (4, "dave", "", "", 40.0, 600, None, None),
    (5, "alice", "a@x.com", "n/a", 10.5, 3, "2021-03-05", 1999),
    (6, "erin", "e@w.io", "  padded  ", 12.5, 2, "2019-11-02", 2010),
    (7, "frank", "f@v.org", "   ", 55.125, 6, "2018-07-21", 2015),
]
_TARGET_ROWS = [
    (1, 10.5, 3), (2, 21.0, 4), (3, 30.75, 5), (4, 40.0, 7), (8, 9.5, 1),
]
_PARENT_ROWS = [(1,), (2,), (3,), (4,), (5,)]
# 600 rows and one NULL: p_cells_missing (Spark's double string) and the
# KS p-value against ``shifted`` (Python's str) both print as exponents
_WIDE_ROWS = [(float(i), i or None) for i in range(600)]
_SHIFTED_ROWS = [(i + 80.0, i) for i in range(600)]
# one hit of every PII pattern in ``note``; ``tag`` has none
_CONTACT_ROWS = [
    ("mail al@example.com", "a"),
    ("call +1 555-123-4567", "b"),
    ("card 4111 1111 1111 1111", "c"),
    ("host 10.0.0.1", "d"),
    ("v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334", "e"),
    ("zip 90210", "f"),
    ("ssn 123-45-6789", "g"),
    ("iban DE89370400440532013000", "h"),
    ("nothing here", None),
]
_STALE_DAYS = 10


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("characterization")

    def write(name, rows, schema):
        path = str(base / f"{name}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        return {"type": "parquet", "path": path, "name": name}

    return {
        "mixed": write("mixed", _MIXED_ROWS, _MIXED),
        "target": write("target", _TARGET_ROWS,
                        "id bigint, price double, qty bigint"),
        "parent": write("parent", _PARENT_ROWS, "id bigint"),
        "wide": write("wide", _WIDE_ROWS, "v double, w bigint"),
        "shifted": write("shifted", _SHIFTED_ROWS, "v double, w bigint"),
        "contacts": write("contacts", _CONTACT_ROWS, "note string, tag string"),
    }


def _age(path, days):
    """Set every file under ``path`` to ``days`` old, so the timeliness
    pack's staleness metric is a fixed string."""
    t = time.time() - days * 86400
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (t, t))


def _conf(name, src):
    """(source_conf, pack_conf) of one pack's characterization run."""
    mixed = src["mixed"]
    return {
        "text_validation": (mixed, {"job": {
            "columns": ["name", "note"], "min_length": 2, "max_length": 20}}),
        "profiling": ([mixed, src["wide"]], {}),
        "duplicates": (mixed, {"job": {"columns": ["name", "email"]}}),
        "schema_scanner": (mixed, {}),
        "numeric_validation": (mixed, {"job": {"rules": [
            {"column": "qty", "min": 1, "max": 50},
            {"column": "price", "min": 11, "max": 50},
            {"column": "id", "min": 0, "max": 100},
        ]}}),
        "pii_scanner": ([mixed, src["contacts"]], {}),
        "data_compare": (mixed, {"job": {
            "target": src["target"], "id_columns": ["id"],
            "columns": ["price", "qty"]}}),
        "timeliness": (mixed, {}),
        "pattern_validation": (mixed, {"job": {"checks": [
            {"column": "email", "pattern": "email"},
            {"column": "name", "pattern": "alphanumeric"},
        ]}}),
        "accuracy": (mixed, {}),
        "referential_integrity": (mixed, {"job": {
            "parent": src["parent"], "child_key": "id",
            "parent_key": "id"}}),
        "outlier_detection": (mixed, {"job": {
            "columns": ["qty"], "order_columns": ["id"], "n_neighbors": 2}}),
        "data_drift": (src["wide"], {"job": {
            "target": src["shifted"], "columns": ["v"]}}),
        "great_expectations": (mixed, {"job": {"expectations": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "id"}},
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "email"}},
            {"expectation_type": "expect_table_row_count_to_be_between",
             "kwargs": {"min_value": 1, "max_value": 100}},
        ]}}),
        "soda": (mixed, {"job": {"checks": [
            "row_count > 0", "missing_count(email) = 0"]}}),
        "dqops_checks": (mixed, {"job": {"checks": [
            {"check": "distinct_count", "column": "id",
             "min_value": 7, "max_value": 7},
            {"check": "whitespace_text_found", "column": "note",
             "max_count": 0},
        ]}}),
        "fhir_compliance": (mixed, {"job": {
            "field_mappings": {"id": "id", "mail": "email"},
            "required_fields": ["id", "mail"],
            "patterns": {"mail": r"[^@]+@[^@]+\.[a-z]+"}}}),
        "dbt_checks": ({}, {"job": {"project_dir": "proj",
                                    "run_results_data": {"results": [
            {"resource_type": "test", "status": "pass"},
            {"resource_type": "test", "status": "fail"},
            {"resource_type": "test", "status": "pass"},
            {"resource_type": "model", "status": "success"},
        ]}}}),
    }[name]


def streams(spark, name, src):
    """The three streams of one pack run as sorted tuples."""
    source_conf, pack_conf = _conf(name, src)
    if name == "timeliness":
        _age(source_conf["path"], _STALE_DAYS)
    out = run_pack(spark, name, source_conf, pack_conf)
    return {
        k: sorted(tuple(r) for r in out[k].collect())
        for k in ("metrics", "recommendations", "schemas")
    }


_MIXED_SCHEMAS = sorted(
    [("column", c, "column", c, "mixed") for c in _MIXED.fieldNames()]
    + [("dataset", "mixed", "dataset", "mixed", None)]
)

EXPECTED = {
    'text_validation': {
        'metrics': [
            ('empty_text_found', '0', 'column', 'name', 'mixed'),
            ('empty_text_found', '1', 'column', 'note', 'mixed'),
            ('in_range_count', '4', 'column', 'note', 'mixed'),
            ('in_range_count', '7', 'column', 'name', 'mixed'),
            ('max_word_count', '1', 'column', 'name', 'mixed'),
            ('max_word_count', '4', 'column', 'note', 'mixed'),
            ('min_word_count', '0', 'column', 'note', 'mixed'),
            ('min_word_count', '1', 'column', 'name', 'mixed'),
            ('non_null', '7', 'column', 'name', 'mixed'),
            ('non_null', '7', 'column', 'note', 'mixed'),
            ('null_placeholder_text_found', '0', 'column', 'name', 'mixed'),
            ('null_placeholder_text_found', '1', 'column', 'note', 'mixed'),
            ('score', '0.79', 'dataset', 'mixed', None),
            ('text_length_above_max_length', '0', 'column', 'name', 'mixed'),
            ('text_length_above_max_length', '1', 'column', 'note', 'mixed'),
            ('text_length_below_min_length', '0', 'column', 'name', 'mixed'),
            ('text_length_below_min_length', '2', 'column', 'note', 'mixed'),
            ('text_length_in_range_percent',
             '0.5714', 'column', 'note', 'mixed'),
            ('text_length_in_range_percent', '1.0', 'column', 'name', 'mixed'),
            ('text_max_length', '26', 'column', 'note', 'mixed'),
            ('text_max_length', '5', 'column', 'name', 'mixed'),
            ('text_mean_length', '4.43', 'column', 'name', 'mixed'),
            ('text_mean_length', '8.71', 'column', 'note', 'mixed'),
            ('text_min_length', '0', 'column', 'note', 'mixed'),
            ('text_min_length', '3', 'column', 'name', 'mixed'),
            ('text_surrounded_by_whitespace_found',
             '0', 'column', 'name', 'mixed'),
            ('text_surrounded_by_whitespace_found',
             '2', 'column', 'note', 'mixed'),
            ('total_length', '31', 'column', 'name', 'mixed'),
            ('total_length', '61', 'column', 'note', 'mixed'),
            ('total_text_issues', '3', 'dataset', 'mixed', None),
            ('whitespace_text_found', '0', 'column', 'name', 'mixed'),
            ('whitespace_text_found', '1', 'column', 'note', 'mixed'),
        ],
        'recommendations': [
            ("Column 'note' has 1 empty text values.",
             'Empty Text Found', 'column', 'note', 'mixed', 'info'),
            ("Column 'note' has 1 null placeholder values (N/A, None, etc.).",
             'Null Placeholder Found', 'column', 'note', 'mixed', 'warning'),
            ("Column 'note' has 1 values longer than maximum length 20.",
             'Text Too Long', 'column', 'note', 'mixed', 'warning'),
            ("Column 'note' has 1 whitespace-only values.",
             'Whitespace Only Text', 'column', 'note', 'mixed', 'warning'),
            ("Column 'note' has 2 values shorter than minimum length 2.",
             'Text Too Short', 'column', 'note', 'mixed', 'warning'),
            ("Column 'note' has 2 values with leading/trailing whitespace.",
             'Text Surrounded By Whitespace', 'column', 'note', 'mixed', 'info'),
        ],
        'schemas': _MIXED_SCHEMAS,
    },
    'profiling': {
        'metrics': [
            ('completeness_score', '0.86', 'column', 'email', 'mixed'),
            ('completeness_score', '0.86', 'column', 'launch', 'mixed'),
            ('completeness_score', '0.86', 'column', 'year', 'mixed'),
            ('completeness_score', '1.0', 'column', 'id', 'mixed'),
            ('completeness_score', '1.0', 'column', 'name', 'mixed'),
            ('completeness_score', '1.0', 'column', 'note', 'mixed'),
            ('completeness_score', '1.0', 'column', 'price', 'mixed'),
            ('completeness_score', '1.0', 'column', 'qty', 'mixed'),
            ('completeness_score', '1.0', 'column', 'v', 'wide'),
            ('completeness_score', '1.0', 'column', 'w', 'wide'),
            ('n_cells_missing', '1', 'dataset', 'wide', None),
            ('n_cells_missing', '3', 'dataset', 'mixed', None),
            ('n_distinct', '5', 'column', 'email', 'mixed'),
            ('n_distinct', '5', 'column', 'launch', 'mixed'),
            ('n_distinct', '5', 'column', 'year', 'mixed'),
            ('n_distinct', '599', 'column', 'w', 'wide'),
            ('n_distinct', '6', 'column', 'name', 'mixed'),
            ('n_distinct', '6', 'column', 'price', 'mixed'),
            ('n_distinct', '6', 'column', 'qty', 'mixed'),
            ('n_distinct', '600', 'column', 'v', 'wide'),
            ('n_distinct', '7', 'column', 'id', 'mixed'),
            ('n_distinct', '7', 'column', 'note', 'mixed'),
            ('n_rows', '600', 'dataset', 'wide', None),
            ('n_rows', '7', 'dataset', 'mixed', None),
            ('n_var', '2', 'dataset', 'wide', None),
            ('n_var', '8', 'dataset', 'mixed', None),
            ('non_null', '599', 'column', 'w', 'wide'),
            ('non_null', '6', 'column', 'email', 'mixed'),
            ('non_null', '6', 'column', 'launch', 'mixed'),
            ('non_null', '6', 'column', 'year', 'mixed'),
            ('non_null', '600', 'column', 'v', 'wide'),
            ('non_null', '7', 'column', 'id', 'mixed'),
            ('non_null', '7', 'column', 'name', 'mixed'),
            ('non_null', '7', 'column', 'note', 'mixed'),
            ('non_null', '7', 'column', 'price', 'mixed'),
            ('non_null', '7', 'column', 'qty', 'mixed'),
            ('p_cells_missing', '0.053571', 'dataset', 'mixed', None),
            ('p_cells_missing', '8.33E-4', 'dataset', 'wide', None),
            ('p_distinct', '0.8333', 'column', 'email', 'mixed'),
            ('p_distinct', '0.8333', 'column', 'launch', 'mixed'),
            ('p_distinct', '0.8333', 'column', 'year', 'mixed'),
            ('p_distinct', '0.8571', 'column', 'name', 'mixed'),
            ('p_distinct', '0.8571', 'column', 'price', 'mixed'),
            ('p_distinct', '0.8571', 'column', 'qty', 'mixed'),
            ('p_distinct', '1.0', 'column', 'id', 'mixed'),
            ('p_distinct', '1.0', 'column', 'note', 'mixed'),
            ('p_distinct', '1.0', 'column', 'v', 'wide'),
            ('p_distinct', '1.0', 'column', 'w', 'wide'),
        ],
        'recommendations': [],
        'schemas': [
            ('column', 'email', 'column', 'email', 'mixed'),
            ('column', 'id', 'column', 'id', 'mixed'),
            ('column', 'launch', 'column', 'launch', 'mixed'),
            ('column', 'name', 'column', 'name', 'mixed'),
            ('column', 'note', 'column', 'note', 'mixed'),
            ('column', 'price', 'column', 'price', 'mixed'),
            ('column', 'qty', 'column', 'qty', 'mixed'),
            ('column', 'v', 'column', 'v', 'wide'),
            ('column', 'w', 'column', 'w', 'wide'),
            ('column', 'year', 'column', 'year', 'mixed'),
            ('dataset', 'mixed', 'dataset', 'mixed', None),
            ('dataset', 'wide', 'dataset', 'wide', None),
        ],
    },
    'duplicates': {
        'metrics': [
            ('distinct_count', '6', 'dataset', 'mixed', None),
            ('distinct_percent', '0.8571', 'dataset', 'mixed', None),
            ('duplicates', '1', 'dataset', 'mixed', None),
            ('score', '0.86', 'dataset', 'mixed', None),
        ],
        'recommendations': [
            ("dataset 'mixed' has a duplication rate of 14.3% on the scope ['name', 'email'].",
             'Duplicates', 'dataset', 'mixed', None, 'info'),
        ],
        'schemas': _MIXED_SCHEMAS,
    },
    'schema_scanner': {
        'metrics': [
            ('column_count', '8', 'dataset', 'mixed', None),
            ('columns_hash',
             'fdacdbfa2e9370a6a38928ae32a1af0d', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'numeric_validation': {
        'metrics': [
            ('above_max', '0', 'column', 'id', 'mixed'),
            ('above_max', '1', 'column', 'price', 'mixed'),
            ('above_max', '1', 'column', 'qty', 'mixed'),
            ('below_min', '0', 'column', 'id', 'mixed'),
            ('below_min', '0', 'column', 'qty', 'mixed'),
            ('below_min', '2', 'column', 'price', 'mixed'),
            ('in_range_percent', '0.5714', 'column', 'price', 'mixed'),
            ('in_range_percent', '0.8571', 'column', 'qty', 'mixed'),
            ('in_range_percent', '1.0', 'column', 'id', 'mixed'),
        ],
        'recommendations': [
            ("Column 'price' has 3 values outside [11, 50].",
             'Out Of Range Values', 'column', 'price', 'mixed', 'warning'),
            ("Column 'qty' has 1 values outside [1, 50].",
             'Out Of Range Values', 'column', 'qty', 'mixed', 'info'),
        ],
        'schemas': _MIXED_SCHEMAS,
    },
    'pii_scanner': {
        'metrics': [
            ('pii_hits_credit_card', '2', 'column', 'note', 'contacts'),
            ('pii_hits_email', '1', 'column', 'note', 'contacts'),
            ('pii_hits_email', '1', 'column', 'note', 'mixed'),
            ('pii_hits_email', '4', 'column', 'email', 'mixed'),
            ('pii_hits_iban', '1', 'column', 'note', 'contacts'),
            ('pii_hits_ipv4', '1', 'column', 'note', 'contacts'),
            ('pii_hits_ipv4', '1', 'column', 'note', 'mixed'),
            ('pii_hits_ipv6', '1', 'column', 'note', 'contacts'),
            ('pii_hits_phone', '3', 'column', 'note', 'contacts'),
            ('pii_hits_usa_ssn', '1', 'column', 'note', 'contacts'),
            ('pii_hits_usa_zipcode', '1', 'column', 'note', 'contacts'),
        ],
        'recommendations': [
            ("Column 'email' matched PII patterns in 4 rows.",
             'PII Found', 'column', 'email', 'mixed', 'high'),
            ("Column 'note' matched PII patterns in 11 rows.",
             'PII Found', 'column', 'note', 'contacts', 'high'),
            ("Column 'note' matched PII patterns in 2 rows.",
             'PII Found', 'column', 'note', 'mixed', 'info'),
        ],
        'schemas': sorted(_MIXED_SCHEMAS + [
            ('column', 'note', 'column', 'note', 'contacts'),
            ('column', 'tag', 'column', 'tag', 'contacts'),
            ('dataset', 'contacts', 'dataset', 'contacts', None),
        ]),
    },
    'data_compare': {
        'metrics': [
            ('cell_mismatches', '2', 'dataset', 'mixed', None),
            ('match_rate', '0.5', 'dataset', 'mixed', None),
            ('rows_fully_matched', '2', 'dataset', 'mixed', None),
            ('rows_in_common', '4', 'dataset', 'mixed', None),
            ('rows_source_only', '3', 'dataset', 'mixed', None),
            ('rows_target_only', '1', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'timeliness': {
        'metrics': [
            ('data_staleness_days', '10.0', 'dataset', 'mixed', None),
            ('earliest_date', '2018-07-21', 'column', 'launch', 'mixed'),
            ('earliest_year', '1999', 'column', 'year', 'mixed'),
            ('latest_date', '2022-06-30', 'column', 'launch', 'mixed'),
            ('latest_year', '2015', 'column', 'year', 'mixed'),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'pattern_validation': {
        'metrics': [
            ('valid_alphanumeric', '7', 'column', 'name', 'mixed'),
            ('valid_email', '6', 'column', 'email', 'mixed'),
            ('valid_percent_alphanumeric', '1.0', 'column', 'name', 'mixed'),
            ('valid_percent_email', '1.0', 'column', 'email', 'mixed'),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'accuracy': {
        'metrics': [
            ('modal_decimal_digits', '1', 'column', 'price', 'mixed'),
            ('proportion_at_modal', '0.4286', 'column', 'price', 'mixed'),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'referential_integrity': {
        'metrics': [
            ('child_count', '7', 'dataset', 'mixed', None),
            ('orphan_count', '2', 'dataset', 'mixed', None),
            ('orphan_ratio', '0.2857', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'outlier_detection': {
        'metrics': [
            ('n_outliers', '1', 'dataset', 'mixed', None),
            ('normality_score', '0.8562', 'dataset', 'mixed', None),
        ],
        'recommendations': [
            ('1 of 7 rows score as outliers.',
             'Outliers Detected', 'dataset', 'mixed', None, 'info'),
        ],
        'schemas': _MIXED_SCHEMAS,
    },
    'data_drift': {
        'metrics': [
            ('drift_score', '0.0', 'dataset', 'wide', None),
            ('ks_pvalue', '4e-05', 'column', 'v', 'wide'),
            ('ks_statistic', '0.133333', 'column', 'v', 'wide'),
        ],
        'recommendations': [],
        'schemas': [
            ('column', 'v', 'column', 'v', 'wide'),
            ('column', 'w', 'column', 'w', 'wide'),
            ('dataset', 'wide', 'dataset', 'wide', None),
        ],
    },
    'great_expectations': {
        'metrics': [
            ('expect_column_values_to_not_be_null',
             'False', 'column', 'email', 'mixed'),
            ('expect_column_values_to_not_be_null',
             'True', 'column', 'id', 'mixed'),
            ('expect_table_row_count_to_be_between',
             'True', 'column', 'mixed', 'mixed'),
            ('score', '0.67', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'soda': {
        'metrics': [
            ('missing_count(email) = 0', 'False', 'dataset', 'mixed', None),
            ('row_count > 0', 'True', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'dqops_checks': {
        'metrics': [
            ('dqops:distinct_count', 'True', 'column', 'id', 'mixed'),
            ('dqops:whitespace_text_found',
             'False', 'column', 'note', 'mixed'),
            ('score', '0.5', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'fhir_compliance': {
        'metrics': [
            ('completeness', '0.8571', 'dataset', 'mixed', None),
            ('score', '0.57', 'dataset', 'mixed', None),
            ('total_records', '7', 'dataset', 'mixed', None),
            ('valid_records', '4', 'dataset', 'mixed', None),
            ('validity_ratio', '0.5714', 'dataset', 'mixed', None),
        ],
        'recommendations': [],
        'schemas': _MIXED_SCHEMAS,
    },
    'dbt_checks': {
        'metrics': [
            ('score', '0.67', 'dataset', 'proj', None),
            ('tests_failed', '1', 'dataset', 'proj', None),
            ('tests_passed', '2', 'dataset', 'proj', None),
            ('tests_total', '3', 'dataset', 'proj', None),
        ],
        'recommendations': [],
        'schemas': [],
    },
}

# (pack, stream) → {row before: row now}.  The one value that moved:
# pattern_validation counted a NULL or empty cell as valid in the numerator
# but divided by count(col), which leaves those cells out; the email
# column holds one NULL and one "" among 7 rows, 6 of them valid.
CHANGED = {
    ("pattern_validation", "metrics"): {
        ("valid_percent_email", "1.0", "column", "email", "mixed"):
        ("valid_percent_email", "0.8571", "column", "email", "mixed"),
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_pack_streams_unchanged(spark, sources, name):
    got = streams(spark, name, sources)
    for stream, rows in EXPECTED[name].items():
        moved = CHANGED.get((name, stream), {})
        want = sorted(moved.get(r, r) for r in rows)
        assert got[stream] == want, (name, stream)


def test_driver_ratios_round_half_even(spark, tmp_path):
    """orphan_ratio, in_range_percent and proportion_at_modal are rounded
    from the builder's counts with Python's ``round``: an exact tie such as
    1/32 = 0.03125 reads 0.0312, where the registry rows' Spark ``round``
    (half up, like the oracle) gives 0.0313."""
    child = tmp_path / "c.csv"
    child.write_text("id,v,x\n" + "".join(
        f"{i},{i},{1.5 if i <= 17 else 1.25}\n" for i in range(1, 33)
    ))
    parent = tmp_path / "p.csv"
    parent.write_text("id\n" + "".join(f"{i}\n" for i in range(1, 32)))
    src = {"type": "csv", "path": str(child), "name": "c"}

    def metrics(name, job):
        out = run_pack(spark, name, src, {"job": job})
        return {r.key: r.value for r in out["metrics"].collect()}

    assert metrics("referential_integrity", {
        "parent": {"type": "csv", "path": str(parent)},
        "child_key": "id", "parent_key": "id",
    })["orphan_ratio"] == "0.0312"
    assert metrics("numeric_validation", {
        "rules": [{"column": "v", "min": 1, "max": 29}],
    })["in_range_percent"] == "0.9062"
    assert metrics("accuracy", {"columns": ["x"]}) == {
        "modal_decimal_digits": "1", "proportion_at_modal": "0.5312",
    }


def test_empty_source(spark, tmp_path):
    """A header-only source: the out-of-range and valid counts read 0, not
    null, and every share reads 1.0."""
    path = tmp_path / "empty.csv"
    path.write_text("id,email,qty\n")
    src = {"type": "csv", "path": str(path), "name": "e"}

    def metrics(name, job):
        out = run_pack(spark, name, src, {"job": job})
        assert out["recommendations"].count() == 0
        return sorted((r.key, r.value, r.scope) for r in out["metrics"].collect())

    assert metrics("numeric_validation", {
        "rules": [{"column": "qty", "min": 1, "max": 50}],
    }) == [
        ("above_max", "0", "qty"),
        ("below_min", "0", "qty"),
        ("in_range_percent", "1.0", "qty"),
    ]
    assert metrics("pattern_validation", {
        "checks": [{"column": "email", "pattern": "email"}],
    }) == [
        ("valid_email", "0", "email"),
        ("valid_percent_email", "1.0", "email"),
    ]


def test_timeliness_unparseable_dates(spark, tmp_path):
    """A column that looks like dates but never parses keeps its two rows,
    spelled ``None``."""
    path = tmp_path / "bad.csv"
    path.write_text("id,d\n1,2021-13-45\n2,2020-99-99\n")
    out = run_pack(spark, "timeliness",
                   {"type": "csv", "path": str(path), "name": "bad"})
    got = sorted(
        tuple(r) for r in out["metrics"].collect()
        if r.key != "data_staleness_days"
    )
    assert got == [
        ("earliest_date", "None", "column", "d", "bad"),
        ("latest_date", "None", "column", "d", "bad"),
    ]
