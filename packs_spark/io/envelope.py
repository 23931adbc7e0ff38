"""Metric envelope — the universal result-record shape of the reference.

The reference emits every result as
``{"key": k, "value": str(v), "scope": {"perimeter": p, "value": s,
"parent_scope": {...}}}`` (profiling_pack/main.py:310-323).  Here the same
shape is a long-format DataFrame ``(key, value, perimeter, scope,
parent_scope)`` so metric streams stay distributed and can be written
per-partition (north rule: per-partition metrics + lineage).

Every envelope row, and so every value string, is made by :func:`envelope`:
a value computed on the driver is spelled by :func:`format_value` (the
reference's ``str``), a Column value by Spark's string cast.  Rows made on
the driver become a frame through :func:`local_frame`.
"""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("perimeter", T.StringType(), False),
        T.StructField("scope", T.StringType(), False),
        T.StructField("parent_scope", T.StringType(), True),
    ]
)

# Recommendation stream — the reference's second artifact stream
# ({content, type, scope, level}, level ∈ info|warning|high;
# text_validation_pack/main.py:235-241, outlier levels main.py:22-28).
RECOMMENDATION_SCHEMA = T.StructType(
    [
        T.StructField("content", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("perimeter", T.StringType(), False),
        T.StructField("scope", T.StringType(), False),
        T.StructField("parent_scope", T.StringType(), True),
        T.StructField("level", T.StringType(), False),
    ]
)

# Schemas stream — the reference's third artifact stream
# ({key, value, scope}; schema_scanner_pack/main.py:61-72,
# profiling_pack/main.py:468-492).  Same long shape as metrics.
SCHEMA_STREAM_SCHEMA = ENVELOPE_SCHEMA

RECOMMENDATION_LEVELS = ("info", "warning", "high")


def recommendation_level(proportion: float) -> str:
    """The reference's severity ladder (outlier_detection_pack/main.py:22-28):
    >0.5 → high, >0.3 → warning, else info."""
    if proportion > 0.5:
        return "high"
    if proportion > 0.3:
        return "warning"
    return "info"


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType
) -> DataFrame:
    """A small frame of driver-side ``rows`` with exactly ``schema``, built
    from an Arrow table.  It plans as a LocalRelation, so collecting it
    runs no Spark job; ``createDataFrame`` of Python rows runs a
    Python-worker job to unpickle them.  A None in a non-nullable field
    raises ValueError."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


_ONE_ROW = T.StructType([T.StructField("id", T.LongType(), False)])


def one_row(spark: SparkSession) -> DataFrame:
    """``spark.range(1)`` as a local frame: a select of driver-side values
    over it stays a LocalRelation (the optimizer folds the projection), so
    collecting it runs no job; ``spark.range(1)`` runs one."""
    return local_frame(spark, [(0,)], _ONE_ROW)


def format_value(v: Any, ndigits: int | None = None) -> str:
    """Stringify like the reference: ``str(round(x, n))`` for floats
    (banker's rounding — profiling_pack/main.py:336), plain ``str``
    otherwise."""
    if v is None:
        return "null"
    if isinstance(v, float):
        if ndigits is not None:
            v = round(v, ndigits)
        return str(v)
    return str(v)


def envelope(
    spark: SparkSession,
    rows: Iterable[tuple],
    frame: DataFrame | None = None,
) -> DataFrame:
    """The one builder of envelope rows: a metric row per ``(key, value,
    perimeter, scope, parent_scope)`` tuple.

    Without ``frame`` the fields are values computed on the driver (results
    are tiny; the data pass itself stays distributed) and each value string
    is :func:`format_value`'s.  With ``frame`` any field may be a Column
    over it, every frame row yields one row per tuple (a per-column result
    frame melts into column-scope rows, no shuffle), and Spark casts each
    value to string.  The two renderings differ in three ways: floats
    (Spark writes ``8.33E-4`` where Python writes ``0.000833``), booleans
    (``true`` vs ``True``) and missing values (a SQL NULL vs the string
    ``null``).  A pack keeps the one it has always emitted; moving a pack
    from one to the other changes its strings, which
    ``tests/test_pack_characterization.py`` pins.
    """
    if frame is None:
        data = [(k, format_value(v), p, s, ps) for (k, v, p, s, ps) in rows]
        return local_frame(spark, data, ENVELOPE_SCHEMA)

    def col(x):
        return x if isinstance(x, Column) else F.lit(x)

    structs = [
        F.struct(
            col(k).alias("key"),
            col(v).cast("string").alias("value"),
            col(p).alias("perimeter"),
            col(s).cast("string").alias("scope"),
            col(ps).cast("string").alias("parent_scope"),
        )
        for (k, v, p, s, ps) in rows
    ]
    return frame.select(F.inline(F.array(*structs)))


def recommendation_rows_to_df(
    spark: SparkSession,
    rows: Iterable[tuple[str, str, str, str, str | None, str]],
) -> DataFrame:
    """Build a recommendation DataFrame from (content, type, perimeter,
    scope, parent_scope, level) tuples."""
    data = list(rows)
    assert all(r[5] in RECOMMENDATION_LEVELS for r in data)
    return local_frame(spark, data, RECOMMENDATION_SCHEMA)


def schema_stream(spark: SparkSession, df: DataFrame, dataset: str) -> DataFrame:
    """Schemas artifact stream for one dataset: a ``column`` row per column
    plus the ``dataset`` row (schema_scanner_pack/main.py:61-72,
    profiling_pack/main.py:486-492).  Column names are driver metadata —
    no data pass."""
    rows = [("column", c, "column", c, dataset) for c in df.columns]
    rows.append(("dataset", dataset, "dataset", dataset, None))
    return local_frame(spark, rows, SCHEMA_STREAM_SCHEMA)


# (type label, summary column, level, message template) — one per
# reference recommendation emitter, text_validation_pack/main.py:235-281.
_TEXT_RECO_RULES = [
    ("Empty Text Found", "empty_count", "info",
     "Column '{col}' has {n} empty text values."),
    ("Whitespace Only Text", "whitespace_count", "warning",
     "Column '{col}' has {n} whitespace-only values."),
    ("Null Placeholder Found", "placeholder_count", "warning",
     "Column '{col}' has {n} null placeholder values (N/A, None, etc.)."),
    ("Text Surrounded By Whitespace", "surrounded_count", "info",
     "Column '{col}' has {n} values with leading/trailing whitespace."),
    ("Text Too Short", "below_min", "warning",
     "Column '{col}' has {n} values shorter than minimum length {lim}."),
    ("Text Too Long", "above_max", "warning",
     "Column '{col}' has {n} values longer than maximum length {lim}."),
]


def text_validation_recommendations(
    summary_df: DataFrame,
    dataset: str,
    min_length: int | None = None,
    max_length: int | None = None,
) -> DataFrame:
    """Derive the reference's recommendation stream from a
    ``text_validation.summary`` result — fully distributed (the summary is
    one row per column; each rule is a filtered projection, unioned).
    Emits a row only when the offending count is > 0, exactly like the
    reference's conditional appends."""
    parts = []
    for rtype, count_col, level, template in _TEXT_RECO_RULES:
        lim = min_length if count_col == "below_min" else max_length
        if count_col in ("below_min", "above_max") and lim is None:
            continue
        head, sep, tail = template.partition("{n}")
        head = head.replace("{col}", "%s")
        tail = tail.replace("{lim}", str(lim)) if lim is not None else tail
        content = F.format_string(
            head + "%s" + tail, F.col("column"), F.col(count_col)
        )
        parts.append(
            summary_df.where(F.col(count_col) > 0).select(
                content.alias("content"),
                F.lit(rtype).alias("type"),
                F.lit("column").alias("perimeter"),
                F.col("column").alias("scope"),
                F.lit(dataset).alias("parent_scope"),
                F.lit(level).alias("level"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
