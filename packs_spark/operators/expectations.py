"""Expectation-suite evaluation — the engine-native replacement for the
reference's third-party check dispatchers:

* great_expectations_pack/main.py:40-57 — GX ``expect_*`` method dispatch
  from ``pack_conf.json["job"]["expectations"]``; score = passed/total
  (``:58``), each result an envelope ``{expectation, success}``;
* soda_pack/main.py:53-67 + checks.yaml — SodaCL checks
  (``row_count > 0`` style) over the same frame;
* the dqops check catalog (dqops-checks-reference.md).

All three are config-driven pass/fail rules over one dataset, so they share
one evaluator here.  Design for scale: the whole suite is compiled into
1-row aggregates, each one scan with partial aggregation per partition and
no shuffle beyond the final merge, and the driver reads them all with ONE
collect; schema-level expectations never touch data at all.

* The plain pass, ``df.agg(...)``, holds every plain and object aggregate
  (counts, sums, percentile, mode, collect_set).
* The distinct passes, one ``df.agg(...)`` per distinct column, hold only
  the checks that use ``countDistinct`` (distinct/duplicate counts and
  compound-column uniqueness).  With one distinct column per pass Catalyst
  plans no Expand, and the plan is the same on every run: two or more
  distinct columns in one ``agg`` get their Expand groups in an order that
  changes from run to run, so their generated code missed Spark's codegen
  cache and was compiled again on every evaluation (6 classes, ~0.2 s,
  for the registry suite), and the suite's time varied with what the JIT
  had already compiled.  The extra passes cost ~0.1 s of a warm run at
  scale 0.005 (median of 11: 0.75-0.97 s against 0.65-0.74 s).
* expect_table_row_count_to_equal_other_table adds a count over the other
  table.

The 1-row frames are cross-joined, so one plan collects them all and AQE
runs their stages concurrently; a frame with no aggregate is left out.
Each pass keeps its own plan.  One fused ``df.agg`` of both passes costs
far more: a DISTINCT aggregate makes Catalyst's distinct rewrite Expand
every row once per distinct group and carry every other aggregate's
buffer through an ObjectHashAggregate grouped by the distinct keys, a
shuffle of those buffers and a SortAggregate merge.  For the registry's
``expectations_suite_orders`` suite at sf0.1 (4 cores) the fused pass
took 9.3-10.7 s, the three frames collected one after another 3.0-3.5 s,
and cross-joined 2.3-2.8 s.  Compiling a suite builds each shared Column (a
column, its non-null test, a row count) once (:func:`_shared`), since
every Column costs py4j round trips.

The supported checks are the keys of :data:`CATALOG`: the public GX
``expectation_type`` names the reference dispatches by ``getattr``,
``soda:<metric>`` (what :func:`parse_sodacl` makes of ``row_count > 0``
style text) and ``dqops:<check>``.  Each value builds the check's aggregate
Columns and its verdict over their collected values from a few shared
parts (row ratio, column metric, pattern, percent), so checks that mean
the same thing share one definition.  Unknown GX types are skipped like the
reference's ``continue``; unknown soda/dqops checks fail.  Row-level
expectations honour GX's ``mostly`` (fraction of non-null rows that must
satisfy the predicate; default 1.0).

Deliberate deviations from the pandas GX backend:

* expect_column_values_to_be_increasing / _decreasing cannot ride the fused
  agg.  "Row order" is INPUT/scan order — the order pandas-GX reads the
  same file in — checked as a separate bounded job with per-partition lag
  windows plus a driver-side boundary stitch (see
  :func:`_monotone_violations`); run them before any shuffle, since a
  shuffle destroys the order GX would have seen.
* expect_table_row_count_to_equal_other_table resolves the other table
  through the session catalog (a temp view or catalog table).
* expect_column_values_to_be_dateutil_parseable is a deterministic subset
  of dateutil: ISO casts plus the reference's sniffable format table.
* expect_column_value_z_scores_to_be_less_than is single-pass via the
  extreme z = max(max-mean, mean-min)/std, so only mostly=1 is supported.
* expect_column_values_to_match_json_schema is real Draft-7 validation in a
  batched pandas UDF — the suite's one sanctioned Arrow crossing.

dqops checks: percent checks use the dqops 0–100 scale with NON-NULL row
denominators (the text_validation pack's convention — NULLs are counted by
the NULLS family, not double-counted here); an empty column passes
max-bounded checks and fails min-bounded ones.  The *_change / *_anomaly
variants need a metric history (events_metric_history_delta /
volume_anomaly_events), and the sql_query / import_custom_result variants
an external table, so they stay out of scope like dbt's subprocess.
"""

from __future__ import annotations

import math
import operator
import re
from contextvars import ContextVar
from dataclasses import dataclass
from datetime import datetime
from functools import reduce
from typing import Callable

import pandas as pd
from pyspark.errors import AnalysisException, ParseException
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from packs_spark.functions import text as TX
from packs_spark.functions.datesniff import DATE_REGEX_TABLE
from packs_spark.functions.patterns import (
    PII_PATTERNS,
    USA_PHONE_PATTERN,
    contains_pattern,
)
from packs_spark.io.envelope import local_frame

_OPS = {
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
    "=": operator.eq,
    "==": operator.eq,
    "!=": operator.ne,
}


@dataclass
class _Compiled:
    """One check compiled to aggregate columns + a driver-side verdict
    over their collected values."""

    aggs: list[Column]
    verdict: Callable[[list], bool] | None
    column: str | None = None  # result label; default kwargs["column"]
    label: str = ""
    error: str | None = None
    distinct: bool = False  # aggs use countDistinct: a distinct pass
    # aggregates over another frame; their values follow those of aggs
    other: tuple[DataFrame, list[Column]] | None = None
    values: list | None = None  # the collected aggs


# the Columns shared by the checks of the suite being compiled (_shared)
_SUITE_COLUMNS: ContextVar[dict | None] = ContextVar("_SUITE_COLUMNS",
                                                     default=None)


def _shared(key: tuple | None, make: Callable[[], Column]) -> Column:
    """``make()``, built once per suite evaluation for each ``key`` (None:
    not shared).  Every Column costs py4j round trips to build and one
    more to release, and a suite asks for the same column, non-null test
    and row counts many times."""
    memo = _SUITE_COLUMNS.get()
    if key is None or memo is None:
        return make()
    if key not in memo:
        memo[key] = make()
    return memo[key]


def _between(value, lo, hi) -> bool:
    if value is None:
        return False
    return (lo is None or value >= lo) and (hi is None or value <= hi)


def _col_name(kw: dict) -> str:
    # without this a missing column would either silently PASS (text
    # predicates against a None operand are NULL for every row) or raise
    # a PySpark error naming no check
    if not kw.get("column"):
        raise ValueError("check requires a 'column' kwarg")
    return kw["column"]


def _column(name: str) -> Column:
    return _shared(("col", name), lambda: F.col(name))


def _col(kw: dict) -> Column:
    return _column(_col_name(kw))


def _nonnull(name: str) -> Column:
    return _shared(("nonnull", name), lambda: _column(name).isNotNull())


def _mostly(kw: dict) -> float:
    return float(kw.get("mostly", 1.0))


def _any(preds) -> Column:
    """Or-chain, not Column.isin — wide InSet lists JIT pathologically."""
    preds = list(preds)
    return reduce(operator.or_, preds) if preds else F.lit(False)


def _all(preds) -> Column:
    preds = list(preds)
    return reduce(operator.and_, preds) if preds else F.lit(True)


def _in_set(c: Column, values) -> Column:
    return _any(c == F.lit(v) for v in values)


def _in_range(x: Column, lo, hi) -> Column:
    """lo <= x <= hi, an absent (None) bound left open."""
    return _all(
        ([x >= F.lit(lo)] if lo is not None else [])
        + ([x <= F.lit(hi)] if hi is not None else [])
    )


# -- verdict tests: test(kw) -> predicate over one observed value ----------


def _bounds(kw: dict, lo: str = "min_value", hi: str = "max_value"):
    lo, hi = kw.get(lo), kw.get(hi)
    return lambda x: _between(x, lo, hi)


def _equals(kw: dict):
    want = kw["value"]
    return lambda x: x == want


def _soda(kw: dict):
    op, rhs = _OPS[kw["op"]], kw["value"]
    return lambda x: x is not None and op(x, rhs)


def _max_count(kw: dict):
    mx = kw.get("max_count", 0)
    return lambda x: (x or 0) <= mx


def _max_percent(kw: dict):
    """An empty column passes (0 violations <= any max)."""
    mx = float(kw.get("max_percent", 0.0))
    return lambda p: p is None or p <= mx


def _min_percent(kw: dict):
    """An empty column fails (no evidence the minimum is met)."""
    mn = float(kw.get("min_percent", 100.0))
    return lambda p: p is not None and p >= mn


def _no_duplicates(kw: dict):
    # exact from one count and one countDistinct only when no duplicate is
    # allowed; mostly < 1 needs GX's rows-whose-value-occurs-once count,
    # i.e. a groupBy subaggregate
    if _mostly(kw) < 1.0:
        raise NotImplementedError(
            "expect_column_values_to_be_unique with mostly<1 needs the "
            "groupBy path; use duplicates operators instead"
        )
    return lambda dup: dup == 0


# -- shared compiled forms --------------------------------------------------


def _ratio(cond: Column, pred: Column, mostly: float,
           column: str | None = None, key: tuple | None = None) -> _Compiled:
    """Row ratio: of the n rows satisfying ``cond`` (the complement of GX's
    ignore_row_if), the ok rows also satisfying ``pred``; verdict ok/n >=
    mostly, with a vacuous pass when no row qualifies.  ``key`` names a
    ``cond`` that other checks share, so that n is built once."""
    n = _shared(key and ("n", key), lambda: F.sum(cond.cast("long")))
    return _Compiled(
        [F.sum((cond & pred).cast("long")), n],
        lambda v: (v[1] or 0) == 0 or (v[0] or 0) / v[1] >= mostly,
        column,
    )


def _values_of(name: str, pred: Column, mostly: float) -> _Compiled:
    """``pred`` over the NON-NULL rows of column ``name``."""
    return _ratio(_nonnull(name), pred, mostly, key=("nonnull", name))


def _scalar(agg: Column, ok, column: str | None = None,
            distinct: bool = False) -> _Compiled:
    return _Compiled([agg], lambda v: ok(v[0]), column, distinct=distinct)


def _share(num: Column, of: Column, ok, scale: float = 100.0,
           distinct: bool = False) -> _Compiled:
    """``ok`` over scale·num/count(of) — None when ``of`` has no non-null
    row."""
    return _Compiled(
        [num, F.count(of)],
        lambda v: ok(scale * (v[0] or 0) / v[1] if v[1] else None),
        distinct=distinct,
    )


# -- column metrics: shared by GX *_to_be_between, SodaCL and dqops ---------

# count metrics are never NULL (0 on an empty frame); value metrics are
# NULL there, and a None value fails every bound
_METRICS: dict[str, Callable[[Column], Column]] = {
    "row_count": lambda c: _shared(("rows",), lambda: F.count(F.lit(1))),
    "missing_count": lambda c: F.count_if(c.isNull()),
    "distinct_count": F.countDistinct,
    # Σ max(cnt-1, 0) without a groupBy = count_nonnull - countDistinct
    "duplicate_count": lambda c: F.count(c) - F.countDistinct(c),
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "avg": F.avg,
    "sum": F.sum,
    "stdev": F.stddev_samp,  # GX stdev = sample stddev
    "median": lambda c: F.percentile(c, 0.5),
}
_DISTINCT_METRICS = {"distinct_count", "duplicate_count"}  # second pass


def _metric(name: str, test=_bounds):
    """Check ``test(kw)`` on one column metric (row_count ignores the
    column)."""
    def build(df, kw):
        c = None if name == "row_count" else _col(kw)
        return _scalar(_METRICS[name](c), test(kw),
                       distinct=name in _DISTINCT_METRICS)
    return build


def _metric_share(name: str, test, scale: float = 100.0):
    """Check ``test(kw)`` on a metric as a share of the non-null rows."""
    def build(df, kw):
        c = _col(kw)
        return _share(_METRICS[name](c), c, test(kw), scale,
                      distinct=name in _DISTINCT_METRICS)
    return build


# -- row-level families ------------------------------------------------------


def _values(pred_of):
    """``pred_of(c, kw)`` over the column's NON-NULL rows (GX ignores
    nulls for value expectations except the null checks themselves)."""
    def build(df, kw):
        return _values_of(_col_name(kw), pred_of(_col(kw), kw), _mostly(kw))
    return build


def _rows(pred_of):
    """``pred_of(c)`` over every row."""
    return lambda df, kw: _ratio(
        _shared(("true",), lambda: F.lit(True)), pred_of(_col(kw)),
        _mostly(kw), key=("all",))


def _pattern(key: str, negate: bool = False):
    """The regex / LIKE family: ``key`` names the pattern kwarg; a *_list
    matches on any (default) or all of its patterns, the negated form on
    none of them."""
    match = Column.like if "like" in key else Column.rlike

    def pred(c, kw):
        s = c.cast("string")
        hits = [match(s, p) for p in
                (kw[key] if key.endswith("_list") else [kw[key]])]
        if negate:
            return ~_any(hits)
        all_of = str(kw.get("match_on", "any")).lower() == "all"
        return _all(hits) if all_of else _any(hits)
    return _values(pred)


def _pair(pred_of):
    """Column-pair check under GX's ignore_row_if default
    both_values_are_missing: a half-null pair IS evaluated and can never
    satisfy the predicate."""
    def build(df, kw):
        a, b = _column(kw["column_A"]), _column(kw["column_B"])
        return _ratio(
            a.isNotNull() | b.isNotNull(),
            a.isNotNull() & b.isNotNull() & pred_of(a, b, kw),
            _mostly(kw), f"{kw['column_A']}~{kw['column_B']}",
        )
    return build


def _multicolumn(pred_of):
    """Check over ``column_list`` under GX's ignore_row_if default
    all_values_are_missing: a partially-null row IS evaluated."""
    def build(df, kw):
        cols = [_column(x) for x in kw["column_list"]]
        return _ratio(
            _any(x.isNotNull() for x in cols), pred_of(cols, kw),
            _mostly(kw), ",".join(kw["column_list"]),
        )
    return build


# array_distinct collapses duplicate NULLs, so a row with two NULLs and a
# value counts as having a duplicate — GX's pandas NaN behavior
_unique_within_record = _multicolumn(
    lambda cols, kw: F.size(F.array_distinct(F.array(*cols))) == len(cols))


_STRFTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss",
    "%j": "DDD", "%p": "a", "%%": "%",
}


def _strftime_to_java(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            d = fmt[i : i + 2]
            if d not in _STRFTIME_TO_JAVA:
                raise ValueError(
                    f"unsupported strftime directive {d!r} in format {fmt!r}"
                )
            out.append(_STRFTIME_TO_JAVA[d])
            i += 2
        else:
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            lit = fmt[i:j]
            # quote any literal run containing characters java.time does
            # not treat as plain literals: letters (pattern chars), the
            # quote itself, optional-section brackets [ ], and the
            # reserved # { } — leaving them bare silently changes the
            # pattern ([..] = optional section) or throws at build time
            if any(ch.isalpha() or ch in "'[]#{}" for ch in lit):
                out.append("'" + lit.replace("'", "''") + "'")
            else:
                out.append(lit)
            i = j
    return "".join(out)


def _strftime_ok(c: Column, fmt: str) -> Column:
    """GX/dqops take a C strftime format; it is translated onto Spark's
    java.time pattern and validated via try_to_timestamp (NULL on
    mismatch).  Literal runs containing letters are quoted (an unquoted
    'T' is an unknown java.time pattern letter) and an untranslatable
    directive raises instead of silently failing every row."""
    return F.try_to_timestamp(
        c.cast("string"), F.lit(_strftime_to_java(fmt))
    ).isNotNull()


def _json_parseable(c: Column, kw) -> Column:
    # get_json_object('$') echoes the document iff it parses as JSON — a
    # JVM-side parseability probe with no UDF and no schema binding.  The
    # scalar literal 'null' IS valid JSON (json.loads accepts it, so GX
    # passes it) but get_json_object returns SQL NULL for it — special-
    # cased with btrim over the RFC 8259 whitespace set (json.loads accepts
    # "\tnull").  Other lax edge cases where Spark's parser diverges from
    # json.loads (e.g. trailing garbage tolerance) keep Spark semantics,
    # per the deterministic-subset convention
    s = c.cast("string")
    return (F.get_json_object(s, "$").isNotNull()
            | (F.btrim(s, F.lit(" \t\n\r")) == "null"))


def _dateutil_parseable(c: Column, kw) -> Column:
    # engine twin of dateutil.parse: a plain timestamp/date cast (ISO
    # shapes) coalesced with the reference's sniffable format table
    # (timeliness_pack/main.py:26-61 — the same cascade as the F9
    # mixed-format path).  Laxer dateutil inputs ("Jan 3 2020") are not
    # claimed.  try_cast, not cast: ANSI mode throws on malformed input
    s = c.cast("string")
    return F.coalesce(
        s.try_cast("timestamp"),
        s.try_cast("date").cast("timestamp"),
        *[F.try_to_timestamp(s, F.lit(fmt)) for _, fmt in DATE_REGEX_TABLE],
    ).isNotNull()


def _json_schema_valid(c: Column, kw) -> Column:
    # the GX backend runs jsonschema.validate per value — inexpressible as
    # a JVM Column, so a scalar pandas UDF (batched, no per-row Python
    # dispatch) feeds the same fused agg.  Missing lib → contained failure
    try:
        import jsonschema
    except ImportError as e:  # pragma: no cover - lib is baked in
        raise ValueError(f"jsonschema unavailable: {e}") from e
    import json

    validator = jsonschema.Draft7Validator(kw["json_schema"])

    @F.pandas_udf("boolean")
    def _valid(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return False
            try:
                return validator.is_valid(json.loads(x))
            except (ValueError, TypeError):
                return False

        return s.map(one)

    return _valid(c.cast("string"))


# -- distribution checks ----------------------------------------------------


def _distinct_set(test):
    def build(df, kw):
        want = set(kw.get("value_set", []))
        return _scalar(F.collect_set(_col(kw)),
                       lambda have: test(set(have or []), want))
    return build


def _most_common(df, kw) -> _Compiled:
    # Spark's mode() picks one value on ties (as does the GX pandas
    # backend's head-of-modes when ties_okay is unset); callers who care
    # about ties should pass a value_set covering the tie group.  An empty
    # / all-NULL column has no mode (mode() → NULL) and FAILS: GX raises on
    # no data, this engine's convention is a contained failed row
    want = set(kw.get("value_set", []))
    return _scalar(F.mode(_col(kw)), lambda m: m in want)


def _quantiles(df, kw) -> _Compiled:
    qr = kw["quantile_ranges"]
    probs, ranges = qr["quantiles"], qr["value_ranges"]
    return _scalar(
        F.percentile(_col(kw), list(probs)),
        lambda qs: qs is not None
        and all(_between(q, lo, hi) for q, (lo, hi) in zip(qs, ranges)),
    )


def _kl_divergence(df, kw) -> _Compiled:
    # GX continuous partition_object: bins edges + expected weights.
    # Observed per-bin mass from the same single-pass agg; KL = Σ p·ln(p/w)
    # (natural log — scipy.stats.entropy, GX's backend).  GX default
    # holdouts are 0, so any observed mass OUTSIDE the partition (or inside
    # a zero-weight bin) makes KL infinite → fail
    po = kw["partition_object"]
    bins, weights = list(po["bins"]), list(po["weights"])
    threshold = float(kw["threshold"])
    if len(bins) != len(weights) + 1:
        raise ValueError("partition_object: len(bins) != len(weights)+1")
    c = _col(kw)
    last = len(weights) - 1
    aggs = [
        # np.histogram: the last bin is closed
        F.sum(((c >= F.lit(lo)) & (c <= F.lit(hi) if j == last
                                   else c < F.lit(hi))).cast("long"))
        for j, (lo, hi) in enumerate(zip(bins, bins[1:]))
    ] + [F.count(c)]

    def verdict(v):
        nn = v[-1] or 0
        if nn == 0:
            return False
        counts = [x or 0 for x in v[:-1]]
        if sum(counts) < nn:  # mass outside the partition → KL = +inf
            return False
        kl = 0.0
        for cnt, wj in zip(counts, weights):
            p = cnt / nn
            if p == 0.0:
                continue
            if wj <= 0.0:  # observed mass in a zero-weight bin → +inf
                return False
            kl += p * math.log(p / wj)
        return kl < threshold

    return _Compiled(aggs, verdict)


def _z_scores(df, kw) -> _Compiled:
    # with mostly=1 the extreme z-score is max(max-mean, mean-min)/std
    # (double-sided) or (max-mean)/std, so the metric aggregates suffice —
    # no second scan; mostly<1 would need per-row z-scores (two passes)
    if _mostly(kw) < 1.0:
        raise NotImplementedError(
            "expect_column_value_z_scores_to_be_less_than with "
            "mostly<1 needs a second pass; unsupported"
        )
    thr = float(kw["threshold"])
    double = bool(kw.get("double_sided", True))
    c = _col(kw)

    def verdict(v):
        mn, mx, av, sd = v
        if mn is None or sd is None or sd == 0:
            return True  # empty, single-row or constant: no z outliers
        z = (mx - av) / sd
        if double:
            z = max(z, (av - mn) / sd)
        return z < thr

    return _Compiled([_METRICS[m](c) for m in ("min", "max", "mean", "stdev")],
                     verdict)


# -- checks that run their own bounded job ----------------------------------


def _monotone_violations(
    df: DataFrame, c: Column, strictly: bool, decreasing: bool
) -> tuple[int, int]:
    """``(violations, steps)`` for consecutive NON-NULL values in input
    order (GX compares the pandas series after dropping nulls; "row
    order" = scan order, the same order pandas-GX reads the file in).

    Scale shape: sortedness is checked with a lag window PER PARTITION
    (partitionBy spark_partition_id, orderBy monotonically_increasing_id
    — parallel across partitions, no global-ordering shuffle to one
    task), then the partition boundaries are stitched on the driver from
    one O(n_partitions)-row aggregate carrying each partition's first and
    last non-null value.  Total cost: one parallel window pass + one tiny
    collect, at any input size."""
    aug = df.select(
        c.alias("__v"),
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    ).where(F.col("__v").isNotNull())
    if isinstance(aug.schema["__v"].dataType, (T.FloatType, T.DoubleType)):
        # NaN is dropped like NULL (pandas-GX drops it with dropna);
        # keeping it would make the verdict partitioning-dependent —
        # Spark sorts NaN greatest in-partition while the driver-side
        # boundary compare follows Python where every NaN compare is False
        aug = aug.where(~F.isnan("__v"))
    w = Window.partitionBy("__pid").orderBy("__mid")
    prev = F.lag("__v").over(w)
    v = F.col("__v")
    if decreasing:
        bad = (v >= prev) if strictly else (v > prev)
    else:
        bad = (v <= prev) if strictly else (v < prev)
    per = (
        aug.withColumn("__bad", bad.cast("long"))
        .groupBy("__pid")
        .agg(
            F.sum("__bad").alias("viol"),
            F.count(F.lit(1)).alias("cnt"),
            F.min_by("__v", "__mid").alias("first"),
            F.max_by("__v", "__mid").alias("last"),
        )
        .orderBy("__pid")
        .collect()
    )
    viol = sum(r["viol"] or 0 for r in per)
    steps = sum(max(r["cnt"] - 1, 0) for r in per)
    for a, b in zip(per, per[1:]):  # consecutive non-empty partitions
        steps += 1
        lo, hi = a["last"], b["first"]
        if decreasing:
            bad_b = hi > lo or (strictly and hi == lo)
        else:
            bad_b = hi < lo or (strictly and hi == lo)
        viol += int(bad_b)
    return int(viol), int(steps)


def _monotone(decreasing: bool):
    # order-dependent, so it cannot ride the fused agg: its own bounded job
    # (never a global single-partition window), run before any shuffle
    def build(df, kw) -> bool:
        try:
            viol, steps = _monotone_violations(
                df, _col(kw), bool(kw.get("strictly", False)), decreasing
            )
        except AnalysisException as e:
            # non-orderable column type etc. — route through the standard
            # per-expectation compile containment
            raise ValueError(f"monotone check unevaluable: {e}") from e
        return (1.0 if steps == 0 else (steps - viol) / steps) >= _mostly(kw)
    return build


def _other_table_row_count(df, kw) -> _Compiled:
    # the other table resolves through the session catalog (a temp view or
    # catalog table); its count is an aggregate over that frame, collected
    # with the suite's own passes
    try:
        other = df.sparkSession.table(kw["other_table_name"])
    except AnalysisException as e:
        raise ValueError(f"other table unresolvable: {e}") from e
    return _Compiled([_METRICS["row_count"](None)], lambda v: v[0] == v[1],
                     other=(other, [F.count(F.lit(1))]))


# -- schema-level checks: a bool, no aggregate ------------------------------

_TYPE_ALIASES = {
    "int": {"int", "bigint", "smallint", "tinyint"},
    "int64": {"bigint"},
    "integertype": {"int"},
    "longtype": {"bigint"},
    "float": {"float", "double"},
    "float64": {"double"},
    "doubletype": {"double"},
    "str": {"string"},
    "stringtype": {"string"},
    "object": {"string"},
    "bool": {"boolean"},
    "booleantype": {"boolean"},
}


def _type_in(df: DataFrame, kw: dict, wanted) -> bool:
    """The column's Spark dtype matches one GX type_ name (pandas/GX/Spark
    spelling)."""
    have = dict(df.dtypes).get(_col_name(kw), "")
    return any(
        have == w or have in _TYPE_ALIASES.get(w, set())
        for w in (str(t).lower() for t in wanted)
    )


def _columns_match_set(df, kw) -> bool:
    want, have = set(kw.get("column_set", [])), set(df.columns)
    return have == want if kw.get("exact_match", True) else want <= have


def _column_exists(df, kw) -> bool:
    # optional column_index is GX's 0-based positional assertion
    name = _col_name(kw)
    return name in df.columns and (
        kw.get("column_index") is None
        or df.columns.index(name) == int(kw["column_index"])
    )


# -- dqops families ----------------------------------------------------------


def _found(flag):
    """dqops *_found: rows flagged by ``flag(c)`` <= max_count."""
    return lambda df, kw: _scalar(F.count_if(flag(_col(kw))), _max_count(kw))


def _percent(flag_of, test):
    """dqops *_percent: ``flag_of(c, kw)`` -> (flag predicate, the Column
    whose non-null rows are the denominator); ``test`` bounds the
    percent."""
    def build(df, kw):
        flag, of = flag_of(_col(kw), kw)
        return _share(F.count_if(flag), of, test(kw))
    return build


def _in_future(c: Column, kw):
    # an optional fixed ISO 'now' keeps tests and cross-engine oracles
    # deterministic; it is validated eagerly so an unparseable one fails
    # the check instead of compiling to cast(NULL), whose `ts > NULL`
    # silently passes every dataset (non-ANSI) or throws at runtime (ANSI)
    if "now" in kw:
        datetime.fromisoformat(str(kw["now"]))
        now = F.lit(kw["now"]).cast("timestamp")
    else:
        now = F.current_timestamp()
    ts = c.cast("timestamp")
    return ts > now, ts


def _in_date_range(c: Column, kw):
    d = c.cast("date")
    lo, hi = (F.lit(kw[k]).cast("date") for k in ("min_date", "max_date"))
    return (d >= lo) & (d <= hi), d


_TEXT_FLAGS = {
    "empty_text": TX.is_empty,
    "whitespace_text": TX.is_whitespace_only,
    "null_placeholder_text": TX.is_null_placeholder,
    "text_surrounded_by_whitespace": TX.is_surrounded_by_whitespace,
}

# PII family (§14): un-anchored containment over the SAME regex catalog the
# pii scanner and scrub stage use, so a dqops check and the scrub agree on
# what "contains email" means; usa_phone uses the US-shape pattern (dqops's
# sensor is US-specific, unlike the scanner's international one)
_PII = dict(PII_PATTERNS)
_PII_FLAGS = {
    "email": _PII["email"],
    "ip4": _PII["ipv4"],
    "ip6": _PII["ipv6"],
    "usa_zipcode": _PII["usa_zipcode"],
    "usa_phone": USA_PHONE_PATTERN,
}

# dqops percent checks: check -> (flag_of, percent bound)
_PERCENT_CHECKS = {
    **{f"{name}_percent": (lambda c, kw, f=f: (f(c), c), _max_percent)
       for name, f in _TEXT_FLAGS.items()},
    **{f"contains_{name}_percent": (
        lambda c, kw, p=p: (contains_pattern(c.cast("string"), p), c),
        _max_percent,
    ) for name, p in _PII_FLAGS.items()},
    "date_values_in_future_percent": (_in_future, _max_percent),
    "date_in_range_percent": (_in_date_range, _min_percent),
    "text_match_date_format_percent": (
        lambda c, kw: (c.isNotNull() & _strftime_ok(c, kw["date_format"]), c),
        _min_percent,
    ),
}


def _dqops_sql_expr(template, column: str | None) -> Column:
    """Substitute dqops placeholders into a user SQL fragment and parse it.

    Supported: ``{column}`` (the check's target column) and the
    ``{alias}.`` / ``{table}.`` row prefixes (stripped — bare column names
    resolve against the frame).  Any other ``{placeholder}`` or a fragment
    Spark cannot parse raises ValueError so the suite containment records
    the check as failed instead of aborting the run."""
    s = str(template).replace("{alias}.", "").replace("{table}.", "")
    if column is not None:
        s = s.replace("{column}", column)
    leftover = re.findall(r"\{[a-zA-Z_]+\}", s)
    if leftover:
        raise ValueError(f"unsupported dqops placeholders: {leftover}")
    try:
        return F.expr(s)
    except (ParseException, AnalysisException) as e:
        raise ValueError(f"unparseable dqops SQL fragment {s!r}: {e}") from e


def _sql_condition(kw: dict, column: str | None) -> Column:
    return F.coalesce(
        _dqops_sql_expr(kw["sql_condition"], column).cast("boolean"),
        F.lit(False),  # a NULL condition is a failed row, dqops-style
    )


# CUSTOM SQL family (§7 column / §4 table): a user SQL condition or
# aggregate expression compiled straight into the fused agg
_SQL_CHECKS = {
    "sql_condition_failed": lambda kw, col: _scalar(
        F.count_if(~_sql_condition(kw, col)), _max_count(kw)),
    # the dqops sensor is 100·passed/count(*) over ALL rows
    "sql_condition_passed_percent": lambda kw, col: _share(
        F.count_if(_sql_condition(kw, col)), F.lit(1), _min_percent(kw)),
    "sql_aggregate_expression": lambda kw, col: _scalar(
        _dqops_sql_expr(kw["sql_expression"], col), _bounds(kw)),
}


def _sql_check(build, on_column: bool):
    return lambda df, kw: build(
        kw, _col_name(kw) if on_column else kw.get("column")
    )


# -- the catalog --------------------------------------------------------------

CATALOG: dict[str, Callable[[DataFrame, dict], _Compiled | bool]] = {
    # table and column metrics
    "expect_table_row_count_to_be_between": _metric("row_count"),
    "expect_table_row_count_to_equal": _metric("row_count", _equals),
    "expect_table_row_count_to_equal_other_table": _other_table_row_count,
    **{f"expect_column_{m}_to_be_between": _metric(m)
       for m in ("mean", "median", "min", "max", "sum", "stdev")},
    "expect_column_unique_value_count_to_be_between":
        _metric("distinct_count"),
    "expect_column_proportion_of_unique_values_to_be_between":
        _metric_share("distinct_count", _bounds, scale=1),
    "expect_column_values_to_be_unique":
        _metric("duplicate_count", _no_duplicates),
    "expect_compound_columns_to_be_unique": lambda df, kw: _scalar(
        _METRICS["duplicate_count"](F.struct(*map(_column, kw["column_list"]))),
        lambda dup: dup == 0, ",".join(kw["column_list"]), distinct=True),
    **{f"soda:{m}": _metric(m, _soda) for m in (
        "row_count", "missing_count", "duplicate_count",
        "min", "max", "avg", "sum")},
    "dqops:distinct_count": _metric("distinct_count"),
    "dqops:distinct_percent": _metric_share(
        "distinct_count", lambda kw: _bounds(kw, "min_percent", "max_percent")),
    "dqops:duplicate_count": _metric("duplicate_count", _max_count),
    "dqops:duplicate_percent": _metric_share("duplicate_count", _max_percent),
    # row-level values
    "expect_column_values_to_not_be_null": _rows(Column.isNotNull),
    "expect_column_values_to_be_null": _rows(Column.isNull),
    "expect_column_values_to_be_between": _values(
        lambda c, kw: _in_range(c, kw.get("min_value"), kw.get("max_value"))),
    "expect_column_value_lengths_to_be_between": _values(
        lambda c, kw: _in_range(F.length(c.cast("string")),
                                kw.get("min_value"), kw.get("max_value"))),
    # cast-based deviation: GX raises a type error on non-string columns;
    # this engine measures the string representation's length instead
    "expect_column_value_lengths_to_equal": _values(
        lambda c, kw: F.length(c.cast("string")) == F.lit(int(kw["value"]))),
    "expect_column_values_to_be_in_set": _values(
        lambda c, kw: _in_set(c, kw.get("value_set", []))),
    "expect_column_values_to_not_be_in_set": _values(
        lambda c, kw: ~_in_set(c, kw.get("value_set", []))),
    # every distinct value ∈ set ⇔ no non-null value outside it (no mostly)
    "expect_column_distinct_values_to_be_in_set": lambda df, kw: _values_of(
        _col_name(kw), _in_set(_col(kw), kw.get("value_set", [])), 1.0),
    "expect_column_values_to_match_regex": _pattern("regex"),
    "expect_column_values_to_not_match_regex": _pattern("regex", True),
    "expect_column_values_to_match_regex_list": _pattern("regex_list"),
    "expect_column_values_to_not_match_regex_list":
        _pattern("regex_list", True),
    "expect_column_values_to_match_like_pattern": _pattern("like_pattern"),
    "expect_column_values_to_not_match_like_pattern":
        _pattern("like_pattern", True),
    "expect_column_values_to_match_like_pattern_list":
        _pattern("like_pattern_list"),
    "expect_column_values_to_not_match_like_pattern_list":
        _pattern("like_pattern_list", True),
    "expect_column_values_to_match_strftime_format": _values(
        lambda c, kw: _strftime_ok(c, kw["strftime_format"])),
    "expect_column_values_to_be_json_parseable": _values(_json_parseable),
    "expect_column_values_to_be_dateutil_parseable":
        _values(_dateutil_parseable),
    "expect_column_values_to_match_json_schema": _values(_json_schema_valid),
    # column pairs and multicolumn rows
    "expect_column_pair_values_a_to_be_greater_than_b": _pair(
        lambda a, b, kw: a >= b if kw.get("or_equal") else a > b),
    "expect_column_pair_values_to_be_equal": _pair(lambda a, b, kw: a == b),
    "expect_column_pair_values_to_be_in_set": _pair(
        lambda a, b, kw: _any((a == F.lit(pa)) & (b == F.lit(pb))
                              for pa, pb in kw["value_pairs_set"])),
    # the GX pandas backend's NaN-skipping sum: (4, NULL) sums to 4
    "expect_multicolumn_sum_to_equal": _multicolumn(
        lambda cols, kw: sum((F.coalesce(x, F.lit(0)) for x in cols),
                             F.lit(0)) == F.lit(kw["sum_total"])),
    "expect_select_column_values_to_be_unique_within_record":
        _unique_within_record,
    # legacy GX name for the same check (renamed to the select_column form)
    "expect_multicolumn_values_to_be_unique": _unique_within_record,
    # distributions
    "expect_column_distinct_values_to_equal_set": _distinct_set(operator.eq),
    "expect_column_distinct_values_to_contain_set": _distinct_set(operator.ge),
    "expect_column_most_common_value_to_be_in_set": _most_common,
    "expect_column_quantile_values_to_be_between": _quantiles,
    "expect_column_kl_divergence_to_be_less_than": _kl_divergence,
    "expect_column_value_z_scores_to_be_less_than": _z_scores,
    # input order
    "expect_column_values_to_be_increasing": _monotone(decreasing=False),
    "expect_column_values_to_be_decreasing": _monotone(decreasing=True),
    # schema level
    "expect_table_columns_to_match_set": _columns_match_set,
    "expect_table_columns_to_match_ordered_list": lambda df, kw: list(
        df.columns) == [str(x) for x in (kw.get("column_list") or [])],
    "expect_table_column_count_to_be_between": lambda df, kw: _between(
        len(df.columns), kw.get("min_value"), kw.get("max_value")),
    "expect_table_column_count_to_equal":
        lambda df, kw: len(df.columns) == int(kw["value"]),
    "expect_column_to_exist": _column_exists,
    "expect_column_values_to_be_of_type":
        lambda df, kw: _type_in(df, kw, [kw.get("type_", "")]),
    "expect_column_values_to_be_in_type_list":
        lambda df, kw: _type_in(df, kw, kw.get("type_list", [])),
    # dqops text, PII, date and custom SQL families
    **{f"dqops:{name}_found": _found(f) for name, f in _TEXT_FLAGS.items()},
    **{f"dqops:{name}": _percent(*spec)
       for name, spec in _PERCENT_CHECKS.items()},
    **{f"dqops:{name}_on_{scope}": _sql_check(build, scope == "column")
       for name, build in _SQL_CHECKS.items()
       for scope in ("column", "table")},
}


_SODA_AGG = re.compile(
    r"^\s*(row_count|missing_count|duplicate_count|min|max|avg|sum)"
    r"(?:\(\s*([A-Za-z0-9_]+)\s*\))?\s*(>=|<=|!=|==|=|>|<)\s*(-?[\d.]+)\s*$"
)


def parse_sodacl(check: str) -> dict:
    """Translate a SodaCL-style scalar check ("row_count > 0",
    "duplicate_count(col) = 0") into the internal expectation form."""
    m = _SODA_AGG.match(check)
    if not m:
        raise ValueError(f"unsupported SodaCL check: {check!r}")
    metric, col, op, rhs = m.groups()
    return {
        "expectation_type": f"soda:{metric}",
        "kwargs": {"column": col, "op": op, "value": float(rhs)},
        "_raw": check,
    }


def _label(exp) -> str:
    if not isinstance(exp, dict):
        return "<missing type>"
    if "_raw" in exp:
        return str(exp["_raw"])
    return str(exp.get("expectation_type") or "<missing type>")


def _error(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"


def _compile(df: DataFrame, exp: dict) -> _Compiled | None:
    if not isinstance(exp, dict):
        raise TypeError(f"suite entry is a {type(exp).__name__}, not a dict")
    if "expectation_type" not in exp and "_raw" in exp:
        exp = parse_sodacl(exp["_raw"])
    etype = exp["expectation_type"]
    kw = exp.get("kwargs", {})
    build = CATALOG.get(etype)
    if build is None:
        if etype.startswith(("soda:", "dqops:")):
            raise ValueError(f"unsupported check: {etype!r}")
        # reference behavior: silently skip unknown expectations
        # (great_expectations_pack/main.py:45-46 `if not hasattr: continue`)
        return None
    out = build(df, kw)
    if isinstance(out, bool):
        out = _Compiled([], lambda v, s=out: s)
    out.column = out.column or kw.get("column")
    return out


def _collect_row(parts: list[tuple[DataFrame, list[Column]]]) -> list:
    """The values of each part's aggregates over its frame, in order: one
    1-row ``frame.agg`` per part with aggregates, cross-joined so that one
    collect runs them all (AQE runs their stages concurrently); no job
    when no part has one."""
    rows = [frame.agg(*aggs) for frame, aggs in parts if aggs]
    return list(reduce(DataFrame.crossJoin, rows).collect()[0]) if rows else []


def _aggregate(df: DataFrame, checks: list[_Compiled]) -> None:
    """Collect the aggregates of ``checks`` into their ``values``: the plain
    pass, one countDistinct pass per distinct column and each check's other
    frame, in one collect."""
    plain = [comp for comp in checks if not comp.distinct]
    by_column: dict[str | None, list[_Compiled]] = {}
    for comp in checks:
        if comp.distinct:
            by_column.setdefault(comp.column, []).append(comp)
    distinct = [comp for group in by_column.values() for comp in group]
    other = [comp for comp in checks if comp.other]
    try:
        row = iter(_collect_row(
            [(df, [a for comp in plain for a in comp.aggs])]
            + [(df, [a for comp in group for a in comp.aggs])
               for group in by_column.values()]
            + [comp.other for comp in other]))
        for comp in plain + distinct:
            comp.values = [next(row) for _ in comp.aggs]
        for comp in other:
            comp.values += [next(row) for _ in comp.other[1]]
    except CapturedException:
        # one expression that fails analysis (a value_set literal whose
        # type mismatches the column: `cat = array('a')`) or at run time
        # (an ANSI cast of 'abc') must not kill the whole suite — fall
        # back to one collect per check so only the offending check
        # fails.  Error path only: the fused plan stays the fast path
        for comp in checks:
            try:
                comp.values = _collect_row(
                    [(df, comp.aggs)] + ([comp.other] if comp.other else []))
            except CapturedException as e:
                comp.error = _error(e)


def evaluate_suite(df: DataFrame, expectations: list[dict]) -> list[dict]:
    """Evaluate the whole suite in one collect (see the module docstring).
    Returns
    [{expectation, column, success}] in suite order (skipped/unknown
    expectations omitted, matching the reference's `continue`).

    A check that fails at compile, analysis or verdict time rather than on
    the data also carries ``error`` ("<ExceptionType>: <message>").  An
    entry ``{"_raw": text}`` is SodaCL text, parsed here so that a bad
    check fails alone, labelled with its text."""
    checks: list[_Compiled] = []
    memo = _SUITE_COLUMNS.set({})
    try:
        for exp in expectations:
            try:
                comp = _compile(df, exp)
            except (ValueError, KeyError, NotImplementedError, TypeError,
                    AttributeError) as e:
                # one uncompilable expectation (an unmapped strftime
                # directive like %f, an unsupported SodaCL check, a
                # malformed kwargs dict, a non-numeric threshold →
                # TypeError, a non-dict expectation entry → AttributeError)
                # must not abort the whole suite run — record it as failed
                # and keep evaluating the rest (the reference's dispatch
                # likewise skips what it can't handle)
                kwargs = exp.get("kwargs") if isinstance(exp, dict) else None
                comp = _Compiled(
                    [], None,
                    kwargs.get("column") if isinstance(kwargs, dict) else None,
                    error=_error(e),
                )
            if comp is not None:
                comp.label = _label(exp)
                checks.append(comp)
    finally:
        _SUITE_COLUMNS.reset(memo)
    for i, comp in enumerate(checks):
        comp.aggs = [a.alias(f"c{i}_{j}") for j, a in enumerate(comp.aggs)]
    _aggregate(df, checks)

    results = []
    for comp in checks:
        success = False
        if comp.error is None:
            try:
                success = bool(comp.verdict(comp.values))
            except (TypeError, ValueError, ZeroDivisionError, KeyError) as e:
                # verdict-time errors (e.g. a string min_value compared to
                # a numeric aggregate) are contained per-expectation, same
                # as compile-time ones
                comp.error = _error(e)
        result = {
            "expectation": comp.label,
            "column": comp.column,
            "success": success,
        }
        if comp.error is not None:
            result["error"] = comp.error
        results.append(result)
    return results


SUITE_RESULT_SCHEMA = T.StructType([
    T.StructField("idx", T.IntegerType()),
    T.StructField("expectation", T.StringType()),
    T.StructField("column", T.StringType()),
    T.StructField("success", T.BooleanType()),
    T.StructField("suite_score", T.DoubleType()),
])


def suite_results_df(df: DataFrame, expectations: list[dict]) -> DataFrame:
    """Per-expectation results as a DataFrame, with the dataset-level
    suite score (passed/total rounded 2 — reference
    great_expectations_pack/main.py:58) on every row."""
    res = evaluate_suite(df, expectations)
    total = len(res)
    passed = sum(r["success"] for r in res)
    score = 1.0 if total == 0 else round(passed / total, 2)
    rows = [
        (i, r["expectation"], r["column"], r["success"], score)
        for i, r in enumerate(res)
    ]
    return local_frame(df.sparkSession, rows, SUITE_RESULT_SCHEMA)
