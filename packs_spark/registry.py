"""Query registry — one entry per implemented operator (SURVEY.md §2).

Each entry: a (spark, sf_dir) -> DataFrame callable plus (when the operator
is SQL-expressible) the equivalent DuckDB oracle SQL.  Column names are
aligned between both sides; float-valued outputs are rounded in BOTH
engines so the driver's value hash is stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from packs_spark.io.sources import read_parquet

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return dict(_ORACLES)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke query: the web-text quality-filter pipeline summary."""
    _ensure_loaded()
    from packs_spark.pipeline.webtext import flagship_summary

    return flagship_summary(spark, sf_dir)


_LOADED = False


def _ensure_loaded() -> None:
    """Import all modules that register queries (kept lazy so importing
    packs_spark stays cheap)."""
    global _LOADED
    if _LOADED:
        return
    from packs_spark import queries_packs  # noqa: F401
    from packs_spark import queries_pipeline  # noqa: F401

    _LOADED = True
