"""The pair layer shared by the dedup and similarity operators.

Every near-dup and nearest-neighbour operator is the same few relational
steps around a scorer:

* ``keys`` — one row per (row, expression) of a fixed expression list:
  MinHash bands, SimHash chunks, hyperplane LSH tables;
* ``self_join`` / ``candidates`` — a keyed self equi-join to
  ``(id_a, id_b)`` with ``id_a < id_b`` (no key: every pair);
* ``probe`` — a query × corpus equi-join on a key, self-matches dropped,
  one row per ``(query_id, neighbor_id)``;
* ``attach`` — both sides' payload joined back to a pair list by id.

Keyed joins are equi-joins on the key columns (hash or sort-merge, never a
nested loop), so their cost follows the key distribution: a hot band,
bucket or shingle is the skew case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keys(df: DataFrame, names: tuple[str, str], exprs: list[Column]) -> DataFrame:
    """``df`` with one row per expression of ``exprs``: ``names[0]`` holds
    the expression's index and ``names[1]`` its value.  All expressions are
    computed in one projection (array of structs → explode), so ``df`` is
    read once for every key."""
    idx, val = names
    entries = F.array(
        *[F.struct(F.lit(i).alias(idx), e.alias(val)) for i, e in enumerate(exprs)]
    )
    return df.withColumn("__k", F.explode(entries)).select(
        *df.columns, F.col(f"__k.{idx}").alias(idx), F.col(f"__k.{val}").alias(val)
    )


def _side(df: DataFrame, s: str, cols=(), on=()) -> DataFrame:
    """``id`` as ``id_<s>`` and each column ``c`` of ``cols`` as ``c_<s>``."""
    return df.select(
        F.col("id").alias(f"id_{s}"), *on, *[F.col(c).alias(f"{c}_{s}") for c in cols]
    )


def self_join(df: DataFrame, on: list[str], cols=()) -> DataFrame:
    """Every pair of rows of an ``(id, *on, *cols)`` frame that agree on
    ``on`` (every pair when ``on`` is empty), ``id_a < id_b``; each column
    ``c`` of ``cols`` comes out as ``c_a`` and ``c_b``."""
    a, b = _side(df, "a", cols, on), _side(df, "b", cols, on)
    joined = a.join(b, on) if on else a.crossJoin(b)
    return joined.where(F.col("id_a") < F.col("id_b"))


def candidates(df: DataFrame, on: list[str]) -> DataFrame:
    """Distinct ``(id_a, id_b)``, ``id_a < id_b``, of the ids of an
    ``(id, *on)`` key frame that share at least one key."""
    return self_join(df, on).select("id_a", "id_b").distinct()


def probe(queries: DataFrame, corpus: DataFrame, on: list[str]) -> DataFrame:
    """``(query_id, neighbor_id, qv, cv)``: each ``(query_id, qv, *on)``
    row joined to the ``(neighbor_id, cv, *on)`` corpus rows that share its
    key, self-matches dropped, one row per (query_id, neighbor_id)."""
    return (
        queries.join(corpus, on)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def attach(pairs: DataFrame, df: DataFrame, cols: list[str]) -> DataFrame:
    """``pairs`` with each column ``c`` of the ``(id, *cols)`` frame ``df``
    joined on twice: as ``c_a`` by ``id_a`` and as ``c_b`` by ``id_b``."""
    for s in ("a", "b"):
        pairs = pairs.join(_side(df, s, cols), f"id_{s}")
    return pairs
