"""Explicit partitioning / skew handling for the web-text pipeline.

* **url-hash bucketing** — the table's physical partitioning:
  ``bucket = pmod(xxhash64(url), n_buckets)``.  Uniform regardless of host
  skew (url granularity), deterministic across runs → the unit of
  checkpointing/resume (io.lakehouse) and of per-partition metrics.
* **bucket placement** — ``place_buckets`` shuffles the buckets of one
  write wave densely onto a few partitions (by default
  ``min(len(wave), 2 × defaultParallelism)``), each bucket whole in one of
  them: the write tasks scale with the cores, not with the buckets, and a
  resume of k buckets runs at most k tasks.
* **salted per-host aggregation** — host-level metric rollups would shuffle
  every row of a hot host (Zipf head) to one reducer.  Standard fix,
  applied explicitly: two-phase aggregation with a salt key
  (partial per (host, salt) → final per host).  AQE skew-join handling
  stays on as a backstop, but pre-aggregation is what removes the hot-key
  reducer entirely at 10^12-doc scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_bucket(url: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def _murmur3_long(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of a LongType value (two 32-bit words, x86
    variant, seed 42) — the hash behind ``repartition(n, col)`` placement
    (HashPartitioning → pmod(murmur3(col), n)).  Pure-Python twin, verified
    against F.hash in tests/test_pipeline.py."""
    h1 = seed & 0xFFFFFFFF
    x &= 0xFFFFFFFFFFFFFFFF
    for word in (x & 0xFFFFFFFF, x >> 32):
        k1 = (word * 0xCC9E2D51) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 8  # byte length of a long
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_PKEY_CACHE: dict[int, list[int]] = {}


def partition_keys(n_partitions: int) -> list[int]:
    """``keys[p]`` = smallest long j with pmod(murmur3(j), n_partitions) == p.

    Lets ``repartition(n, key_col)`` send the rows keyed ``keys[p]`` to
    exactly partition p — the even layout of ``repartitionByRange``
    WITHOUT its hidden range-sampling job (an extra full input scan per
    run).  Search is driver-side over small ints (coupon-collector: ~n·ln n
    probes, microseconds for n ≤ 4096)."""
    if n_partitions not in _PKEY_CACHE:
        keys: list[int | None] = [None] * n_partitions
        found, j = 0, 0
        while found < n_partitions:
            p = _murmur3_long(j) % n_partitions
            if keys[p] is None:
                keys[p] = j
                found += 1
            j += 1
        _PKEY_CACHE[n_partitions] = keys  # type: ignore[assignment]
    return _PKEY_CACHE[n_partitions]


def place_buckets(
    df: DataFrame,
    wave: Sequence[int],
    n_partitions: int | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """One shuffle that lands the bucket at position i of ``wave`` in
    partition ``i mod n_partitions`` exactly: every bucket whole in one
    partition, no partition empty (unlike a plain hash repartition on the
    bucket id, which leaves ~1/e of partitions empty and piles 2-3 buckets
    on others) and no extra scan (unlike repartitionByRange).
    ``n_partitions`` defaults to ``min(len(wave), 2 × defaultParallelism)``.
    ``df`` must hold only rows of ``wave``'s buckets."""
    if n_partitions is None:
        slots = 2 * df.sparkSession.sparkContext.defaultParallelism
        n_partitions = min(len(wave), slots)
    keys = partition_keys(n_partitions)
    by_bucket = [keys[0]] * (max(wave) + 1)
    for i, b in enumerate(wave):
        by_bucket[b] = keys[i % n_partitions]
    # one parsed expression, not a Column per key: each F.lit is a py4j
    # round trip, ~66 of them per wave
    pk = F.expr(
        f"CAST(element_at(array({', '.join(map(str, by_bucket))}), "
        f"`{bucket_col}` + 1) AS BIGINT)"
    )
    return (
        df.withColumn("__pk", pk)
        .repartition(n_partitions, F.col("__pk"))
        .drop("__pk")
    )


def repartition_by_bucket(
    df: DataFrame, n_buckets: int, bucket_col: str = "bucket"
) -> DataFrame:
    """Bucket b of ``range(n_buckets)`` in partition b: ``place_buckets``
    with one bucket per partition."""
    return place_buckets(df, range(n_buckets), n_buckets, bucket_col)


def host_of(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def salted_host_metrics(
    df: DataFrame,
    agg_exprs: dict[str, Column],
    n_salt: int = 32,
    host_col: str = "host",
) -> DataFrame:
    """Two-phase per-host aggregation of sum/count-decomposable metrics.

    ``agg_exprs`` maps output name → a SUM-decomposable Column (counts and
    sums; averages are finalized from (sum, count) by the caller).  Phase 1
    aggregates per (host, salt) — at most ``n_salt`` partial rows per host
    regardless of how hot it is; phase 2 merges partials per host.
    """
    salt = F.pmod(F.xxhash64(F.col(host_col), F.lit(17)), F.lit(n_salt))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(host_col, "__salt")
        .agg(*[e.alias(name) for name, e in agg_exprs.items()])
    )
    return partial.groupBy(host_col).agg(
        *[F.sum(name).alias(name) for name in agg_exprs]
    )
