"""Seeded benchmark inputs.

* ``write_pages`` — the web-pages table ``run_batch`` reads, made by the
  program's own ``packs_spark.pipeline.generate.generate_pages`` (70 %
  prose, 30 % drop classes, ~10 % of docs with PII or blocklist terms, Zipf
  hosts).
* ``write_star`` — the ten registry tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at a given scale factor,
  with the row counts, column types and value shapes of the project's sf*
  test data.  The benchmark cannot read test data from outside its
  checkout, so it makes its own; the same ``(scale, seed)`` gives
  byte-identical tables.
* ``sample_urls`` — the seeded input sample the pandas oracle checks.
"""

from __future__ import annotations

import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


PAGES_CHUNK = 25_000


def _pages_chunk(args: tuple[str, int, int, int]) -> str:
    from packs_spark.pipeline.generate import generate_pages

    path, n, seed, n_hosts = args
    pdf = generate_pages(n, seed=seed, n_hosts=n_hosts)
    # make urls unique across chunks: each chunk numbers its pages from 0
    pdf["url"] = pdf["url"] + f"-{seed}"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=10_000)
    return path


def write_pages(out_dir: str, n_docs: int, seed: int, workers: int,
                n_hosts: int = 1000) -> str:
    """Pages table as a directory of parquet files, one per chunk.

    Chunks are generated in parallel.  Generation is not timed, but it does
    count against the wall-clock budget of the benchmark's runs: at 150k
    docs on 4 cores it takes 3.2 s, against 6.0 s for the program's serial
    ``write_pages_parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    jobs = []
    for i, start in enumerate(range(0, n_docs, PAGES_CHUNK)):
        n = min(PAGES_CHUNK, n_docs - start)
        jobs.append((os.path.join(out_dir, f"part-{i:04d}.parquet"), n,
                     seed * 1_000_003 + i, n_hosts))
    with ProcessPoolExecutor(max_workers=max(1, min(workers, len(jobs)))) as ex:
        list(ex.map(_pages_chunk, jobs))
    return out_dir


# ---------------------------------------------------------------------------
# star schema
# ---------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, size=n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_sizes(scale: float) -> dict[str, int]:
    """Row counts of the project's sf0.001 / sf0.01 / sf0.1 test tables:
    linear in the scale factor, except that ``documents`` and ``embeddings``
    never go below 500 rows (both have 500 rows at sf0.001 and sf0.01, and
    5,000 and 2,000 at sf0.1)."""
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
        "users": max(20, int(15_000 * scale)),
    }


def write_star(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = star_sizes(scale)
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })

    n = sz["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), f64),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })

    n = sz["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), f64),
    })

    n = sz["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1), f64),
    })

    n = sz["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, sz["customer"], n), i64),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2), f64),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", 2404), ts),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })

    n = sz["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, sz["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, sz["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, sz["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, f64),
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", 2498), ts),
    })

    n = sz["events"]
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, sz["users"], n), i64),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = sz["documents"]
    lens = rng.integers(8, 100, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts = [" ".join(c) for c in np.split(words, np.cumsum(lens)[:-1])]
    # 5 % near-duplicates of an earlier doc (" dup" suffix) and a few
    # exact copies — the dedup and similarity operators' positives
    for j in np.nonzero(rng.random(n) < 0.05)[0]:
        if j:
            texts[j] = texts[int(rng.integers(0, j))] + " dup"
    for j in np.nonzero(rng.random(n) < 0.002)[0]:
        if j:
            texts[j] = texts[int(rng.integers(0, j))]
    lang_p = [0.41, 0.14, 0.15, 0.15, 0.15]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": list(np.array(DOC_LANGS)[rng.choice(5, n, p=lang_p)]),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n = sz["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {k: v for k, v in sz.items() if k != "users"} | {"region": 5, "nation": 25}


def sample_urls(pages: str, k: int, seed: int) -> pd.DataFrame:
    """Seeded sample of ``k`` input rows (url, text) for the oracle."""
    table = pq.read_table(pages, columns=["url", "text"])
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(table.num_rows, size=min(k, table.num_rows),
                             replace=False))
    return table.take(pa.array(idx)).to_pandas()
