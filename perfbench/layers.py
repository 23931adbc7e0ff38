"""Per-layer timings of the traced run, measured from outside the program
by calling each layer's public functions (no program code is changed).

Pipeline layers (names as in BENCHMARK.json):

* kernels on one core, 10k-doc batches: ``fused_predict``, ``scrub_batch``,
  ``_heuristic_batch`` (µs/doc), and the scrub hit ratio;
* the enrich UDF's body (``make_enrich_udf(spark).func``) and the
  pandas → Arrow conversion of its output to the UDF's return type;
* the fixed per-task cost: a trivial pandas UDF over ``n_buckets`` tiny
  partitions;
* noop-sink timings of the scan, scan + ``repartition_by_bucket``, and the
  enriched plan; their differences give shuffle and enrich time, and
  ``boundary_s`` is what enrich time the kernels and the fixed cost do not
  explain;
* ``CheckpointedWriter.write_resumable`` on labeled rows read back from a
  committed table (no enrich), and ``pending_buckets``;
* the traced ``run_batch`` stats and the skew of its ``_metrics`` table.

Query layers: the seconds of each query of perfbench/workloads.QUERIES.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from harness import Bench, identity_udf

BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch of get_spark


def tracing_overhead(bench: Bench, traced_s: float, untraced_median: float) -> None:
    bench.layer("bench.traced_wall_s", traced_s, "s")
    bench.layer("bench.tracing_overhead_s", traced_s - untraced_median, "s")


def run_batch_stats(bench: Bench, stats: dict, out: str) -> None:
    """``run_batch``'s own timings, and max ÷ median docs per bucket in the
    ``_metrics`` table it wrote."""
    import pyarrow.parquet as pq

    bench.layer("pipeline.webtext.write_s", stats["write_s"], "s")
    bench.layer("pipeline.webtext.metrics_s", stats["metrics_s"], "s")
    per_bucket = pq.read_table(out + "_metrics", columns=["n_docs"])["n_docs"]
    docs = np.asarray(per_bucket.to_pylist(), dtype=float)
    bench.layer("pipeline.partitioning.bucket_skew",
                docs.max() / np.median(docs), "ratio")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _texts(pages: str, n: int) -> list[str]:
    import pyarrow.dataset as ds

    return ds.dataset(pages).head(n, columns=["text"])["text"].to_pylist()


def kernel_layers(bench: Bench, pages: str) -> float:
    """One-core µs/doc of each Python kernel; returns their sum."""
    from packs_spark.ml.ngram import LangIdModel, PerplexityModel, fused_predict
    from packs_spark.pipeline.rules import STOPWORDS
    from packs_spark.pipeline.scrub import scrub_batch
    from packs_spark.pipeline.udfs import _heuristic_batch

    texts = _texts(pages, bench.cfg["kernel_docs"])
    batches = [texts[i : i + BATCH] for i in range(0, len(texts), BATCH)]
    lm, pm = LangIdModel.train(), PerplexityModel.train()
    # the stacked tables make_enrich_udf broadcasts
    tables = np.concatenate([lm.tables, pm.table[None, :]]).astype(np.float64)
    stop = frozenset(STOPWORDS)
    kernels = {
        "ml.ngram.fused_predict_us_per_doc":
            lambda tl: fused_predict(tl, tables, len(lm.langs)),
        "pipeline.scrub.scrub_batch_us_per_doc": scrub_batch,
        "pipeline.udfs.heuristic_batch_us_per_doc":
            lambda tl: _heuristic_batch(tl, stop),
    }
    total = 0.0
    for name, fn in kernels.items():
        fn(batches[0][:200])  # first-call costs (regex compile) are not per doc
        t0 = time.perf_counter()
        for b in batches:
            fn(b)
        us = (time.perf_counter() - t0) / len(texts) * 1e6
        bench.layer(name, us, "us")
        total += us
    spans = [s for b in batches for s in scrub_batch(b)[1]]
    bench.layer("pipeline.scrub.hit_docs_ratio",
                sum(1 for s in spans if s) / len(spans), "ratio")
    return total


def udf_layers(bench: Bench, pages: str, enrich) -> None:
    """The enrich UDF body per batch, then its pandas → Arrow conversion to
    the UDF's return type (the conversion the Arrow serializer makes)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_type = to_arrow_type(enrich.returnType)
    texts = _texts(pages, bench.cfg["kernel_docs"])
    batches = [pd.Series(texts[i : i + BATCH]) for i in range(0, len(texts), BATCH)]
    enrich.func(batches[0][:200])
    body = conv = 0.0
    for s in batches:
        t0 = time.perf_counter()
        out = enrich.func(s)
        t1 = time.perf_counter()
        pa.StructArray.from_arrays(
            [pa.Array.from_pandas(out[f.name], type=f.type) for f in arrow_type],
            fields=list(arrow_type),
        )
        t2 = time.perf_counter()
        body += t1 - t0
        conv += t2 - t1
    bench.layer("pipeline.udfs.udf_body_us_per_doc", body / len(texts) * 1e6, "us")
    bench.layer("pipeline.udfs.arrow_out_us_per_doc", conv / len(texts) * 1e6, "us")


def task_fixed(bench: Bench, n_parts: int) -> float:
    """A trivial pandas UDF over ``n_parts`` tiny partitions: the per-task
    cost every enrich stage pays whatever its payload."""
    df = bench.spark.range(n_parts, numPartitions=n_parts).select(
        identity_udf()("id"))
    t0 = time.perf_counter()
    _noop(df)
    return time.perf_counter() - t0


def plan_layers(bench: Bench, pages: str, enrich, pending: list[int] | None,
                docs_enriched: int, kernel_us: float, fixed_s: float) -> None:
    """Noop-sink the scan, scan + bucket shuffle, and the enriched plan."""
    from pyspark.sql import functions as F

    from packs_spark.pipeline.partitioning import repartition_by_bucket, url_bucket

    n = bench.cfg["n_buckets"]
    scan = bench.spark.read.parquet(pages).select("url", "warc_ts", "lang", "text")
    shuffled = repartition_by_bucket(
        scan.withColumn("bucket", url_bucket(F.col("url"), n)), n)
    if pending is not None:
        shuffled = shuffled.where(F.col("bucket").isin(pending))
    enriched = shuffled.withColumn("__e", enrich(F.col("text")))
    t = {}
    for name, df in (("scan", scan), ("shuffle", shuffled), ("enrich", enriched)):
        t[name], _, counts = bench.traced(f"perfbench.layer.{name}", _noop, df)
    enrich_s = t["enrich"] - t["shuffle"]
    busy = len(pending) if pending is not None else n
    bench.layer("pipeline.webtext.scan_s", t["scan"], "s")
    bench.layer("pipeline.partitioning.shuffle_s", t["shuffle"] - t["scan"], "s")
    bench.layer("pipeline.udfs.enrich_s", enrich_s, "s")
    bench.layer("pipeline.udfs.boundary_s",
                enrich_s - docs_enriched * kernel_us / 1e6 / bench.nproc - fixed_s, "s")
    bench.layer("pipeline.udfs.busy_task_ratio",
                busy / max(counts["last_stage_tasks"], 1), "ratio")


def lakehouse_layers(bench: Bench, base: str, pending: list[int] | None) -> None:
    """``write_resumable`` of labeled, bucket-placed rows read back from the
    committed table ``base`` into a fresh table (or one restored with all
    but ``pending`` committed)."""
    from packs_spark.io.lakehouse import CheckpointedWriter
    from packs_spark.pipeline.partitioning import repartition_by_bucket

    from workloads import restore

    n = bench.cfg["n_buckets"]
    dest = bench.path("out", "lakehouse")
    if pending is not None:
        restore(base, dest, pending, n)
    rows = repartition_by_bucket(bench.spark.read.parquet(base), n)
    writer = CheckpointedWriter(dest, n)
    calls = []
    for _ in range(5):
        t0 = time.perf_counter()
        writer.pending_buckets()
        calls.append(time.perf_counter() - t0)
    dt, stats, _ = bench.traced("perfbench.layer.lakehouse",
                                writer.write_resumable, rows, assume_placed=True)
    if stats is None:
        return
    bench.layer("io.lakehouse.write_resumable_s", dt, "s")
    bench.layer("io.lakehouse.pending_buckets_s", statistics.median(calls), "s")
    bench.layer("io.lakehouse.buckets_written", stats["written"], "count")
    bench.layer("io.lakehouse.buckets_skipped", stats["skipped"], "count")


def pipeline_layers(bench: Bench, pages: str, base: str,
                    pending: list[int] | None) -> None:
    """Every pipeline layer metric; ``base`` is a committed run_batch output
    of ``pages`` and ``pending`` the buckets a resume would write (None for
    a fresh run)."""
    import pyarrow.parquet as pq

    from packs_spark.pipeline.udfs import make_enrich_udf

    kernel_us = kernel_layers(bench, pages)
    enrich = make_enrich_udf(bench.spark)
    udf_layers(bench, pages, enrich)
    n = bench.cfg["n_buckets"]
    fixed_s = task_fixed(bench, n)
    bench.layer("pipeline.udfs.task_fixed_s", fixed_s, "s")
    per_bucket = pq.read_table(base + "_metrics", columns=["bucket", "n_docs"])
    docs = dict(zip(per_bucket["bucket"].to_pylist(), per_bucket["n_docs"].to_pylist()))
    docs_enriched = sum(docs.get(b, 0) for b in (pending if pending is not None
                                                  else range(n)))
    plan_layers(bench, pages, enrich, pending, docs_enriched, kernel_us, fixed_s)
    lakehouse_layers(bench, base, pending)


def query_layers(bench: Bench, star: str, queries: list[str]) -> None:
    """One traced pass of the query set, on small tables (pipeline
    workloads' traces)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in queries:
        dt, _, _ = bench.traced(f"perfbench.query.{name}",
                                lambda: qs[name](bench.spark, star).collect())
        bench.layer(f"query.{name}_s", dt, "s")


def pipeline_probe_run(bench: Bench, pages: str) -> None:
    """Pipeline layers for a query_suite trace: one run_batch over a small
    pages table, then the probes against its output."""
    from packs_spark.pipeline.webtext import run_batch

    base = bench.path("out", "probe_base")
    n = bench.cfg["n_buckets"]
    stats = bench.op("probe.run_batch", run_batch, bench.spark, pages, base,
                     n_buckets=n, run_id="probe")
    if stats is None:
        return
    run_batch_stats(bench, stats, base)
    pipeline_layers(bench, pages, base, None)
