"""The three workloads: inputs, warm-up, timed loop, output checks and the
end-to-end metrics.  With ``--trace 1`` each also makes one traced
operation and calls the layer probes in perfbench/layers.py.

* ``pipeline_fresh``  — ``run_batch`` into an empty output.
* ``pipeline_resume`` — ``run_batch`` into an output whose buckets are all
  committed except a seeded 1/8 (restored, untimed, before each run).
* ``query_suite``     — one pass over QUERIES, checked against DuckDB.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs
import layers
from harness import Bench, log, median

# One pass of query_suite, run one after another: at least one query per
# operator family — expectations, drift, dedup, similarity, textstats,
# codecs (multimodal_metadata_documents) and queries_pipeline (the last
# four) — plus a window query.  Left out for the time budget: the rest of the
# registry, e.g. dedup_embedding_documents (the slowest), and the queries
# that write oracle intermediates under BENCH/ (minhash, simhash, ivf).
QUERIES = [
    "events_sessionization",
    "expectations_suite_orders",
    "drift_psi_lineitem",
    "dedup_exact_documents",
    "similarity_topk_bruteforce",
    "textstats_documents",
    "multimodal_metadata_documents",
]
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def run(bench: Bench) -> None:
    {"pipeline_fresh": pipeline, "pipeline_resume": pipeline,
     "query_suite": query_suite}[bench.args.workload](bench)


# ---------------------------------------------------------------------------
# pipeline workloads
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))


def bucket_files(out: str) -> list[str]:
    return sorted(os.path.join(out, f) for f in os.listdir(out)
                  if f.startswith("bucket-") and f.endswith(".parquet"))


def restore(base: str, dest: str, pending: list[int], n_buckets: int) -> None:
    """Make ``dest`` a copy of the committed table ``base`` in which the
    ``pending`` buckets were never written (hard links: no data copied)."""
    prog = os.path.join(dest, "_progress")
    os.makedirs(prog)
    shutil.copy(os.path.join(base, "_progress", "_meta.json"), prog)
    skip = set(pending)
    for b in range(n_buckets):
        if b in skip:
            continue
        data = os.path.join(base, f"bucket-{b:05d}.parquet")
        if os.path.exists(data):
            os.link(data, os.path.join(dest, os.path.basename(data)))
        marker = f"bucket-{b}.json"
        os.link(os.path.join(base, "_progress", marker), os.path.join(prog, marker))


def pending_for(seed: int, i: int, n_buckets: int) -> list[int]:
    rng = np.random.default_rng([seed, i])
    return sorted(int(b) for b in rng.choice(n_buckets, n_buckets // 8, replace=False))


def keep_f1(pred: np.ndarray, truth: np.ndarray) -> float:
    tp = int(np.sum(pred & truth))
    fp = int(np.sum(pred & ~truth))
    fn = int(np.sum(~pred & truth))
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


class PipelineOutput:
    """Checks of one committed ``run_batch`` output against the input and
    the pandas oracle."""

    def __init__(self, bench: Bench, oracle):
        self.bench = bench
        self.oracle = oracle.set_index("url")

    def check_table(self, tag: str, out: str, stats: dict, restored: int,
                    rows_in: int) -> list[str]:
        """Rows written equal rows in, one commit marker per bucket, and
        the resumed run skipped exactly the restored buckets.  Returns the
        bucket files."""
        import pyarrow.parquet as pq

        b, n = self.bench, self.bench.cfg["n_buckets"]
        files = bucket_files(out)
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        b.check(f"{tag}.rows", rows == rows_in, f"{rows} rows written, {rows_in} in")
        markers = [f for f in os.listdir(os.path.join(out, "_progress"))
                   if f.startswith("bucket-") and f.endswith(".json")]
        b.check(f"{tag}.markers", len(markers) == n,
                f"{len(markers)} commit markers for {n} buckets")
        b.check(f"{tag}.skipped", stats.get("skipped") == restored,
                f"buckets_skipped={stats.get('skipped')}, restored {restored}")
        return files

    def check_oracle(self, tag: str, files: list[str]) -> float:
        """keep_f1 >= 0.99 and byte-identical text_scrubbed on the oracle's
        url sample; returns keep_f1."""
        import pyarrow.dataset as ds

        b = self.bench
        got = (
            ds.dataset(files)
            .to_table(columns=["url", "keep", "text_scrubbed"],
                      filter=ds.field("url").isin(self.oracle.index.tolist()))
            .to_pandas()
            .set_index("url")
            .reindex(self.oracle.index)
        )
        b.check(f"{tag}.sample", not got["keep"].isna().any(),
                f"{int(got['keep'].isna().sum())} oracle urls missing")
        truth = self.oracle["keep"].to_numpy(bool)
        f1 = keep_f1(got["keep"].fillna(False).to_numpy(bool), truth)
        b.check(f"{tag}.keep_f1", f1 >= 0.99, f"keep_f1={f1:.4f} < 0.99")
        same = got["text_scrubbed"].to_numpy(object) == self.oracle[
            "text_scrubbed"].to_numpy(object)
        b.check(f"{tag}.text_scrubbed", bool(same.all()),
                f"{int((~same).sum())} scrubbed texts differ from the oracle")
        return f1


def pipeline(bench: Bench) -> None:
    from packs_spark.pipeline.webtext import run_batch

    cfg, seed, resume = bench.cfg, bench.args.seed, bench.args.workload == "pipeline_resume"
    n, n_docs = cfg["n_buckets"], cfg["pages_docs"]
    pages = inputs.write_pages(bench.path("data", "pages"), n_docs, seed, bench.nproc)
    in_bytes = _dir_bytes(pages)
    sample = inputs.sample_urls(pages, cfg["oracle_sample"], seed)
    checker = PipelineOutput(bench, _pipeline_oracle(sample, bench.args.inject))
    if resume:
        warm, warm_docs = pages, n_docs
    else:
        warm_docs = cfg["warm_docs"]
        warm = inputs.write_pages(bench.path("data", "warm"), warm_docs, seed + 1,
                                  bench.nproc)
    log(f"inputs ready: {n_docs} docs, {in_bytes / 2**20:.1f} MiB")
    star = None
    if bench.args.trace:  # query probes of the trace run on a small star
        star = bench.path("data", "star")
        inputs.write_star(star, cfg["probe_star_scale"], seed)
    bench.start_spark()

    # warm-up, untimed: compiles the plans and starts the Python workers.
    # Resumes are restored from a committed table of the input, so there the
    # warm-up is a complete fresh run; a fresh run warms up on a small table.
    base = bench.path("out", "base")
    stats = bench.op("warmup", run_batch, bench.spark, warm, base, n_buckets=n,
                     run_id="warmup")
    if stats is None:
        raise RuntimeError("warm-up run_batch failed; nothing to measure")
    files = checker.check_table("warmup", base, stats, 0, warm_docs)
    if resume:
        checker.check_oracle("warmup", files)
    log("warm-up done")

    def prepare(i: int):
        out = bench.path("out", f"run{i}")
        pending = pending_for(seed, i, n) if resume else list(range(n))
        if resume:
            restore(base, out, pending, n)
        return out, pending

    def op(i: int, ctx):
        return run_batch(bench.spark, pages, ctx[0], n_buckets=n, run_id=f"run{i}")

    f1s, ratios = [], []

    def after(i: int, ctx, stats):
        out, pending = ctx
        files = checker.check_table(f"run{i}", out, stats, n - len(pending), n_docs)
        f1s.append(checker.check_oracle(f"run{i}", files))
        ratios.append(sum(map(os.path.getsize, files)) / in_bytes)
        shutil.rmtree(out)
        shutil.rmtree(out + "_metrics")

    walls = bench.loop(bench.args.workload, op, prepare, after)
    wall = median(walls)
    bench.metric("wall_s", wall, "s")
    bench.metric("docs_per_s", n_docs / wall, "docs/s")
    bench.metric("output_bytes_per_input_byte", median(ratios), "ratio")
    bench.metric("keep_f1", min(f1s), "ratio")

    if bench.args.trace:
        out, pending = prepare(len(walls))
        dt, stats, counts = bench.traced("perfbench.op", op, len(walls), (out, pending))
        if stats is None:
            return
        checker.check_oracle("traced", checker.check_table(
            "traced", out, stats, n - len(pending), n_docs))
        bench.record_job_counts(counts)
        layers.tracing_overhead(bench, dt, wall)
        layers.run_batch_stats(bench, stats, out)
        # the traced output is a committed table of the input, as base is
        layers.pipeline_layers(bench, pages, out, pending if resume else None)
        layers.query_layers(bench, star, QUERIES)


def _pipeline_oracle(sample, inject: str | None):
    from pandas_oracle import pipeline_oracle

    oracle = pipeline_oracle(sample)
    if inject == "label":  # self-test: every tenth oracle label is wrong
        oracle.loc[oracle.index[::10], "keep"] = ~oracle["keep"].iloc[::10]
    return oracle


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------


def _query_oracles(star: str, names: list[str], inject: str | None) -> dict:
    """DuckDB oracle hash per query over the same parquet files."""
    import duckdb

    import __spark_entry__ as entry
    from check_oracle import value_hash

    sql = entry.oracle_sql()
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(star, t)}.parquet')")
    out = {}
    for name in names:
        odf = con.execute(sql[name]).fetchdf()
        out[name] = value_hash([tuple(r) for r in odf.itertuples(index=False)],
                               odf.columns.tolist())
    con.close()
    if inject == "hash":  # self-test: one oracle hash is wrong
        out[names[0]] = "0" * 16
    return out


class QueryPass:
    """Runs QUERIES once over a star-schema directory, one after another;
    every query is an operation and every result an oracle check."""

    def __init__(self, bench: Bench, star: str, oracles: dict):
        import __spark_entry__ as entry
        from check_oracle import canon, value_hash

        self.bench, self.star, self.oracles = bench, star, oracles
        self.queries = entry.queries()
        self.canon, self.value_hash = canon, value_hash

    def run(self, tag: str, group: str | None = None) -> dict:
        """One pass: seconds and result per query.  With ``group``, each
        query runs under the job group ``group.<name>`` and the pass also
        returns the summed job counts."""
        b = self.bench
        times, results, counts = {}, {}, {}
        for name in QUERIES:
            def one(name=name):
                df = self.queries[name](b.spark, self.star)
                return df.columns, [tuple(r) for r in df.collect()]

            if group:
                dt, res, c = b.traced(f"{group}.{name}", one)
                counts = {k: counts.get(k, 0) + v for k, v in c.items()}
            else:
                dt, res = b.timed(f"{tag}.{name}", one)
            times[name] = dt
            results[name] = res
        return {"times": times, "results": results, "counts": counts}

    def check(self, tag: str, passed: dict) -> tuple[float, int]:
        """Oracle checks of one pass: (share of queries matching, bytes of
        the canonical result rows)."""
        b = self.bench
        matched, nbytes = 0, 0
        for name, res in passed["results"].items():
            if res is None:
                continue  # the failed query is already counted
            cols, rows = res
            h = self.value_hash(rows, cols)
            ok = b.check(f"{tag}.{name}", h == self.oracles[name],
                         f"hash {h} != oracle {self.oracles[name]}")
            matched += ok
            nbytes += sum(len("\x01".join(map(self.canon, r))) + 1 for r in rows)
        return matched / len(QUERIES), nbytes


def query_suite(bench: Bench) -> None:
    cfg, seed = bench.cfg, bench.args.seed
    star = bench.path("data", "star")
    sizes = inputs.write_star(star, cfg["star_scale"], seed)
    in_rows = sum(sizes[t] for t in STAR_TABLES)
    in_bytes = sum(os.path.getsize(os.path.join(star, f"{t}.parquet"))
                   for t in STAR_TABLES)
    oracles = _query_oracles(star, QUERIES, bench.args.inject)
    log(f"inputs ready: {in_rows} rows, {in_bytes / 2**20:.1f} MiB")
    pages = None
    if bench.args.trace:  # pipeline probes of the trace run
        pages = inputs.write_pages(bench.path("data", "pages"),
                                   cfg["probe_pages_docs"], seed, bench.nproc)
    bench.start_spark()

    # warm-up, untimed: one checked pass compiles every plan and starts the
    # Python workers
    qp = QueryPass(bench, star, oracles)
    qp.check("warmup", qp.run("warmup"))
    log("warm-up done")

    shares, ratios = [], []

    def op(i: int, ctx):
        return qp.run(f"pass{i}")

    def after(i: int, ctx, passed):
        share, nbytes = qp.check(f"pass{i}", passed)
        shares.append(share)
        ratios.append(nbytes / in_bytes)

    walls = bench.loop("query_suite", op, after=after)
    wall = median(walls)
    bench.metric("wall_s", wall, "s")
    bench.metric("docs_per_s", in_rows / wall, "docs/s")
    bench.metric("output_bytes_per_input_byte", median(ratios), "ratio")
    bench.metric("keep_f1", min(shares), "ratio")

    if bench.args.trace:
        t0 = time.perf_counter()
        passed = qp.run("traced", group="perfbench.op")
        dt = time.perf_counter() - t0
        qp.check("traced", passed)
        bench.record_job_counts(passed["counts"])
        layers.tracing_overhead(bench, dt, wall)
        for q, t in passed["times"].items():
            bench.layer(f"query.{q}_s", t, "s")
        layers.pipeline_probe_run(bench, pages)
