"""Web-text quality-filter pipeline (the north star).

Stages over a Common-Crawl-style table (url, warc_ts, html, text, lang):

  1. extract      — html → text (already extracted in the input contract;
                    the html column is carried as opaque binary + used for
                    byte-parity verification)
  2. langid       — char-ngram language ID
  3. perplexity   — char-ngram LM score
  4. heuristics   — Gopher/C4-style quality signals (length, symbol,
                    stopword and distinct-word ratios)
  5. scrub        — Python-`re` PII/toxicity scrub (byte-parity with the
                    reference patterns)
  6. keep/drop    — rules.heuristic_keep ∧ model thresholds
                    (2-6 are ONE Arrow batch function over a per-executor
                    lazily-loaded broadcast model, udfs.make_label_batch)
  7. write        — one parquet file per url-hash bucket, written by the
                    Python task that labeled the bucket, with per-bucket
                    metrics in the commit markers + lineage, resumable
                    checkpoints (packs_spark.io.lakehouse)

``run_batch`` is the full pipeline; ``label`` is its labeling step (2-6)
as a DataFrame, used by the streaming pipeline; ``BucketMetrics`` folds
the per-bucket metrics row; ``flagship_summary`` is the compact driver smoke
query over the generic ``documents`` testdata table.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from packs_spark.io.sources import read_parquet
from packs_spark.pipeline import rules

# default model thresholds (see packs_spark/pipeline/README.md)
DEFAULT_THRESHOLDS = dict(
    min_margin=0.05,  # langid confidence: best-vs-runner-up mean logprob gap
    # char-trigram perplexity ceiling: the sparse-seed trigram LM scores
    # in-distribution prose ~3-4.5k and letter-gibberish ~20k+ (the absolute
    # level is set by Laplace smoothing over 27^3 codes, not by fluency) —
    # the threshold separates the two modes
    max_ppl=8000.0,
)


def _checked_thresholds(thresholds: dict | None) -> dict:
    """``DEFAULT_THRESHOLDS`` overridden by ``thresholds``; any other key
    raises ``ValueError`` (a typo or a heuristic key would otherwise run
    with the defaults and silently give a different answer — heuristic
    thresholds are the ``rules.DEFAULTS`` constants)."""
    unknown = sorted(set(thresholds or {}) - set(DEFAULT_THRESHOLDS))
    if unknown:
        raise ValueError(
            f"unknown thresholds key(s) {unknown}; accepted keys: "
            f"{sorted(DEFAULT_THRESHOLDS)} (heuristic thresholds are the "
            "fixed rules.DEFAULTS)"
        )
    return {**DEFAULT_THRESHOLDS, **(thresholds or {})}


def label(
    df: DataFrame, thresholds: dict | None = None, run_id: str = "run-0"
) -> DataFrame:
    """The one labeling path as a DataFrame: ``udfs.make_label_batch``'s
    Arrow batch function applied with ``mapInArrow`` — the signals, keep =
    ``rules.heuristic_keep`` ∧ the model thresholds, and ``run_id``
    lineage.  ``streaming.pipeline.stream_webtext`` labels through it;
    ``run_batch`` applies the same batch function inside its write tasks.
    ``df`` carries a ``text`` column, which the output drops; every other
    column passes through in order, followed by ``udfs.LABELS``.

    ``thresholds`` overrides ``DEFAULT_THRESHOLDS``; any other key raises
    ``ValueError``."""
    from pyspark.sql import types as T

    from packs_spark.pipeline.udfs import LABELS, make_label_batch

    label_batch = make_label_batch(
        df.sparkSession, _checked_thresholds(thresholds), run_id
    )
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "text"] + LABELS.fields
    )

    def label_batches(batches):
        return map(label_batch, batches)

    return df.mapInArrow(label_batches, schema)


def _round_half_up(x: float, scale: int) -> float:
    """Spark's ``round`` of a double: HALF_UP on its decimal string."""
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
    return float(q)


def _add(a, b):
    """Spark's sum of two partial sums: NULL only when both are."""
    return a if b is None else b if a is None else a + b


_AVGS = {"avg_ppl": ("ppl", 4), "avg_symbol_ratio": ("q_symbol_ratio", 6)}


class BucketMetrics:
    """One bucket's ``_metrics`` row as a fold over its labeled rows, in
    file order (``add`` per Arrow batch, then ``row``): the aggregates of
    the table's per-bucket groupBy, with Spark's semantics — sums skip
    NULLs and are NULL when no value is set, and the averages add left to
    right (as Spark's Average does) before rounding HALF_UP.  With
    ``media_format`` rows it adds the multimodal columns and
    ``media_format_counts``, the bucket's [format, rows] pairs.  Each write
    task keeps one per bucket while it writes (the commit marker stores the
    row); ``CheckpointedWriter.bucket_metrics`` folds a bucket's file for a
    marker written without one."""

    def __init__(self):
        self._row = dict(
            n_docs=0, n_keep=None, n_drop=None, n_docs_with_pii=None,
            total_pii_hits=None,
        )
        self._acc = {name: (0.0, 0) for name in _AVGS}
        self._formats: Counter | None = None

    def add(self, rb) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        def total(col):
            return pc.sum(col.cast(pa.int64()), min_count=1).as_py()

        row = self._row
        row["n_docs"] += rb.num_rows
        keep, hits = rb.column("keep"), rb.column("pii_hits")
        for name, col in (
            ("n_keep", keep),
            ("n_drop", pc.invert(keep)),
            ("n_docs_with_pii", pc.greater(hits, 0)),
            ("total_pii_hits", hits),
        ):
            row[name] = _add(row[name], total(col))
        for name, (col, _) in _AVGS.items():
            x = rb.column(col).drop_null().to_numpy()
            s, n = self._acc[name]
            # cumsum adds in order; np.sum would add pairwise
            self._acc[name] = (float(np.cumsum(np.append(s, x))[-1]), n + len(x))
        if "media_format" in rb.schema.names:
            fmt = rb.column("media_format")
            if self._formats is None:
                self._formats = Counter()
                row.update(n_html_docs=None, total_media_bytes=None)
            self._formats.update(fmt.to_pylist())
            row["n_html_docs"] = _add(
                row["n_html_docs"], total(pc.equal(fmt, "html"))
            )
            row["total_media_bytes"] = _add(
                row["total_media_bytes"], total(rb.column("media_bytes"))
            )

    def row(self) -> dict:
        row = dict(self._row)
        for name, (_, scale) in _AVGS.items():
            s, n = self._acc[name]
            row[name] = _round_half_up(s / n, scale) if n else None
        if self._formats is not None:
            row["n_media_formats"] = sum(1 for f in self._formats if f is not None)
            row["media_format_counts"] = list(self._formats.items())
        return row


# the ``_metrics`` table: one row per non-empty bucket, Spark's types
_METRICS_COLUMNS = [
    ("n_docs", "int64"), ("n_keep", "int64"), ("n_drop", "int64"),
    ("n_docs_with_pii", "int64"), ("total_pii_hits", "int64"),
    ("avg_ppl", "float64"), ("avg_symbol_ratio", "float64"),
]
_MEDIA_COLUMNS = [
    ("n_media_formats", "int64"), ("n_html_docs", "int64"),
    ("total_media_bytes", "int64"),
]


def _write_metrics(
    per_bucket: dict[int, dict], path: str, run_id: str, multimodal: bool
) -> None:
    """``per_bucket``'s rows as the single-file parquet table ``path``
    (replaced), stamped with this run's ``run_id``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = _METRICS_COLUMNS + (_MEDIA_COLUMNS if multimodal else [])
    schema = pa.schema(
        [("bucket", pa.int32())]
        + [(name, pa.type_for_alias(t)) for name, t in cols]
        + [("run_id", pa.string())]
    )
    rows = [
        {"bucket": b, **m, "run_id": run_id}
        for b, m in sorted(per_bucket.items())
        if m["n_docs"]
    ]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(path, "part-00000.parquet"),
    )


def run_batch(
    spark: SparkSession,
    source: DataFrame | str,
    output_path: str,
    n_buckets: int = 64,
    run_id: str = "run-0",
    thresholds: dict | None = None,
    wave_size: int | None = None,
    multimodal: bool = False,
) -> dict:
    """Full quality-filter pipeline over a (url, warc_ts, html, text, lang)
    table: langid → perplexity → heuristics → scrub → keep/drop → bucketed,
    checkpointed, resumable parquet write with lineage + per-bucket metrics.

    One Spark job per wave: scan → bucket shuffle (the writer places the
    wave's buckets on ``min(len(wave), 2 × defaultParallelism)``
    partitions, each bucket whole in one) → Python tasks that label their
    rows (``udfs.make_label_batch``), write each bucket's rows to its
    parquet file and report each bucket's metrics row (``BucketMetrics``);
    the driver renames the reported files and writes each commit marker
    with its metrics row.  ``<output_path>_metrics`` is
    then built from the markers, so no Spark job writes the table or reads
    it back, and a resume never re-reads committed buckets.  A resume
    raises ``ValueError`` when its effective thresholds or
    ``rules.DEFAULTS`` differ from those the checkpoint recorded.

    ``multimodal=True`` adds an enrich stage over the ``html`` binary
    column (format sniff + payload bytes via one Arrow pass,
    operators/multimodal.media_metadata_col) BEFORE the bucket shuffle —
    the payload itself still never crosses an exchange.  The output rows
    gain (media_format, media_bytes), the per-bucket metrics gain format
    counts, and the returned stats carry a corpus-level
    ``media_format_counts`` map.  The text path (scrub bytes, keep/drop)
    is byte-identical with the flag off — pinned by
    tests/test_pipeline.py::test_multimodal_enrich_stage.

    Returns the CheckpointedWriter stats dict (buckets written/skipped)
    plus ``write_s`` and ``metrics_s``.
    """
    from packs_spark.io.lakehouse import CheckpointedWriter
    from packs_spark.pipeline.partitioning import url_bucket
    from packs_spark.pipeline.udfs import make_label_batch

    # before any output directory exists
    checked = _checked_thresholds(thresholds)
    df = read_parquet(spark, source) if isinstance(source, str) else source

    # Project away the raw html payload BEFORE the shuffle: extraction
    # already happened upstream (the input carries `text`), so html is dead
    # weight — at CC scale it is the majority of the row's bytes, and
    # shuffling or rewriting it would double both shuffle and sink I/O.
    # The output row keeps (url, run_id) lineage back to the source table.
    # The optional multimodal stage replaces the payload with its cheap
    # derived columns HERE, same side of the shuffle, so the invariant
    # (no binary across an exchange) holds with the flag on too.
    if multimodal:
        from packs_spark.operators.multimodal import media_metadata_col

        df = df.withColumn("__m", media_metadata_col(F.col("html"))).select(
            "url",
            "warc_ts",
            "lang",
            "text",
            F.col("__m.format").alias("media_format"),
            F.col("__m.n_bytes").alias("media_bytes"),
        )
    else:
        df = df.select("url", "warc_ts", "lang", "text")
    # The writer shuffles each wave once, by bucket, BEFORE the expensive
    # stages (partitioning.place_buckets): the Python tasks scale with the
    # cores whatever the input file layout (a single fat row group would
    # otherwise serialize them), and each bucket lies whole in one task,
    # which writes its one file.  At 10^12-doc scale this is the only full
    # shuffle in the job and it is unavoidable for a bucketed table layout.
    df = df.withColumn("bucket", url_bucket(F.col("url"), n_buckets))

    writer = CheckpointedWriter(
        output_path,
        n_buckets,
        schema_tag="multimodal" if multimodal else "",
        # every threshold the labels depend on: a resume under others
        # raises instead of committing buckets labeled two ways
        fingerprint={**rules.DEFAULTS, **checked},
    )
    t0 = time.time()
    stats = writer.write_resumable(
        df,
        wave_size=wave_size,
        transform=make_label_batch(spark, checked, run_id),
        metrics=BucketMetrics,
    )
    stats["write_s"] = round(time.time() - t0, 2)

    # per-bucket rule-level metrics (north rule: per-partition metrics),
    # from the commit markers: each bucket's row was computed from exactly
    # the rows its task wrote
    t0 = time.time()
    per_bucket = writer.bucket_metrics(BucketMetrics)
    _write_metrics(per_bucket, f"{output_path}_metrics", run_id, multimodal)
    stats["metrics_s"] = round(time.time() - t0, 2)
    if multimodal:
        # corpus-level format counts (a handful of rows: one per container
        # format) — the pipeline-summary view of the multimodal stage
        counts: Counter = Counter()
        for m in per_bucket.values():
            counts.update(dict(m.get("media_format_counts", [])))
        stats["media_format_counts"] = dict(counts)
    return stats


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach heuristic quality-signal columns (all JVM-side expressions).

    The lowercase token array is materialized ONCE and every word-based
    signal derives from it — a single regex split instead of one per
    signal and row.
    """
    c, w = F.col(text_col), F.col("__wl")
    out = (
        df.withColumn("__wl", rules.words(F.lower(c)))
        .withColumn("q_n_chars", rules.n_chars(c))
        .withColumn("q_n_words", F.size(w))
        .withColumn("q_symbol_ratio", rules.symbol_ratio(c))
        .withColumn("q_stopword_ratio", rules.stopword_ratio(w))
        .withColumn("q_distinct_ratio", rules.distinct_word_ratio(w))
    )
    return out.withColumn("keep", rules.heuristic_keep()).drop("__wl")


def flagship_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop + mean quality signals over `documents`."""
    df = read_parquet(spark, f"{sf_dir}/documents.parquet")
    q = quality_columns(df)
    return (
        q.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.round(F.avg(F.col("keep").cast("double")), 4).alias("keep_rate"),
            F.round(F.avg("q_n_chars"), 2).alias("avg_chars"),
            F.round(F.avg("q_symbol_ratio"), 4).alias("avg_symbol_ratio"),
            F.round(F.avg("q_stopword_ratio"), 4).alias("avg_stopword_ratio"),
            F.round(F.avg("q_distinct_ratio"), 4).alias("avg_distinct_ratio"),
        )
        .orderBy("source")
    )
