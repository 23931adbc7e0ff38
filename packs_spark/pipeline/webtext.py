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
                    (2-5 run as ONE fused pandas UDF with a per-executor
                    lazily-loaded broadcast model, udfs.make_enrich_udf)
  6. keep/drop    — rules.heuristic_keep ∧ model thresholds (``label``)
  7. write        — partitioned by url-hash bucket (salted for hot hosts),
                    per-partition metrics + lineage, resumable checkpoints
                    (packs_spark.io.lakehouse)

``run_batch`` is the full pipeline; ``label`` is its labeling step (2-6),
shared with the streaming pipeline; ``flagship_summary`` is the compact
driver smoke query over the generic ``documents`` testdata table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def label(
    df: DataFrame, thresholds: dict | None = None, run_id: str = "run-0"
) -> DataFrame:
    """The one labeling path, shared by ``run_batch`` (after its bucket
    shuffle) and ``streaming.pipeline.stream_webtext``: the fused enrich
    UDF's signals as columns, then keep = ``rules.heuristic_keep`` ∧ the
    model thresholds, plus ``run_id`` lineage.  ``df`` carries a ``text``
    column, which the output drops.

    ``thresholds`` overrides ``DEFAULT_THRESHOLDS``; any other key raises
    ``ValueError`` (a typo or a heuristic key would otherwise run with the
    defaults and silently give a different answer — heuristic thresholds
    are the ``rules.DEFAULTS`` constants)."""
    from packs_spark.pipeline.udfs import make_enrich_udf

    unknown = sorted(set(thresholds or {}) - set(DEFAULT_THRESHOLDS))
    if unknown:
        raise ValueError(
            f"unknown thresholds key(s) {unknown}; accepted keys: "
            f"{sorted(DEFAULT_THRESHOLDS)} (heuristic thresholds are the "
            "fixed rules.DEFAULTS)"
        )
    t = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    enrich_udf = make_enrich_udf(df.sparkSession)

    # The fused UDF computes EVERY signal per document in one Arrow pass —
    # langid, perplexity, scrub AND the heuristic quality signals (Python
    # string semantics, exactly the oracle's; see udfs._heuristic_batch).
    # The flagship query's quality_columns() computes the same signals as
    # JVM expressions; both apply the one keep rule, rules.heuristic_keep.
    enriched = (
        df.withColumn("__e", enrich_udf(F.col("text")))
        .select(
            "*",
            F.col("__e.lang").alias("lang_pred"),
            F.col("__e.margin").alias("lang_margin"),
            F.col("__e.ppl").alias("ppl"),
            F.col("__e.scrubbed").alias("text_scrubbed"),
            F.col("__e.spans").alias("scrub_spans"),
            F.col("__e.n_hits").alias("pii_hits"),
            F.col("__e.n_chars").alias("q_n_chars"),
            F.col("__e.n_words").alias("q_n_words"),
            F.col("__e.symbol_ratio").alias("q_symbol_ratio"),
            F.col("__e.stopword_ratio").alias("q_stopword_ratio"),
            F.col("__e.distinct_ratio").alias("q_distinct_ratio"),
        )
        .drop("__e")
        .withColumn("keep_heuristic", rules.heuristic_keep())
    )

    return (
        enriched.withColumn(
            "keep",
            F.col("keep_heuristic")
            & (F.col("lang_pred") != "unknown")
            & (F.col("lang_margin") >= t["min_margin"])
            & (F.col("ppl") <= t["max_ppl"]),
        )
        .withColumn("run_id", F.lit(run_id))
        # the sink row is the scrubbed document + labels/metrics/lineage;
        # the raw text is reproducible from (url, run_id) against the
        # source table and would otherwise be the largest written column
        .drop("text")
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

    ``multimodal=True`` adds an enrich stage over the ``html`` binary
    column (format sniff + payload bytes via one Arrow pass,
    operators/multimodal.media_metadata_col) BEFORE the bucket shuffle —
    the payload itself still never crosses an exchange.  The output rows
    gain (media_format, media_bytes), the per-bucket metrics gain format
    counts, and the returned stats carry a corpus-level
    ``media_format_counts`` map.  The text path (scrub bytes, keep/drop)
    is byte-identical with the flag off — pinned by
    tests/test_pipeline.py::test_multimodal_enrich_stage.

    Returns the CheckpointedWriter stats dict (buckets written/skipped).
    """
    from packs_spark.io.lakehouse import CheckpointedWriter
    from packs_spark.pipeline.partitioning import repartition_by_bucket, url_bucket

    df = spark.read.parquet(source) if isinstance(source, str) else source

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
    df = df.withColumn("bucket", url_bucket(F.col("url"), n_buckets))
    # Shuffle once, by bucket, BEFORE the expensive stages: (a) parallelism
    # becomes n_buckets regardless of the input file layout (a single fat
    # row group would otherwise serialize every UDF), (b) the partitionBy
    # write emits one file per bucket instead of n_input_splits × n_buckets
    # small files.  At 10^12-doc scale this is the only full shuffle in the
    # job and it is unavoidable for a bucketed table layout.
    # Exact one-bucket-per-partition placement via a precomputed murmur3
    # partition key (partitioning.repartition_by_bucket): even parallelism
    # AND one output file per bucket directory.  A plain hash repartition
    # on the bucket id leaves ~1/e of partitions empty (measured: only ~15
    # of 32 python workers busy); repartitionByRange fixes that but adds a
    # hidden range-sampling job — a full extra scan of the input per run.
    df = repartition_by_bucket(df, n_buckets)

    labeled = label(df, thresholds, run_id)

    import time as _time

    writer = CheckpointedWriter(
        output_path,
        n_buckets,
        schema_tag="multimodal" if multimodal else "",
    )
    t0 = _time.time()
    stats = writer.write_resumable(labeled, wave_size=wave_size, assume_placed=True)
    stats["write_s"] = round(_time.time() - t0, 2)

    # per-bucket rule-level metrics (north rule: per-partition metrics),
    # computed from the committed table so metrics always reflect what was
    # actually written
    written = spark.read.parquet(output_path)
    agg_cols = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
        F.sum((F.col("pii_hits") > 0).cast("long")).alias("n_docs_with_pii"),
        F.sum("pii_hits").alias("total_pii_hits"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        F.round(F.avg(F.col("q_symbol_ratio")), 6).alias("avg_symbol_ratio"),
    ]
    if "media_format" in written.columns:
        agg_cols += [
            F.countDistinct("media_format").alias("n_media_formats"),
            F.sum((F.col("media_format") == "html").cast("long")).alias(
                "n_html_docs"
            ),
            F.sum("media_bytes").alias("total_media_bytes"),
        ]
    metrics = written.groupBy("bucket").agg(*agg_cols)
    t0 = _time.time()
    metrics.withColumn("run_id", F.lit(run_id)).write.mode("overwrite").parquet(
        f"{output_path}_metrics"
    )
    stats["metrics_s"] = round(_time.time() - t0, 2)
    if "media_format" in written.columns:
        # corpus-level format counts (a handful of rows: one per container
        # format) — the pipeline-summary view of the multimodal stage
        stats["media_format_counts"] = {
            r["media_format"]: r["n"]
            for r in written.groupBy("media_format")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    return stats


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach heuristic quality-signal columns (all JVM-side expressions).

    The lowercase token array is materialized ONCE and every word-based
    signal derives from it — semantically identical to applying each
    rules.* expression directly (the oracle-checked form), but a single
    regex split instead of five per row.
    """
    c = F.col(text_col)
    out = (
        df.withColumn("__wl", rules.words(F.lower(c)))
        .withColumn("q_n_chars", rules.n_chars(c))
        .withColumn("q_n_words", F.size("__wl"))
        .withColumn("q_symbol_ratio", rules.symbol_ratio(c))
        .withColumn(
            "q_stopword_ratio",
            F.when(F.col("q_n_words") == 0, F.lit(0.0)).otherwise(
                F.size(F.filter("__wl", lambda x: x.isin(rules.STOPWORDS)))
                / F.col("q_n_words")
            ),
        )
        .withColumn(
            "q_distinct_ratio",
            F.when(F.col("q_n_words") == 0, F.lit(1.0)).otherwise(
                F.size(F.array_distinct("__wl")) / F.col("q_n_words")
            ),
        )
    )
    return out.withColumn("keep", rules.heuristic_keep()).drop("__wl")


def flagship_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop + mean quality signals over `documents`."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
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
