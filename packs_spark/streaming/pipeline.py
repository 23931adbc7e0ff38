"""Structured Streaming variants of the batch operators.

The reference is strictly batch (SURVEY §2.9) and the north rule's
"resumable" requirement is batch-checkpoint based — these streaming twins
are additive capability: the same quality-filter plan bolted onto
``readStream``, giving continuous ingestion with exactly-once parquet
sinks via Spark's own streaming checkpoints.

* ``stream_webtext`` — the batch pipeline's labeling step
  (``webtext.label``) as a streaming query; file-source streaming means
  new web-page parquet drops are picked up incrementally.
* ``stream_windowed_event_counts`` — tumbling-window counts with a
  watermark for late events (the streaming twin of the
  ``events_windowed_agg`` oracle query).
* ``stream_sessionize`` — gap-based session aggregation with
  ``applyInPandasWithState`` (custom stateful operator; the batch twin is
  ``events_sessionization``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_webtext(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema=None,
    available_now: bool = True,
    thresholds: dict | None = None,
    run_id: str = "stream-0",
):
    """Streaming quality filter: the batch pipeline's labeling path
    (``pipeline.webtext.label``) bolted onto ``readStream`` — a document
    gets the identical output row whether it arrives by backfill or by
    stream, minus the batch table's ``bucket`` partition column (parity
    of every column pinned in tests/test_streaming.py).  Spark's streaming
    checkpoint replaces the batch tier's per-bucket commit log as the
    exactly-once mechanism.  Returns the started StreamingQuery."""
    from packs_spark.pipeline.webtext import label

    if schema is None:
        schema = (
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        )
    src = spark.readStream.schema(schema).parquet(source_dir)
    out = label(src.select("url", "warc_ts", "lang", "text"), thresholds, run_id)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation (works on batch or stream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = spark.readStream.schema(schema).parquet(source_dir)
    agg = windowed_event_counts(src)
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")  # watermark allows append-mode window agg
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    gap_minutes: int = 30,
):
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState).  Emits one row per CLOSED session:
    (user_id, session_start, session_end, n_events).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = spark.readStream.schema(schema).parquet(source_dir)
    gap_s = gap_minutes * 60

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        events = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
        closed = []
        if state.exists:
            start, end, n = state.get
        else:
            start = end = None
            n = 0
        for ts in sorted(events["ts"].tolist()):
            ts_s = ts.timestamp()
            if start is None:
                start, end, n = ts_s, ts_s, 1
            elif ts_s - end > gap_s:
                closed.append((user_id, start, end, n))
                start, end, n = ts_s, ts_s, 1
            else:
                end, n = ts_s, n + 1
        if start is not None:
            state.update((start, end, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, session_start double, session_end double, "
                "n_events long"
            ),
            stateStructType="start double, end double, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_exact(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
    schema=None,
    available_now: bool = True,
):
    """Streaming exact dedup: keep the first occurrence of each text hash
    within the watermark horizon (``dropDuplicatesWithinWatermark`` — the
    state store evicts hashes older than the watermark, so state is
    bounded by the horizon's unique-hash count, not the stream's).

    The dedup key is md5(text) — 16 bytes of state per retained doc, the
    same key the batch tier groups on (operators/dedup.py exact tier), so
    batch backfill and streaming ingest agree on what is a duplicate.

    NULL-text rows are NOT meaningful duplicates of each other, but
    ``dropDuplicatesWithinWatermark`` treats NULL keys as equal and would
    collapse every null-text row in the horizon to one survivor.  The key
    is therefore made null-safe with a per-row uuid fallback, passing
    null-text rows through untouched (the batch exact tier does the same
    by grouping only non-null texts).
    """
    if schema is None:
        schema = (
            "url string, warc_ts timestamp, html binary, "
            "text string, lang string"
        )
    src = spark.readStream.schema(schema).parquet(source_dir)
    key = F.coalesce(
        F.md5(F.col(text_col)), F.concat(F.lit("null-"), F.expr("uuid()"))
    )
    deduped = (
        src.withColumn("__h", key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
