"""Structured Streaming twins: availableNow runs must match batch results."""

import os

from pyspark.sql import functions as F

from packs_spark.streaming.pipeline import (
    stream_webtext,
    stream_windowed_event_counts,
    windowed_event_counts,
)


def test_stream_windowed_matches_batch(spark, sf_dir, tmp_path):
    # file stream sources require a directory
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = stream_windowed_event_counts(spark, src, out, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = windowed_event_counts(spark.read.parquet(src))
    g = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    # append mode emits only windows finalized by the watermark — the last
    # windows stay in state; everything emitted must match batch exactly
    assert len(g) > 0
    for k, v in g.items():
        assert b[k] == v, (k, v, b[k])
    max_ws = max(ws for ws, _ in b)
    held_back = {k for k in b if k not in g}
    import datetime

    for ws, _ in held_back:
        assert ws >= max_ws - datetime.timedelta(hours=2), (ws, max_ws)


def test_stream_webtext_filters_and_scrubs(spark, tmp_path):
    from packs_spark.pipeline.generate import generate_pages

    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    pdf = generate_pages(500, seed=11, n_hosts=10)
    spark.createDataFrame(pdf).write.parquet(srcdir, mode="overwrite")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = stream_webtext(spark, srcdir, out, ck)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    assert got.count() == 500
    assert "text_scrubbed" in got.columns and "lang_pred" in got.columns
    # incremental pickup: drop more files, re-trigger
    pdf2 = generate_pages(200, seed=12, n_hosts=10)
    spark.createDataFrame(pdf2).write.parquet(srcdir, mode="append")
    q2 = stream_webtext(spark, srcdir, out, ck)
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == 700  # only new rows processed


def test_stream_webtext_keep_labels_match_batch(spark, tmp_path):
    """Stream/batch parity on whole rows: both paths run the one labeling
    path (webtext.label), so with the same run_id the stream table has
    exactly the batch table's columns minus the ``bucket`` partition
    column, and every row is equal on all of them."""
    from packs_spark.pipeline.generate import generate_pages
    from packs_spark.pipeline.webtext import run_batch

    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    pdf = generate_pages(400, seed=21, n_hosts=8)
    spark.createDataFrame(pdf).write.parquet(srcdir, mode="overwrite")

    q = stream_webtext(
        spark, srcdir, str(tmp_path / "s_out"), str(tmp_path / "s_ck"),
        run_id="parity",
    )
    q.awaitTermination(180)
    run_batch(spark, srcdir, str(tmp_path / "b_out"), n_buckets=8,
              run_id="parity")

    s = spark.read.parquet(str(tmp_path / "s_out"))
    b = spark.read.parquet(str(tmp_path / "b_out")).drop("bucket")
    assert s.dtypes == b.dtypes
    cols = b.columns

    def rows(df):
        return {r["url"]: tuple(r[c] for c in cols) for r in df.collect()}

    got, want = rows(s), rows(b)
    assert len(want) == 400
    assert got == want


def test_multimodal_metadata(spark, tmp_path):
    from packs_spark.operators.multimodal import FEATURE_DIM, extract_metadata
    from packs_spark.pipeline.generate import generate_pages

    df = spark.createDataFrame(generate_pages(200, seed=3, n_hosts=5))
    meta = extract_metadata(df, "html", "url")
    rows = meta.collect()
    assert len(rows) == 200
    for r in rows[:20]:
        assert r["format"] == "html"
        assert r["n_bytes"] > 0
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-3  # L1-normalized histogram


def test_media_metadata_col_agrees_with_extract_metadata(spark):
    """The projection (extract_metadata) and the in-place struct column
    (media_metadata_col) give the same (format, n_bytes) per row, and the
    histogram features equal a reference written here, bit for bit."""
    import numpy as np

    from packs_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_metadata,
        media_metadata_col,
    )

    text = "héllo, wörld <p>".encode()
    # the five magics q_multimodal_metadata plants, then the edge cases
    payloads = [
        b"\x89PNG" + text,
        b"\xff\xd8\xff" + text,
        b"GIF8" + text,
        b"RIFF" + text,
        b"\x00\x00\x00\x08ftyp" + text,
        None,
        b"",
        b"<HTML>",
        b"<!DOCTYPE",
        b"\x00\x00\x00\x02ftypisom",
    ]
    want_formats = [
        "png", "jpeg", "gif", "riff", "mp4",
        "empty", "empty", "html", "html", "unknown",
    ]
    df = spark.createDataFrame(
        [(str(i), p) for i, p in enumerate(payloads)], "id string, payload binary"
    )

    projected = {
        r["id"]: r for r in extract_metadata(df, "payload", "id").collect()
    }
    in_place = {
        r["id"]: (r["format"], r["n_bytes"])
        for r in df.select(
            "id", media_metadata_col(F.col("payload")).alias("m")
        ).select("id", "m.format", "m.n_bytes").collect()
    }
    assert len(projected) == len(in_place) == len(payloads)
    for i, (p, fmt) in enumerate(zip(payloads, want_formats)):
        r = projected[str(i)]
        n = len(p) if p is not None else 0
        assert (r["format"], r["n_bytes"]) == in_place[str(i)] == (fmt, n)

        want = np.zeros(FEATURE_DIM, dtype=np.float32)
        if p:
            arr = np.frombuffer(p, dtype=np.uint8)
            want = (np.bincount(arr >> 4, minlength=16) / len(arr)).astype(
                np.float32
            )
        got = np.array(r["features"], dtype=np.float32)
        assert got.tobytes() == want.tobytes()


def test_stream_sessionize_matches_batch_closed_sessions(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization emits each CLOSED session
    exactly once; every emitted session must match the batch recomputation
    (each user's final session legitimately stays in state)."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from packs_spark.streaming.pipeline import sessionize_stream

    src = str(tmp_path / "src")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") < 20
    )
    events.write.parquet(src)

    out = str(tmp_path / "out")
    q = (
        sessionize_stream(spark, src, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()

    # batch truth: gap-based sessions per user, drop each user's LAST
    # session (still open in streaming state)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = events.withColumn(
        "sid", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .toPandas()
    )
    last = per.groupby("user_id")["sid"].transform("max")
    closed = per[per.sid != last]

    def key(df, s, e, n):
        return {
            (int(r["user_id"]), round(float(r[s]), 6), round(float(r[e]), 6), int(r[n]))
            for _, r in df.iterrows()
        }

    got_keys = key(
        got.assign(
            start_us=got.session_start * 1e6, end_us=got.session_end * 1e6
        ),
        "start_us", "end_us", "n_events",
    )
    want_keys = key(closed, "start_us", "end_us", "n_events")
    assert len(want_keys) > 0
    assert got_keys == want_keys


def test_stream_dedup_exact_keeps_one_per_text(spark, tmp_path):
    """Streaming exact dedup via dropDuplicatesWithinWatermark: duplicate
    texts within the horizon collapse to one row; distinct texts all
    survive."""
    import datetime

    import pandas as pd

    from packs_spark.streaming.pipeline import stream_dedup_exact

    t0 = datetime.datetime(2025, 1, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        text = f"unique document number {i % 10}"  # 10 distinct texts
        rows.append(
            {
                "url": f"https://h{i}.example.com/",
                "warc_ts": t0 + datetime.timedelta(minutes=i),
                "html": b"<html>",
                "text": text,
                "lang": "en",
            }
        )
    src = str(tmp_path / "src")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(src)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = stream_dedup_exact(spark, src, out, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    texts = [r.text for r in got.collect()]
    assert sorted(set(texts)) == sorted(
        f"unique document number {i}" for i in range(10)
    )
    assert len(texts) == 10  # exactly one survivor per text hash
