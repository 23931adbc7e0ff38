"""North-star gates: keep/drop F1 >= 0.99 vs the pandas reference oracle,
byte-identical scrubbed text per url, langid accuracy, resumability."""

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from packs_spark.pipeline.generate import generate_pages
from packs_spark.pipeline.webtext import run_batch
from tests.pandas_oracle import pipeline_oracle

N_DOCS = 3000


@pytest.fixture(scope="module")
def pages_pd():
    return generate_pages(N_DOCS, seed=42, n_hosts=50)


@pytest.fixture(scope="module")
def pipeline_out(spark, pages_pd, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("webtext") / "table")
    sdf = spark.createDataFrame(pages_pd)
    stats = run_batch(spark, sdf, out, n_buckets=16, run_id="test-run")
    return out, stats


def test_pipeline_writes_all_buckets(spark, pipeline_out):
    out, stats = pipeline_out
    assert stats["written"] == 16
    got = spark.read.parquet(out)
    assert got.count() == N_DOCS
    assert set(got.select("bucket").distinct().toPandas().bucket) == set(range(16))


def test_keep_drop_f1_vs_reference(spark, pages_pd, pipeline_out):
    out, _ = pipeline_out
    got = (
        spark.read.parquet(out)
        .select("url", "keep", "text_scrubbed", "lang_pred")
        .toPandas()
        .set_index("url")
    )
    oracle = pipeline_oracle(pages_pd).set_index("url")
    joined = got.join(oracle, rsuffix="_ref")
    tp = int((joined.keep & joined.keep_ref).sum())
    fp = int((joined.keep & ~joined.keep_ref).sum())
    fn = int((~joined.keep & joined.keep_ref).sum())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"keep/drop F1={f1} (tp={tp}, fp={fp}, fn={fn})"
    # sanity: the filter actually separates classes (not all-keep/all-drop)
    assert 0.3 < joined.keep.mean() < 0.9


def test_scrubbed_text_byte_identical(spark, pages_pd, pipeline_out):
    out, _ = pipeline_out
    got = (
        spark.read.parquet(out)
        .select("url", "text_scrubbed")
        .toPandas()
        .set_index("url")
    )
    oracle = pipeline_oracle(pages_pd).set_index("url")
    joined = got.join(oracle, rsuffix="_ref")
    mismatch = joined[joined.text_scrubbed != joined.text_scrubbed_ref]
    assert len(mismatch) == 0, mismatch.head(3).to_dict()
    # scrubbing did something: PII injections exist in the generator
    orig = pages_pd.set_index("url").text.reindex(joined.index)
    changed = (joined.text_scrubbed_ref != orig).sum()
    assert changed > 0


def test_langid_accuracy_on_kept_docs(spark, pages_pd, pipeline_out):
    out, _ = pipeline_out
    got = spark.read.parquet(out).select("url", "lang_pred", "keep").toPandas()
    truth = pages_pd[["url", "lang"]]
    j = got.merge(truth, on="url")
    kept = j[j.keep]
    acc = (kept.lang_pred == kept.lang).mean()
    assert acc >= 0.98, f"langid accuracy on kept docs = {acc}"


def test_pipeline_resume_skips_completed(spark, pages_pd, pipeline_out):
    out, _ = pipeline_out
    sdf = spark.createDataFrame(pages_pd)
    stats2 = run_batch(spark, sdf, out, n_buckets=16, run_id="test-run-2")
    assert stats2["written"] == 0 and stats2["skipped"] == 16
    os.remove(os.path.join(out, "_progress", "bucket-5.json"))
    stats3 = run_batch(spark, sdf, out, n_buckets=16, run_id="test-run-3")
    assert stats3["written"] == 1
    got = spark.read.parquet(out)
    assert got.count() == N_DOCS  # idempotent overwrite


def _rows_but_run_id(spark, out):
    df = spark.read.parquet(out)
    rows = df.drop("run_id").toPandas().sort_values("url").reset_index(drop=True)
    return df.dtypes, rows


def _metrics_but_run_id(spark, out):
    m = spark.read.parquet(f"{out}_metrics")
    return m.dtypes, m.drop("run_id").toPandas().sort_values("bucket").reset_index(
        drop=True
    )


def test_resumed_table_equals_fresh(spark, pages_pd, tmp_path):
    """Deleting k commit markers and resuming gives the fresh run's table,
    row for row on every column but run_id, with the same dtypes, and the
    fresh run's ``_metrics``.  Markers without a metrics row (committed
    before markers carried one) still resume: their rows are computed once
    from the bucket files and stored in the markers."""
    import json

    sdf = spark.createDataFrame(pages_pd.head(800))
    fresh, resumed = str(tmp_path / "fresh"), str(tmp_path / "resumed")
    run_batch(spark, sdf, fresh, n_buckets=8, run_id="fresh")
    run_batch(spark, sdf, resumed, n_buckets=8, run_id="first")
    prog = os.path.join(resumed, "_progress")
    for b in (1, 4, 6):
        os.remove(os.path.join(prog, f"bucket-{b}.json"))
    for b in (0, 2):
        path = os.path.join(prog, f"bucket-{b}.json")
        marker = json.load(open(path))
        del marker["metrics"]
        with open(path, "w") as f:
            json.dump(marker, f)

    stats = run_batch(spark, sdf, resumed, n_buckets=8, run_id="resume")
    assert (stats["written"], stats["skipped"]) == (3, 5)
    got_dtypes, got = _rows_but_run_id(spark, resumed)
    want_dtypes, want = _rows_but_run_id(spark, fresh)
    assert got_dtypes == want_dtypes
    assert len(got) == 800
    pd.testing.assert_frame_equal(got, want)
    got_dtypes, got = _metrics_but_run_id(spark, resumed)
    want_dtypes, want = _metrics_but_run_id(spark, fresh)
    assert got_dtypes == want_dtypes
    pd.testing.assert_frame_equal(got, want)
    run_ids = spark.read.parquet(f"{resumed}_metrics").select("run_id").distinct()
    assert [r.run_id for r in run_ids.collect()] == ["resume"]
    for b in (0, 2):
        marker = json.load(open(os.path.join(prog, f"bucket-{b}.json")))
        assert marker["metrics"]["n_docs"] == int(want.n_docs[want.bucket == b].iloc[0])


def test_fresh_run_launches_no_write_or_read_back_job(spark, pages_pd, tmp_path):
    """A fresh run_batch is two Spark jobs, the bucket shuffle and the
    write wave: its Python tasks write the files, and ``_metrics`` comes
    from the commit markers, so no job writes the table or reads it back."""
    sc = spark.sparkContext
    sdf = spark.createDataFrame(pages_pd.head(200))
    sc.setJobGroup("fresh-run-jobs", "run_batch")
    try:
        run_batch(spark, sdf, str(tmp_path / "t"), n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-run-jobs")) == 2


def _file_metrics(path):
    import pyarrow.parquet as pq

    from packs_spark.pipeline.webtext import BucketMetrics

    acc = BucketMetrics()
    with pq.ParquetFile(path) as f:
        for rb in f.iter_batches():
            acc.add(rb)
    return acc.row()


def test_writer_writes_a_partition_of_two_buckets(spark, tmp_path):
    """A write task whose partition holds two buckets writes one file per
    bucket, each with its own rows in order, and each marker's metrics
    are those of its file."""
    import pyarrow.parquet as pq

    from packs_spark.io.lakehouse import CheckpointedWriter
    from packs_spark.pipeline.webtext import BucketMetrics

    out = str(tmp_path / "tbl")
    # partition 0 (ids 0-99) holds buckets 0 and 1; partitions 1-3 hold
    # buckets 2, 3 and 4; the other columns are the ones BucketMetrics folds
    df = spark.range(0, 400, numPartitions=4).select(
        "id",
        F.when(F.col("id") < 100, F.col("id") % 2)
        .otherwise(F.floor(F.col("id") / 100) + 1)
        .cast("int")
        .alias("bucket"),
        (F.col("id") % 3 == 0).alias("keep"),
        (F.col("id") % 4).cast("int").alias("pii_hits"),
        (F.col("id") * 1.5).alias("ppl"),
        (F.col("id") / 1000).alias("q_symbol_ratio"),
    )
    w = CheckpointedWriter(out, n_buckets=5)
    stats = w.write_resumable(df, assume_placed=True, metrics=BucketMetrics)
    assert stats == {"skipped": 0, "written": 5}
    for b, ids in [(0, range(0, 100, 2)), (1, range(1, 100, 2)), (3, range(200, 300))]:
        path = os.path.join(out, f"bucket-{b:05d}.parquet")
        assert pq.read_table(path).column("id").to_pylist() == list(ids)
    for b in range(5):
        path = os.path.join(out, f"bucket-{b:05d}.parquet")
        marker = w._marker(b)
        assert marker["metrics"] == _file_metrics(path)
        assert marker["rows"] == pq.ParquetFile(path).metadata.num_rows


def test_writer_refuses_a_bucket_split_across_partitions(spark, tmp_path):
    """The placement guard runs in the driver: under ``assume_placed``, a
    bucket whose rows lie in two partitions fails the write, naming it,
    and leaves no commit marker, no staging directory and no bucket file —
    the files the tasks wrote are renamed only when every summary checks
    out."""
    from packs_spark.io.lakehouse import CheckpointedWriter

    out = str(tmp_path / "tbl")
    # ids 0-99 are partition 0, 100-199 partition 1, ...: bucket 3 (ids
    # 150-249) lies in partitions 1 and 2
    df = spark.range(0, 400, numPartitions=4).withColumn(
        "bucket",
        F.when(F.col("id") < 150, F.floor(F.col("id") / 100))
        .when(F.col("id") < 250, F.lit(3))
        .otherwise(F.floor(F.col("id") / 100) + 2)
        .cast("int"),
    )
    w = CheckpointedWriter(out, n_buckets=6)
    with pytest.raises(Exception, match="bucket 3 was written by two tasks"):
        w.write_resumable(df, assume_placed=True)
    assert w.completed_buckets() == set()
    left = [f for f in os.listdir(out) if f != "_progress"]
    assert left == []
    assert os.listdir(os.path.join(out, "_progress")) == ["_meta.json"]


def test_written_table_does_not_depend_on_placement(spark, pages_pd, tmp_path):
    """One frame written with one bucket per task and with the writer's
    own placement (several buckets per task) gives byte-identical bucket
    files and equal markers' metrics."""
    from packs_spark.io.lakehouse import CheckpointedWriter
    from packs_spark.pipeline.partitioning import repartition_by_bucket, url_bucket
    from packs_spark.pipeline.udfs import make_label_batch
    from packs_spark.pipeline.webtext import DEFAULT_THRESHOLDS, BucketMetrics

    n = 6 * spark.sparkContext.defaultParallelism  # 3 buckets per task
    df = (
        spark.createDataFrame(pages_pd.head(900))
        .select("url", "warc_ts", "lang", "text")
        .withColumn("bucket", url_bucket(F.col("url"), n))
    )
    label = make_label_batch(spark, DEFAULT_THRESHOLDS, "r")
    one, own = str(tmp_path / "one"), str(tmp_path / "own")
    w_one, w_own = CheckpointedWriter(one, n), CheckpointedWriter(own, n)
    w_one.write_resumable(repartition_by_bucket(df, n), assume_placed=True,
                          transform=label, metrics=BucketMetrics)
    w_own.write_resumable(df, transform=label, metrics=BucketMetrics)
    files = sorted(f for f in os.listdir(one) if f.startswith("bucket-"))
    assert len(files) == n
    assert files == sorted(f for f in os.listdir(own) if f.startswith("bucket-"))
    for f in files:
        with open(os.path.join(one, f), "rb") as a, open(os.path.join(own, f), "rb") as b:
            assert a.read() == b.read(), f
    assert w_one.bucket_metrics(BucketMetrics) == w_own.bucket_metrics(BucketMetrics)


def test_resume_runs_one_write_task_per_pending_bucket(spark, pages_pd, tmp_path):
    """A resume of k pending buckets (k ≤ 2 × defaultParallelism) runs
    exactly k write tasks."""
    sc = spark.sparkContext
    sdf = spark.createDataFrame(pages_pd.head(400))
    out = str(tmp_path / "t")
    run_batch(spark, sdf, out, n_buckets=16)
    for b in (2, 7, 11):
        os.remove(os.path.join(out, "_progress", f"bucket-{b}.json"))
    sc.setJobGroup("resume-tasks", "run_batch resume")
    try:
        stats = run_batch(spark, sdf, out, n_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["written"] == 3
    tracker = sc.statusTracker()
    stages = [
        s
        for j in tracker.getJobIdsForGroup("resume-tasks")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert tracker.getStageInfo(max(stages)).numTasks == 3


def test_bucket_of_many_arrow_batches_is_one_row_group(spark, tmp_path):
    """A bucket larger than maxRecordsPerBatch still fills one row group,
    and the task writer follows Spark's parquet codec setting."""
    import pyarrow.parquet as pq

    from packs_spark.io.lakehouse import CheckpointedWriter

    out = str(tmp_path / "tbl")
    df = spark.range(0, 2000, numPartitions=2).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    )
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        CheckpointedWriter(out, n_buckets=2).write_resumable(df)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    for b in (0, 1):
        meta = pq.ParquetFile(os.path.join(out, f"bucket-{b:05d}.parquet")).metadata
        assert (meta.num_rows, meta.num_row_groups) == (1000, 1)
        assert meta.row_group(0).column(0).compression == "ZSTD"


def _staged_files(tmp_path):
    from packs_spark.io import lakehouse

    return lakehouse._StagedFiles(
        str(tmp_path), "bucket", 7, "snappy", lakehouse._NoMetrics
    )


def _row_groups(path):
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    return [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]


def test_bucket_file_starts_a_row_group_per_byte_target(tmp_path, monkeypatch):
    import pyarrow as pa

    from packs_spark.io import lakehouse

    rb = pa.RecordBatch.from_pydict(
        {"id": pa.array(range(100), pa.int64()), "bucket": pa.array([3] * 100, pa.int32())}
    )
    monkeypatch.setattr(lakehouse, "_ROW_GROUP_BYTES", 2 * rb.nbytes)
    out = _staged_files(tmp_path)
    for _ in range(5):
        out.write(rb)
    out.flush()
    sizes = out.close()
    path = out.files[3].path
    assert path == os.path.join(str(tmp_path), "bucket-3-a7.parquet")
    assert sizes == {3: os.path.getsize(path)}
    assert _row_groups(path) == [200, 200, 100]


def test_task_buffers_stay_within_the_byte_target(tmp_path, monkeypatch):
    """A task's buffers over all its buckets stay within the row-group
    target: a batch that would pass it flushes the largest buffer first.
    Each bucket's rows keep their batch order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from packs_spark.io import lakehouse

    def batch(start, buckets):
        return pa.RecordBatch.from_pydict(
            {"id": pa.array(range(start, start + len(buckets)), pa.int64()),
             "bucket": pa.array(buckets, pa.int32())}
        )

    mixed = batch(0, [0, 0, 1] * 40)  # 80 rows of bucket 0, 40 of bucket 1
    # room for the two parts' validity bitmaps, not for 30 more rows
    target = mixed.nbytes + 100
    monkeypatch.setattr(lakehouse, "_ROW_GROUP_BYTES", target)
    out = _staged_files(tmp_path)
    out.write(mixed)
    assert out.files[0].buffered > out.files[1].buffered > 0
    out.write(batch(120, [1] * 30))  # would pass the target: bucket 0 goes
    assert out.files[0].buffered == 0
    assert 0 < out.files[1].buffered <= target
    out.flush()
    out.close()
    ids = {b: pq.read_table(f.path).column("id").to_pylist() for b, f in out.files.items()}
    assert ids[0] == [i for i in range(120) if i % 3 != 2]
    assert ids[1] == [i for i in range(120) if i % 3 == 2] + list(range(120, 150))
    assert _row_groups(out.files[0].path) == [80]
    assert _row_groups(out.files[1].path) == [70]


@pytest.mark.parametrize(
    "thresholds, bad",
    [({"max_pp": 900}, "max_pp"), ({"min_words": 5}, "min_words")],
)
def test_unknown_threshold_key_raises(spark, pages_pd, tmp_path, thresholds, bad):
    """A misspelt model threshold or a heuristic key (fixed in
    rules.DEFAULTS) must fail loudly, not run with the defaults."""
    sdf = spark.createDataFrame(pages_pd.head(20))
    out = str(tmp_path / "table")
    with pytest.raises(
        ValueError, match=re.escape(f"unknown thresholds key(s) ['{bad}']")
    ) as exc:
        run_batch(spark, sdf, out, n_buckets=4, thresholds=thresholds)
    assert "max_ppl" in str(exc.value) and "min_margin" in str(exc.value)
    assert not os.path.exists(out)


def test_metrics_side_output(spark, pipeline_out):
    out, _ = pipeline_out
    m = spark.read.parquet(f"{out}_metrics").toPandas()
    assert len(m) == 16
    assert (m.n_docs == m.n_keep + m.n_drop).all()
    assert m.total_pii_hits.sum() > 0


def test_multimodal_enrich_stage(spark, pages_pd, pipeline_out, tmp_path):
    """multimodal=True adds (media_format, media_bytes) + format metrics
    while keeping the text path byte-identical to the flag-off run."""
    base_out, _ = pipeline_out
    sdf = spark.createDataFrame(pages_pd)
    out = str(tmp_path / "mm_table")
    stats = run_batch(
        spark, sdf, out, n_buckets=16, run_id="mm-run", multimodal=True
    )
    got = spark.read.parquet(out)
    # the enrich stage sniffed the generated <html> payloads + counted bytes
    assert set(got.select("media_format").distinct().toPandas().media_format) \
        == {"html"}
    nb = {r["url"]: r["media_bytes"] for r in
          got.select("url", "media_bytes").collect()}
    expect = {r.url: len(r.html) for r in pages_pd.itertuples()}
    assert nb == expect
    # corpus-level summary in the stats dict
    assert stats["media_format_counts"] == {"html": N_DOCS}
    # per-bucket metrics gained the format columns
    m = spark.read.parquet(f"{out}_metrics").toPandas()
    assert {"n_media_formats", "n_html_docs", "total_media_bytes"} <= set(
        m.columns
    )
    assert int(m.n_html_docs.sum()) == N_DOCS
    assert (m.n_media_formats == 1).all()
    # text path byte-parity: keep labels and scrubbed bytes identical to
    # the flag-off table from the module fixture
    base = spark.read.parquet(base_out).select(
        "url", "keep", "text_scrubbed"
    ).toPandas().set_index("url")
    mm = got.select("url", "keep", "text_scrubbed").toPandas().set_index("url")
    mm = mm.loc[base.index]
    assert (base.keep == mm.keep).all()
    assert (base.text_scrubbed == mm.text_scrubbed).all()


def test_scrub_replaces_known_pii():
    from packs_spark.pipeline.scrub import scrub_text

    assert (
        scrub_text("mail john.doe@example.com now")
        == "mail <EMAIL> now"
    )
    assert scrub_text("ip 192.168.1.42 up") == "ip <IP> up"
    assert scrub_text("ssn 123-45-6789 leaked") == "ssn <SSN> leaked"
    assert scrub_text("a badword1 b") == "a <REDACTED> b"
    assert scrub_text(None) is None


def test_murmur3_twin_matches_spark_hash(spark):
    from pyspark.sql import functions as F

    from packs_spark.pipeline.partitioning import _murmur3_long

    rows = (
        spark.range(0, 300)
        .select("id", F.hash(F.col("id")).alias("h"))
        .collect()
    )
    for r in rows:
        assert _murmur3_long(r["id"]) == r["h"]


def test_repartition_by_bucket_exact_placement(spark):
    from pyspark.sql import functions as F

    from packs_spark.pipeline.partitioning import repartition_by_bucket

    n = 64
    data = spark.range(0, 5000).select(
        (F.col("id") % n).cast("int").alias("bucket")
    )
    placed = repartition_by_bucket(data, n).select(
        "bucket", F.spark_partition_id().alias("pid")
    )
    assert placed.where(F.col("bucket") != F.col("pid")).count() == 0
    assert placed.select("pid").distinct().count() == n


def test_salted_host_metrics_equals_plain_groupby(spark, pages_pd):
    from pyspark.sql import functions as F

    from packs_spark.pipeline.partitioning import host_of, salted_host_metrics

    sdf = spark.createDataFrame(pages_pd).withColumn(
        "host", host_of(F.col("url"))
    )
    aggs = {
        "n_docs": F.count(F.lit(1)),
        "total_chars": F.sum(F.length("text")),
    }
    salted = {
        (r["host"]): (r["n_docs"], r["total_chars"])
        for r in salted_host_metrics(sdf, aggs, n_salt=4).collect()
    }
    plain = {
        (r["host"]): (r["n_docs"], r["total_chars"])
        for r in sdf.groupBy("host").agg(
            *[e.alias(n) for n, e in aggs.items()]
        ).collect()
    }
    assert salted == plain and len(salted) > 1


def test_repeated_bigram_ratio(spark):
    from packs_spark.pipeline import rules

    good = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away to the old barn where it sleeps all day long in peace")
    # passes every DEFAULT rule (10 distinct words / 30 = 0.33 > 0.25
    # distinct-1-gram floor, stopwords present, length fine) but is 2/3
    # repeated bigrams — exactly the page the n-gram signal exists for
    spam = " ".join(["the best deal in town for you and family now"] * 3)
    df = spark.createDataFrame([(good,), (spam,)], ["text"])

    r = {
        t: ratio
        for t, ratio in df.select(
            "text", rules.repeated_bigram_ratio(F.col("text")).alias("r")
        ).collect()
    }

    def py_ratio(t):
        w = t.lower().split()
        bg = [f"{a} {b}" for a, b in zip(w, w[1:])]
        return 1.0 - len(set(bg)) / len(bg) if bg else 0.0

    assert abs(r[good] - py_ratio(good)) < 1e-9
    assert abs(r[spam] - py_ratio(spam)) < 1e-9
    assert r[spam] > 0.5 > r[good]


def test_canonical_url():
    from packs_spark.pipeline.rules import canonical_url

    cases = {
        # tracking params stripped, fragment dropped, default port gone,
        # trailing slash collapsed, scheme+host lowercased, path case kept
        "HTTPS://Example.COM:443/Path/Page/?utm_source=x&id=7#frag":
            "https://example.com/Path/Page?id=7",
        "http://example.com:80/": "http://example.com/",
        "http://example.com/a/b/?utm_campaign=c": "http://example.com/a/b",
        "http://example.com/a?gclid=123": "http://example.com/a",
        "http://example.com/a?id=1&utm_term=z&x=2":
            "http://example.com/a?id=1&x=2",
        "http://example.com/a?utm_source=only": "http://example.com/a",
        "https://Example.com/Path": "https://example.com/Path",
        "http://example.com:8080/keepport": "http://example.com:8080/keepport",
        "http://example.com/exact?keep=1": "http://example.com/exact?keep=1",
        # literal '&' in a query-less path must survive untouched
        "http://example.com/a&b": "http://example.com/a&b",
        "http://example.com/x&y?q=1": "http://example.com/x&y?q=1",
        # consecutive tracking params, leading and trailing positions
        "http://example.com/a?utm_source=1&utm_medium=2&id=3":
            "http://example.com/a?id=3",
        "http://example.com/a?x=1&utm_source=1&utm_medium=2":
            "http://example.com/a?x=1",
    }
    from packs_spark.session import get_spark

    spark = get_spark("canon_url_test")
    df = spark.createDataFrame([(u,) for u in cases], ["u"])
    got = {
        r.u: r.c
        for r in df.select(
            "u", canonical_url(F.col("u")).alias("c")
        ).collect()
    }
    assert got == cases

    # the dedup property: tracking-tagged variants of one page collapse
    variants = [
        "http://example.com/article?utm_source=tw",
        "http://example.com/article?utm_source=fb&utm_medium=social",
        "HTTP://EXAMPLE.com/article#top",
        "http://example.com:80/article",
    ]
    vdf = spark.createDataFrame([(u,) for u in variants], ["u"])
    canon = vdf.select(canonical_url(F.col("u")).alias("c")).distinct()
    assert canon.count() == 1


def test_lakehouse_writer_lock(spark, tmp_path):
    """A second resumable writer on the same output root must fail fast
    with a clear message while the lock is held, and a STALE lock (dead
    run) must be taken over."""
    import json
    import os
    import time

    import pytest as _pytest

    from packs_spark.io.lakehouse import CheckpointedWriter

    out = str(tmp_path / "tbl")
    w = CheckpointedWriter(out, n_buckets=4)
    w._acquire_lock()
    try:
        w2 = CheckpointedWriter(out, n_buckets=4)
        with _pytest.raises(RuntimeError, match="another writer"):
            w2._acquire_lock()
    finally:
        w._release_lock()

    # dead-pid lock: a crash-killed run must be resumable IMMEDIATELY
    # even with a fresh heartbeat (pid 999999 does not exist)
    with open(w._lock_path, "w") as f:
        json.dump({"pid": 999999, "ts": time.time()}, f)
    w2 = CheckpointedWriter(out, n_buckets=4)
    w2._acquire_lock()  # must NOT raise
    assert os.path.exists(w2._lock_path)
    w2._release_lock()
    assert not os.path.exists(w2._lock_path)

    # live pid but ancient heartbeat: also taken over (hung run)
    with open(w._lock_path, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time() - 7200}, f)
    w3 = CheckpointedWriter(out, n_buckets=4)
    w3._acquire_lock()
    w3._release_lock()


def test_lakehouse_writer_refuses_schema_tag_change(tmp_path):
    """Resuming a partially-written table with a schema-changing option
    toggled (run_batch's multimodal flag) would commit buckets with two
    different column sets — the meta guard must refuse, same as a bucket
    count change."""
    import pytest as _pytest

    from packs_spark.io.lakehouse import CheckpointedWriter

    out = str(tmp_path / "tbl")
    CheckpointedWriter(out, n_buckets=4, schema_tag="")
    with _pytest.raises(ValueError, match="schema_tag"):
        CheckpointedWriter(out, n_buckets=4, schema_tag="multimodal")
    # matching tag resumes fine
    CheckpointedWriter(out, n_buckets=4, schema_tag="")

    # legacy checkpoint (meta written before schema_tag existed): the
    # first resume is accepted and RECORDS the caller's tag; only a
    # later conflicting tag is refused
    import json as _json
    import os as _os

    legacy = str(tmp_path / "legacy")
    CheckpointedWriter(legacy, n_buckets=4)
    meta_path = _os.path.join(legacy, "_progress", "_meta.json")
    meta = _json.load(open(meta_path))
    del meta["schema_tag"]
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    CheckpointedWriter(legacy, n_buckets=4, schema_tag="multimodal")
    assert _json.load(open(meta_path))["schema_tag"] == "multimodal"
    with _pytest.raises(ValueError, match="schema_tag"):
        CheckpointedWriter(legacy, n_buckets=4, schema_tag="")


def test_lakehouse_writer_refuses_fingerprint_change(tmp_path):
    """A resume whose fingerprint differs raises and names the differing
    keys; a writer without one checks none; a checkpoint written before
    fingerprints existed records the caller's on its first resume."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from packs_spark.io.lakehouse import CheckpointedWriter

    out = str(tmp_path / "tbl")
    CheckpointedWriter(out, n_buckets=4, fingerprint={"a": 1, "b": 2.0})
    with _pytest.raises(ValueError, match=re.escape("keys ['b', 'c'] differ")):
        CheckpointedWriter(out, n_buckets=4, fingerprint={"a": 1, "b": 3.0, "c": 0})
    CheckpointedWriter(out, n_buckets=4, fingerprint={"b": 2.0, "a": 1})
    CheckpointedWriter(out, n_buckets=4)

    legacy = str(tmp_path / "legacy")
    CheckpointedWriter(legacy, n_buckets=4)
    meta_path = _os.path.join(legacy, "_progress", "_meta.json")
    assert "fingerprint" not in _json.load(open(meta_path))
    CheckpointedWriter(legacy, n_buckets=4, fingerprint={"a": 1})
    assert _json.load(open(meta_path))["fingerprint"] == {"a": 1}
    with _pytest.raises(ValueError, match=re.escape("keys ['a'] differ")):
        CheckpointedWriter(legacy, n_buckets=4, fingerprint={"a": 2})


def test_resume_with_other_thresholds_raises(spark, tmp_path):
    """A resume under other thresholds would commit buckets labeled two
    ways (``max_ppl`` 1.0 keeps nothing), so it raises, naming the key,
    and commits nothing; the unchanged resume then skips every committed
    bucket."""
    sdf = spark.createDataFrame(generate_pages(4000, seed=7, n_hosts=50))
    out = str(tmp_path / "t")
    run_batch(spark, sdf, out, n_buckets=8)
    prog = os.path.join(out, "_progress")
    for b in (3, 5):
        os.remove(os.path.join(prog, f"bucket-{b}.json"))
    with pytest.raises(ValueError, match=re.escape("keys ['max_ppl'] differ")):
        run_batch(spark, sdf, out, n_buckets=8, thresholds={"max_ppl": 1.0})
    markers = [f for f in os.listdir(prog) if f.startswith("bucket-")]
    assert len(markers) == 6
    stats = run_batch(spark, sdf, out, n_buckets=8)
    assert (stats["written"], stats["skipped"]) == (2, 6)


def test_canonical_url_port_scheme_pairing():
    from packs_spark.pipeline.rules import canonical_url
    from packs_spark.session import get_spark

    spark = get_spark("canon_port_test")
    cases = {
        "http://example.com:80/a": "http://example.com/a",
        "https://example.com:443/a": "https://example.com/a",
        # cross-scheme non-default ports are DISTINCT resources
        "https://example.com:80/a": "https://example.com:80/a",
        "http://example.com:443/a": "http://example.com:443/a",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["u"])
    got = {r.u: r.c for r in df.select(
        "u", canonical_url(F.col("u")).alias("c")).collect()}
    assert got == cases
