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
