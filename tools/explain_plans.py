"""Dump `.explain("formatted")` for the headline queries → EXPLAIN.md.

Plan-quality evidence for the operators' scale claims: parquet
PushedFilters / ReadSchema pruning, BroadcastHashJoin on dim joins,
partial aggregation (HashAggregate x2), WindowGroupLimit for top-k,
single-exchange plans.  Regenerate with: python tools/explain_plans.py

The output is deterministic: Exchange ``plan_id`` values and the temporary
directory of generated pages are replaced by placeholders, so a rerun
that plans the same gives no ``diff``.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHOW = [
    ("webtext_quality_filter", "flagship: heuristic quality summary — one scan, one partial+final agg"),
    ("orders_rollup_by_nation", "fact-dim-dim join — expect two BroadcastHashJoin, ONE shuffle (final groupBy)"),
    ("part_topk_by_brand", "per-group top-k — expect WindowGroupLimit (rank-limit pushdown) before the window"),
    ("completeness_customer", "wide one-pass agg — expect single scan, HashAggregate partial+final"),
    ("numeric_validation_lineitem", "conditional counts — column-pruned scan (ReadSchema: quantity/discount only)"),
    ("referential_orphans", "orphan check — expect ONE scan: BroadcastHashJoin LeftOuter + conditional agg (orphans AND child_count in the same pass, no separate count job)"),
    ("pii_scan_documents", "per-pattern hits + rows-with-any-PII — one wide agg; all regex predicates inside a single codegen stage, no second scan for the row-level union"),
    ("profiling_numeric_stats", "numeric profile — exact DECIMAL moments (sum, sum-of-squares) feed mean/var/std; partial+final HashAggregate, order-independent results"),
    ("duplicates_lineitem", "duplicate counting — partial agg before the exchange"),
    ("events_metric_history_delta", "groupBy + lag window — big shuffle keyed (event_type, day) for good parallelism; the window's exchange moves only the aggregated daily rows"),
    ("similarity_topk_bruteforce", "brute-force ANN — broadcast queries, corpus never shuffles before scoring"),
    ("conversions_validity_orders", "parsability percents — derived messy column + four regex/lexical predicates, ONE codegen stage, single scan"),
    ("volume_anomaly_events", "volume anomaly — day-level groupBy then window over |days| rows; exact integer rolling moments"),
    ("fhir_compliance_orders", "config-driven compliance — whole config as one wide Column set, single scan, partial+final agg"),
    ("dedup_clusters_documents", "scale-tier near-dup clustering — MinHash-LSH band join generates candidates; exact array_intersect verify touches ONLY candidate pairs (no all-pairs shingle join); CC label propagation on the verified edges"),
    ("timeliness_orders", "A11+A12 consolidated — date freshness AND year-window validity in one scan, one partial+final agg"),
    ("profiling_table_stats", "table stats + per-row validity conjunction (consolidated row_validity) — one scan, one wide agg"),
    ("similarity_topk_lsh", "hyperplane-LSH ANN — bucket equi-join generates candidates, exact cosine re-verify touches candidates only; corpus never shuffles full-width before bucketing"),
]

# queries whose registered result is a driver-materialized scalar frame:
# explain the DISTRIBUTED intermediate that does the heavy lifting instead
def _intermediate_sections(spark, sf):
    from pyspark.sql import functions as F

    from packs_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from packs_spark.operators.drift import grouped_value_counts
    from packs_spark.registry import load

    docs = load(spark, sf, "documents")
    # persist + materialize exactly as the registered query does: the band
    # self-join then reads InMemoryTableScan twice instead of re-running
    # the signature UDF per side
    sigs = minhash_signatures(docs, "doc_id", "text", k=5, n_hashes=64).persist()
    sigs.count()
    cand = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4)

    li = load(spark, sf, "lineitem")
    cut = F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    g = grouped_value_counts(
        li.where(cut), li.where(~cut), "l_extendedprice"
    )
    return [
        ("dedup_minhash_documents (candidate-pair frame)",
         "MinHash near-dup — JVM xxhash64 shingles, numpy band remix in ONE "
         "ArrowEvalPython crossing (signatures persisted: the band "
         "self-join reads InMemoryTableScan on both sides), band equi-join "
         "on 8-byte keys (never all-pairs); the registered query reduces "
         "this frame to scalars",
         cand),
        ("drift_ks_lineitem (grouped-ECDF frame)",
         "two-sample KS — raw rows meet ONE union+groupBy (partial agg "
         "before the exchange); buckets/windows downstream run over "
         "distinct values only; the registered query reduces to (D, n_a, "
         "n_b) scalars",
         g),
    ]


def _stable(plan: str, tmp: str | None = None) -> str:
    """``plan`` without what changes from run to run: Exchange plan ids and
    the temporary directory ``tmp`` of generated pages."""
    plan = re.sub(r"plan_id=\d+", "plan_id=#", plan)
    return plan.replace(tmp, "<tmp>") if tmp else plan


def main() -> None:
    from packs_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("explain", master="local[8]")
    qs = entry_mod.queries()
    sf = "/root/testdata/sf0.01"
    out = ["# EXPLAIN — physical plans of the headline operators",
           "",
           "Generated by tools/explain_plans.py (`.explain('formatted')` at sf0.01;",
           "plans are scale-invariant apart from AQE's runtime coalescing).",
           ""]
    shown = [(name, note, qs[name](spark, sf)) for name, note in SHOW]
    shown += _intermediate_sections(spark, sf)
    for name, note, df in shown:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append(f"*{note}*")
        out.append("```")
        out.append(_stable(buf.getvalue().rstrip()))
        out.append("```")
        out.append("")
    # the north-star pipeline's labeling plan over one full wave placed as
    # the writer places it; run_batch's write wave is this plan with the
    # parquet writes inside the same Python task
    from pyspark.sql import functions as F

    from packs_spark.pipeline.partitioning import place_buckets, url_bucket
    from packs_spark.pipeline.webtext import label

    src = os.path.join(REPO, "BENCH", "data", "webpages_200000.parquet")
    # the generated pages must outlive the explain, which lists the files
    with tempfile.TemporaryDirectory() as tmp:
        if not os.path.exists(src):
            from packs_spark.pipeline.generate import generate_pages

            src = os.path.join(tmp, "webpages.parquet")
            generate_pages(2000, seed=0).to_parquet(src)
        df = spark.read.parquet(src).select("url", "warc_ts", "lang", "text")
        df = place_buckets(
            df.withColumn("bucket", url_bucket(F.col("url"), 128)), range(128)
        )
        n_parts = df.rdd.getNumPartitions()
        buf = io.StringIO()
        with redirect_stdout(buf):
            label(df).explain("formatted")
    out.append("## webtext pipeline (run_batch labeling plan)")
    out.append(
        "*expect: pruned parquet scan (no html column read) → one "
        f"Exchange into P partitions (the wave's 128 buckets placed on P = "
        f"min(128, 2 × cores) = {n_parts}) → MapInArrow (label_batch: "
        "signals, keep, run_id in one Python pass) — no second shuffle; "
        "each task writes its buckets' files*"
    )
    out.append("```")
    out.append(_stable(buf.getvalue().rstrip(), tmp))
    out.append("```")
    out.append("")
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
