"""Physical-plan invariants for the headline operators.

EXPLAIN.md documents the plans; these assertions keep them true — a
regression that adds a scan, drops a broadcast, or stops pruning columns
fails here instead of silently shipping a slower plan.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_referential_is_single_scan_broadcast_left_outer(spark):
    plan = _plan(spark, "referential_orphans")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    # exactly one scan of the fact table (orders); the dim scan is the
    # broadcast build side
    assert plan.count("Scan parquet") == 2


def test_numeric_validation_prunes_columns(spark):
    plan = _plan(spark, "numeric_validation_lineitem")
    # each union branch's scan must read EXACTLY its one validated column
    import re

    schemas = [
        {c.split(":")[0] for c in m.split(",") if c}
        for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    assert sorted(map(sorted, schemas)) == [["l_discount"], ["l_quantity"]]


def test_rollup_broadcasts_both_dims_single_shuffle(spark):
    plan = _plan(spark, "orders_rollup_by_nation")
    assert plan.count("BroadcastHashJoin") == 2
    # one exchange for the final groupBy plus broadcast exchanges only
    import re

    shuffles = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning)", plan))
    assert shuffles <= 2  # groupBy + output ordering; no fact-side join shuffle


def test_topk_uses_window_group_limit(spark):
    plan = _plan(spark, "part_topk_by_brand")
    assert "WindowGroupLimit" in plan


def test_wide_aggregates_are_one_pass(spark):
    for name in ("completeness_customer", "text_validation_documents",
                 "profiling_numeric_stats", "pii_scan_documents",
                 "fhir_compliance_orders"):
        plan = _plan(spark, name)
        n_scans = plan.count("Scan parquet")
        assert n_scans <= 2, (name, n_scans)  # ≤2: some profile queries
        # union two single-scan branches; none may rescan per metric
        assert "CartesianProduct" not in plan


def test_similarity_bruteforce_broadcasts_queries(spark):
    plan = _plan(spark, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_conversions_consolidated_plan_bounded_scans(spark):
    """The consolidated conversions/datatype/boolean row must stay three
    1-row aggregation branches: at most 3 parquet scans (orders ×2 for
    the shared messy column + lineitem), cross-joined only via
    broadcast of single-row sides — never a data-sized CartesianProduct."""
    plan = _plan(spark, "conversions_validity_orders")
    assert plan.count("Scan parquet") <= 3, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan


def _executed_plans(spark, name: str) -> list[str]:
    """The physical plan of every SQL execution that running the row and
    collecting its result starts, eager steps inside the row (a persisted
    pair list, a driver-side collect) included."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    bus.waitUntilEmpty()
    first = last_id()
    entry_mod.queries()[name](spark, SF).collect()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    execs = store.executionsList(max(n - 100, 0), 100)
    execs = [execs.apply(i) for i in range(execs.size())]
    return [e.physicalPlanDescription() for e in execs if e.executionId() > first]


@pytest.mark.parametrize(
    "name, n_split",
    # word_shingles binds the word array once; a lambda that referred to
    # split(trim(text)) printed (and ran) it once per use: 52 and 15.  The
    # jaccard row's 16 were 8 until its explode stopped pushing the set's
    # aggregate into the scan's Filter (dedup._elements)
    [("dedup_jaccard_documents", 8), ("dedup_clusters_documents", 6)],
)
def test_word_shingles_split_once(spark, name, n_split):
    plans = _executed_plans(spark, name)
    assert sum(p.count("split(") for p in plans) == n_split


@pytest.mark.parametrize(
    "name, on",
    [
        ("dedup_minhash_documents", "band#"),
        ("dedup_simhash_documents", "chunk#"),
        ("dedup_embedding_lsh_documents", "tbl#"),
        ("similarity_topk_lsh", "tbl#"),
        ("similarity_topk_ivf", "cell#"),
    ],
)
def test_candidate_joins_are_keyed(spark, name, on):
    """The pair layer's candidate join is an equi-join on its key columns,
    never an all-pairs nested loop."""
    plan = "\n".join(_executed_plans(spark, name))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert any(
        ln.startswith("Left keys") and f"[{on}" in ln for ln in plan.splitlines()
    ), name
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_word_shingle_set_built_once_per_join_side(spark):
    """The word-shingle aggregate runs once per side of the pair join.  An
    inner ``explode`` of the set let Spark push ``size(sh) > 0 AND
    isnotnull(sh)`` below the projection, so every scan's Filter built the
    set twice more."""
    from packs_spark.operators.dedup import word_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y")], "doc_id long, text string"
    )
    pairs = word_jaccard_pairs(df)
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 2, 3, 3, 0.5)]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    sides = plan.count("Generate explode")
    assert sides >= 2 and plan.count("aggregate(") == sides
    assert not any("Filter" in ln and "aggregate(" in ln for ln in plan.splitlines())
