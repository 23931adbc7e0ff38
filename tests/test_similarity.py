"""Similarity search: brute-force exactness vs numpy, LSH recall."""

import numpy as np
from pyspark.sql import functions as F

from packs_spark.operators import similarity


def _numpy_topk(emb: dict[int, np.ndarray], query_ids, k=5):
    ids = sorted(emb)
    M = np.stack([emb[i] for i in ids]).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        qi = ids.index(q)
        cos = Mn @ Mn[qi]
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != q),
            key=lambda i: (-round(cos[i], 6), ids[i]),
        )
        out[q] = [(ids[i], round(cos[i], 6)) for i in order[:k]]
    return out


def test_bruteforce_matches_numpy(spark, embeddings):
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float32)
        for r in embeddings.collect()
    }
    qids = [i for i in sorted(emb) if i < 8]
    queries = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.topk_bruteforce(embeddings, queries, k=5)
    by_q: dict[int, list] = {}
    for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    expected = _numpy_topk(emb, qids, 5)
    for q in qids:
        exp_ids = [i for i, _ in expected[q]]
        got_ids = [i for i, _ in by_q[q]]
        assert got_ids == exp_ids, (q, got_ids, exp_ids)
        for (gi, gc), (ei, ec) in zip(by_q[q], expected[q]):
            assert abs(gc - ec) < 1e-5


def test_bruteforce_scores_equal_the_pairwise_cosine(spark, embeddings):
    """Norms computed once per vector give the very doubles that
    ``cosine`` computes per pair."""
    queries = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.topk_bruteforce(embeddings, queries, k=5)
    pairs = (
        similarity._queries(queries, "query_id", "embedding")
        .crossJoin(similarity._corpus(embeddings, "vec_id", "embedding"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    plain = similarity._top_k(pairs, 5)
    assert sorted(got.collect()) == sorted(plain.collect())


def test_lsh_recall_at_least_bucket_fraction(spark, embeddings):
    """Multi-table LSH (4 planes x 8 tables): hit prob for cosine≈0.35
    neighbors is ~0.7 per pair → recall@5 well above 0.4 on 20 queries;
    also every LSH score must be a true cosine (subset correctness)."""
    queries = embeddings.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.topk_bruteforce(embeddings, queries, k=5)
    ann = similarity.topk_lsh(embeddings, queries, k=5, dim=64, n_planes=4, n_tables=8)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ann_rows = ann.collect()
    ann_pairs = {(r["query_id"], r["neighbor_id"]) for r in ann_rows}
    recall = len(bf_pairs & ann_pairs) / len(bf_pairs)
    assert recall >= 0.4, f"LSH recall@5 = {recall}"
    # scores must be true cosines (spot-check against brute-force scores)
    bf_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf.collect()}
    for r in ann_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_scores:
            assert abs(r["cosine"] - bf_scores[key]) < 1e-9


def test_hyperplane_buckets_deterministic(spark, embeddings):
    b1 = similarity.hyperplane_buckets(embeddings, "embedding", 64, 8, table=1)
    b2 = similarity.hyperplane_buckets(embeddings, "embedding", 64, 8, table=1)
    r1 = {r["vec_id"]: r["bucket"] for r in b1.collect()}
    r2 = {r["vec_id"]: r["bucket"] for r in b2.collect()}
    assert r1 == r2
    assert 1 < len(set(r1.values())) <= 256


def test_ivf_recall_and_subset_correctness(spark, embeddings):
    """IVF with nprobe=4 of 16 cells: each query scores ~1/4 of the
    corpus; recall@5 must clear a conservative floor and every returned
    score must be a true cosine."""
    queries = embeddings.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.topk_bruteforce(embeddings, queries, k=5)
    ann = similarity.topk_ivf(
        embeddings, queries, k=5, n_cells=16, nprobe=4, sample=1000
    )
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ann_rows = ann.collect()
    ann_pairs = {(r["query_id"], r["neighbor_id"]) for r in ann_rows}
    recall = len(bf_pairs & ann_pairs) / len(bf_pairs)
    assert recall >= 0.4, f"IVF recall@5 = {recall}"
    bf_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in bf.collect()}
    for r in ann_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_scores:
            assert abs(r["cosine"] - bf_scores[key]) < 1e-9


def test_ivf_nprobe_full_is_exact(spark, embeddings):
    """nprobe = n_cells probes every cell — IVF must equal brute force."""
    queries = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.topk_bruteforce(embeddings, queries, k=5)
    ann = similarity.topk_ivf(
        embeddings, queries, k=5, n_cells=8, nprobe=8, sample=500
    )
    bf_pairs = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in bf.collect()}
    ann_pairs = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ann.collect()}
    assert bf_pairs == ann_pairs


def test_ivf_index_build_load_search_and_pruning(spark, tmp_path, embeddings):
    """Persisted IVF: build once, load, search.  nprobe = n_cells must be
    EXACT vs brute force; the probed scan must show partition pruning
    (cell=... directories filtered, not scanned)."""
    from packs_spark.operators.similarity import IvfIndex, topk_bruteforce

    path = str(tmp_path / "ivf")
    IvfIndex.build(embeddings, path, n_cells=8, sample=500)
    idx = IvfIndex.load(spark, path)

    queries = embeddings.where("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = idx.search(queries, k=3, nprobe=8)  # nprobe == n_cells -> exact
    exact = topk_bruteforce(embeddings, queries, k=3)
    g = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert g == e

    # partial probe: the corpus scan is partition-pruned to nprobe cells
    small = idx.search(queries, k=3, nprobe=2)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # sanity at nprobe=2 of 8: results exist and every score is a true
    # cosine (the pruned scan can only lower recall, never corrupt scores)
    small_rows = small.collect()
    assert small_rows
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine for r in exact.collect()
    }
    for r in small_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(r.cosine - exact_scores[key]) < 1e-9


def test_sql_bucket_expr_matches_spark_buckets(spark, sf_dir, embeddings):
    """Every (vector, table) bucket id must agree between the Spark
    expression and the DuckDB rendering — the premise that upgrades the
    LSH queries from rows-only to full value-hash oracles."""
    import duckdb

    from packs_spark.operators.similarity import bucket_keys, sql_bucket_expr

    sk = bucket_keys(
        embeddings.select("vec_id", "embedding"), "embedding", 64, 10, 8
    )
    srows = {(r.vec_id, r.tbl): r.bucket for r in sk.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    sql = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{sql_bucket_expr('embedding', 64, 10, t)} AS bucket FROM embeddings"
        for t in range(8)
    )
    orows = {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    assert srows == orows
