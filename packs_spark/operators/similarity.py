"""Similarity search over embedding columns (array<float>).

* ``topk_bruteforce`` — exact cosine top-k: broadcast the (small) query
  set, crossJoin against the corpus, window row_number per query.  The
  corpus side never shuffles — each partition scores its rows against the
  broadcast queries, and only the per-partition top-k survive the final
  (tiny) shuffle thanks to rank pushdown via partial top-k aggregation.
* ``hyperplane_buckets`` / ``topk_lsh`` — random-hyperplane LSH: sign bits
  of <v, p_j> form a bucket key; queries only score candidates in their own
  bucket.  Sub-linear at scale; recall measured in tests vs brute force.
* ``topk_ivf`` / ``IvfIndex`` — inverted file: k-means centroids trained
  on a driver-side sample, each corpus vector in its nearest cell, each
  query probing its ``nprobe`` nearest cells.

The candidate joins are the pair layer's (``operators/pairs.py``).  Cosine
and the bucket signs are double-precision folds (``aggregate`` over
``zip_with``) in the JVM; the IVF cell assignment (``assign_cells``) is a
numpy pandas UDF.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from packs_spark.operators.pairs import keys, probe


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): the k best-scoring neighbors
    per query of (query_id, neighbor_id, qv, cv) pairs, cosine rounded to 6
    digits and ties broken by neighbor id ascending for determinism."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine per query: (query_id, neighbor_id, cosine, rank).

    Ties broken by neighbor id ascending for determinism; self-matches
    (same id) excluded.
    """
    q = F.broadcast(_queries(queries, query_id_col, vec_col))
    c = _corpus(corpus, id_col, vec_col)
    return _top_k(
        q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id")), k
    )


def _queries(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )


def _corpus(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))


def _planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency at
    plan-build time; values in [-1, 1))."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(state / 0x40000000 - 1.0)
        out.append(row)
    return out


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    out_col: str = "bucket",
    table: int = 0,
) -> DataFrame:
    """Attach an LSH bucket id: bit j = sign(<v, plane_j>).  ``table``
    seeds an independent plane family (multi-table LSH)."""
    return df.withColumn(out_col, _bucket_expr(vec_col, dim, n_planes, table))


def _bucket_expr(vec_col: str, dim: int, n_planes: int, table: int):
    """The bucket id of one plane family as a Column expression."""
    planes = _planes(dim, n_planes, seed=7 + 131 * table)
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        plane_arr = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(F.col(vec_col), plane_arr) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        bucket = bucket + F.shiftleft(bit, j)
    return bucket


def sql_bucket_expr(col: str, dim: int, n_planes: int, table: int) -> str:
    """DuckDB rendering of :func:`_bucket_expr` — the plane family is a
    deterministic LCG constant, so the bucket ids are SQL-expressible and
    the LSH queries get full value-hash oracles.  Sign agreement across
    engines: a flip needs |dot| below float-summation noise (~1e-9)
    against O(1) dots from random planes — checked empirically in
    tests/test_similarity.py over every corpus vector and table."""
    planes = _planes(dim, n_planes, seed=7 + 131 * table)
    bits = []
    for j, p in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in p) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {arr}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def bucket_keys(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
) -> DataFrame:
    """Explode each vector into ``n_tables`` (table, bucket) keys.  One
    equi-join on (table, bucket) then replaces n_tables separate joins.

    All families are computed in ONE projection (array of structs →
    explode) so the source is scanned once — the previous union-of-tables
    form re-scanned the corpus ``n_tables`` times."""
    return keys(
        df,
        ("tbl", "bucket"),
        [_bucket_expr(vec_col, dim, n_planes, t) for t in range(n_tables)],
    )


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing the query's bucket in
    ANY of ``n_tables`` independent hash tables (standard multi-table
    random-hyperplane LSH — hit prob 1-(1-p^r)^L with p = 1 - θ/π).
    Candidate reduction ≈ 2^n_planes / n_tables; recall measured vs brute
    force in tests/test_similarity.py."""
    q = _queries(queries, query_id_col, vec_col)
    qb = bucket_keys(q, "qv", dim, n_planes, n_tables)
    cb = bucket_keys(_corpus(corpus, id_col, vec_col), "cv", dim, n_planes, n_tables)
    return _top_k(probe(qb, cb, ["tbl", "bucket"]), k)


# ---------------------------------------------------------------------------
# persisted IVF index (build once / query many)
# ---------------------------------------------------------------------------


class IvfIndex:
    """On-disk IVF index: centroids + the corpus physically PARTITIONED BY
    CELL.  Build pays the one corpus shuffle; every later search reads
    only the probed cells' directories (static partition pruning — the
    scan's PartitionFilters show `cell IN (...)`), which is the actual
    at-scale payoff of an inverted file: the index layout IS the table
    layout, and Spark's ordinary partition pruning is the probe.

    Layout:  <path>/centroids.parquet   (cell, centroid array<double>)
             <path>/cells/cell=<i>/...  (neighbor_id, cv)
    """

    def __init__(self, path: str, centroids):
        self.path = path
        self.centroids = centroids

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        sample: int = 2000,
    ) -> "IvfIndex":
        cents = train_centroids(corpus, vec_col, id_col, n_cells, sample)
        _corpus_cells(corpus, cents, id_col, vec_col).write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(f"{path}/cells")
        write_centroids(corpus.sparkSession, cents, f"{path}/centroids.parquet")
        return cls(path, cents)

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        import numpy as np

        rows = spark.read.parquet(f"{path}/centroids.parquet").collect()
        cents = np.zeros((len(rows), len(rows[0]["centroid"])))
        for r in rows:
            cents[r["cell"]] = r["centroid"]
        return cls(path, cents)

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        query_id_col: str = "query_id",
        vec_col: str = "embedding",
        nprobe: int = 4,
    ) -> DataFrame:
        spark = queries.sparkSession
        qs = _queries(queries, query_id_col, vec_col)
        # collect the (query_id, cells) assignment ONCE — queries are the
        # small side of an ANN search by contract, and ids+cell-ids are a
        # few bytes per query (vectors stay distributed, joined back by
        # id below).  Deriving the probe set AND the join input from this
        # one collect avoids executing the centroid-scoring plan twice.
        assigned = assign_cells(qs, self.centroids, "qv", nprobe=nprobe).select(
            "query_id", "cell"
        ).collect()
        pairs = [
            (r["query_id"], int(c)) for r in assigned for c in r["cell"]
        ]
        probed = sorted({c for _, c in pairs})
        qid_type = dict(queries.dtypes)[query_id_col]
        q = spark.createDataFrame(
            pairs, f"query_id {qid_type}, cell int"
        ).join(qs, "query_id")
        # the probed cell set is ≤ n_cells ids — prune the partitioned
        # scan with a literal filter (directories never read)
        corpus = spark.read.parquet(f"{self.path}/cells").where(
            F.col("cell").isin(probed)
        )
        return _top_k(probe(q, corpus, ["cell"]), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def train_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    sample: int = 2000,
    iters: int = 10,
):
    """Deterministic Lloyd k-means on a driver-side sample (top-``sample``
    rows by id — reproducible, like the KNN fit sample).  Returns a numpy
    (n_cells, dim) array.  At cluster scale the sample collect is the only
    driver hop; 10 iterations over ≤2000×dim floats is microseconds."""
    import numpy as np

    pdf = (
        df.orderBy(id_col)
        .limit(sample)
        .select(vec_col)
        .toPandas()
    )
    X = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
    # normalize so euclidean assignment ≈ cosine cells
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cents = X[:: max(len(X) // n_cells, 1)][:n_cells].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def assign_cells(
    df: DataFrame,
    centroids,
    vec_col: str,
    out_col: str = "cell",
    nprobe: int = 1,
) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid ids (array<int>) via one
    Arrow-batched pandas UDF; centroids broadcast once per executor."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("array<int>")
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        C = bc.value
        X = np.array([list(v) for v in vecs], dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = X @ C.T
        # stable: exact affinity ties resolve to the LOWER cell id — the
        # deterministic tie-break the oracle expresses as "s DESC, cell ASC"
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.tolist() for row in order])

    return df.withColumn(out_col, nearest_cells(F.col(vec_col)))


def _corpus_cells(corpus: DataFrame, centroids, id_col: str, vec_col: str) -> DataFrame:
    """(neighbor_id, cv, cell): each corpus vector in its nearest cell."""
    return assign_cells(
        _corpus(corpus, id_col, vec_col), centroids, "cv", nprobe=1
    ).select("neighbor_id", "cv", F.element_at("cell", 1).alias("cell"))


def write_centroids(spark, centroids, path: str) -> None:
    """Write (cell, centroid array<double>) rows to parquet at ``path``."""
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(path)


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    nprobe: int = 4,
    sample: int = 2000,
    centroids=None,
) -> DataFrame:
    """IVF ANN: corpus rows live in their single nearest cell; each query
    probes its ``nprobe`` nearest cells.  The join key is the cell id, so
    scoring touches ~nprobe/n_cells of the corpus — the standard IVF
    trade (recall vs probe count measured in tests/test_similarity.py).

    Scale shape: centroids are a tiny broadcast; the corpus is hashed
    across executors by cell (one shuffle that at a real deployment is
    the partitioning of the ANN index itself); queries explode ×nprobe
    then broadcast-join if small.

    ``centroids``: a pre-trained (n_cells, dim) array — lets a caller
    train once and reuse (e.g. to materialize them for the oracle gate);
    None trains in here."""
    cents = (
        centroids
        if centroids is not None
        else train_centroids(corpus, vec_col, id_col, n_cells, sample)
    )
    c = _corpus_cells(corpus, cents, id_col, vec_col)
    q = assign_cells(
        _queries(queries, query_id_col, vec_col), cents, "qv", nprobe=nprobe
    ).select("query_id", "qv", F.explode("cell").alias("cell"))
    return _top_k(probe(q, c, ["cell"]), k)
