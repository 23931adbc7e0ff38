"""Registry entries for the web-text pipeline + training-data operators
(dedup, similarity search, text analysis).

Engines must agree bit-for-bit after rounding: integer-count metrics are
exact; cosine/jaccard doubles are rounded to 6 before thresholding in BOTH
engines.  MinHash/SimHash/IVF rely on xxhash64/k-means (no DuckDB
equivalent) for their FIRST step only: the queries materialize that step's
output to parquet (see _materialize below) and the oracle verifies all
downstream math from the files, so every registry row is fully
hash-gated.  tests/test_dedup.py (signature-estimate vs exact Jaccard) and
tests/test_similarity.py (LSH/IVF recall vs brute force) gate the
statistical quality of the hash tier itself.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from packs_spark.io.envelope import one_row
from packs_spark.pipeline import rules
from packs_spark.registry import load, register

# ---------------------------------------------------------------------------
# Oracle-intermediate materialization: xxhash64/k-means have no DuckDB
# equivalent, but everything DOWNSTREAM of them is exact relational math.
# The hash-dependent queries write their Spark-computed intermediates
# (minhash signatures, simhash fingerprints, k-means centroids) to parquet
# and the DuckDB oracle recomputes the downstream math — band grouping,
# Hamming chunks, cell assignment + cosine top-k — from those files.  The
# correctness gate runs at sf0.01, so the oracle strings read the
# sf0.01-tagged path; the Spark side writes a path tagged by whatever
# sf_dir it was given (bench at sf0.1 writes its own tag and never races
# the gate's files).
# ---------------------------------------------------------------------------

_ORACLE_IO = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH",
    "oracle_io",
)


def _oracle_io_path(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_ORACLE_IO, f"{name}_{tag}")


def _materialize(df, name: str, sf_dir: str):
    """Write df to the oracle-intermediates path and return the read-back
    frame — a checkpoint: both engines consume the SAME materialized rows
    (this also replaces persist() for the Spark side's reuse)."""
    path = _oracle_io_path(name, sf_dir)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


_GATE_SF = "sf0.01"  # the driver's correctness-gate scale

# ---------------------------------------------------------------------------
# web-text quality filter (flagship; heuristic tier — the model-backed
# pipeline runs on the synthetic web table, see packs_spark/pipeline)
# ---------------------------------------------------------------------------

_KEEP_SQL = rules.sql_keep_mask("text")


@register(
    "webtext_quality_filter",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN {_KEEP_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(avg(CASE WHEN {_KEEP_SQL} THEN 1.0 ELSE 0.0 END), 4) AS keep_rate,
       round(avg(length(text)), 2) AS avg_chars,
       round(avg({rules.sql_symbol_ratio('text')}), 4) AS avg_symbol_ratio,
       round(avg({rules.sql_stopword_ratio('text')}), 4) AS avg_stopword_ratio,
       round(avg({rules.sql_distinct_word_ratio('text')}), 4) AS avg_distinct_ratio
FROM documents
GROUP BY source
ORDER BY source
""",
)
def q_webtext_filter(spark, sf_dir):
    from packs_spark.pipeline.webtext import flagship_summary

    return flagship_summary(spark, sf_dir)


@register(
    "repetition_profile_documents",
    oracle=f"""
SELECT count(*) AS n_docs,
       CAST(coalesce(sum(CASE WHEN {rules.sql_repeated_bigram_ratio('text')} > 0.2
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_repetitive,
       round(max({rules.sql_repeated_bigram_ratio('text')}), 6) AS max_repeated_ratio
FROM documents
""",
)
def q_repetition_profile(spark, sf_dir):
    """Gopher-style repeated-bigram repetition profile (the n-gram member
    of the repetition rule family; the 1-gram member is
    distinct_word_ratio inside the keep mask).  Aggregates are
    reduction-order independent by construction: integer counts over a
    per-row double threshold plus an exact max."""
    df = load(spark, sf_dir, "documents")
    # project the (expensive: split+transform+array_distinct) ratio ONCE,
    # then aggregate the scalar — referencing the raw expression in two
    # aggregates would evaluate the whole bigram construction twice per row
    r = df.select(rules.repeated_bigram_ratio(F.col("text")).alias("r"))
    return r.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("r") > 0.2).cast("long")).alias("n_repetitive"),
        F.round(F.max("r"), 6).alias("max_repeated_ratio"),
    )


# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
WITH g AS (SELECT md5(text) AS h, count(*) AS cnt FROM documents GROUP BY 1)
SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
       count(*) AS n_unique_texts,
       CAST(sum(cnt - 1) AS BIGINT) AS dup_docs,
       round(sum(cnt - 1) * 1.0 / sum(cnt), 4) AS dup_ratio
FROM g
""",
)
def q_dedup_exact(spark, sf_dir):
    from packs_spark.operators.dedup import exact_dup_summary

    return exact_dup_summary(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup: word-3-gram Jaccard (exact set similarity)
# ---------------------------------------------------------------------------

_JACCARD_T = 0.05


@register(
    "dedup_jaccard_documents",
    oracle=f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents WHERE trim(text) <> ''
),
g AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        FOR i IN range(1, len(ws) - 1)]) AS sh
  FROM w WHERE len(ws) >= 3
),
e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM g),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
         count(*) AS inter
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
jac AS (
  SELECT round(inter * 1.0 / (size_a + size_b - inter), 6) AS j FROM p
)
SELECT CAST(count(*) FILTER (WHERE j >= {_JACCARD_T}) AS BIGINT) AS n_pairs,
       coalesce(round(max(j), 6), 0.0) AS max_jaccard,
       coalesce(round(avg(j) FILTER (WHERE j >= {_JACCARD_T}), 6), 0.0) AS avg_jaccard
FROM jac
""",
)
def q_dedup_jaccard(spark, sf_dir):
    from packs_spark.operators.dedup import word_jaccard_pairs

    j = F.col("jaccard")
    jac = word_jaccard_pairs(load(spark, sf_dir, "documents"), k=3).select(j)
    return jac.agg(
        F.sum((j >= _JACCARD_T).cast("long")).alias("n_pairs"),
        F.coalesce(F.round(F.max(j), 6), F.lit(0.0)).alias("max_jaccard"),
        F.coalesce(
            F.round(F.avg(F.when(j >= _JACCARD_T, j)), 6), F.lit(0.0)
        ).alias("avg_jaccard"),
    )


_CLUSTER_T = 0.8  # standard near-dup clustering threshold; also the level
# where the LSH S-curve (r=2, b=32) has ~1e-14 miss probability, so the
# scale tier's candidate set provably covers every exact pair


@register(
    "dedup_clusters_documents",
    oracle=f"""
WITH RECURSIVE w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
  FROM documents WHERE trim(text) <> ''
),
g AS (
  SELECT doc_id,
         list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        FOR i IN range(1, len(ws) - 1)]) AS sh
  FROM w WHERE len(ws) >= 3
),
e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM g),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
         count(*) AS inter
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
pr AS (
  SELECT id_a, id_b FROM p
  WHERE round(inter * 1.0 / (size_a + size_b - inter), 6) >= {_CLUSTER_T}
),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr
       UNION SELECT id_b, id_a FROM pr),
reach AS (
  SELECT src AS node, dst AS r FROM ed
  UNION
  SELECT reach.node, e2.dst FROM reach JOIN ed e2 ON reach.r = e2.src
),
lab AS (
  SELECT node, least(node, min(r)) AS label FROM reach GROUP BY node
),
sizes AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
       count(*) AS n_clusters,
       CAST(max(sz) AS BIGINT) AS max_cluster_size
FROM sizes
""",
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs) on the SCALE tier: MinHash-LSH
    candidates, exact word-3-gram Jaccard verification on candidates
    only (operators/dedup.py lsh_verified_pairs — never the all-pairs
    shingle join), hash-min connected components over the verified
    pairs — the labeling a dedup pipeline uses to keep one
    representative per cluster.  The oracle recomputes the same labels
    on the exact all-pairs path with a recursive transitive-closure CTE
    (tractable at oracle scale), so the gate also certifies the LSH
    tier's recall at the 0.8 threshold end-to-end."""
    from packs_spark.operators.dedup import (
        cluster_summary,
        connected_components,
        lsh_verified_pairs,
    )

    df = load(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(
        df, "doc_id", "text", shingle_k=3, threshold=_CLUSTER_T
    )
    # connected_components materializes its own edge copy (persist +
    # count/collect inside), so the pair cache can be released here —
    # without this, 50-query driver runs would accumulate pinned entries
    summary = cluster_summary(connected_components(pairs))
    pairs.unpersist()
    return summary


# ---------------------------------------------------------------------------
# dedup: MinHash+LSH / SimHash.  The xxhash64 signature/fingerprint step is
# inexpressible in DuckDB; the queries materialize it to parquet and the
# oracle verifies everything downstream — band grouping, candidate pairs,
# Jaccard estimate / Hamming chunks — exactly (the sole deviation: Spark
# buckets bands by xxhash64(slice) where DuckDB groups on the slice values
# themselves, identical up to a 2^-64 hash collision).
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_documents",
    oracle=f"""
WITH sigs AS (
  SELECT id, sig
  FROM read_parquet('{_ORACLE_IO}/minhash_sigs_{_GATE_SF}/*.parquet')
),
bands AS (
  SELECT id, b.band, sig[b.band * 4 + 1 : b.band * 4 + 4] AS key
  FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS band) b
),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
),
z AS (
  SELECT cand.id_a, cand.id_b, unnest(sa.sig) AS x, unnest(sb.sig) AS y
  FROM cand
  JOIN sigs sa ON cand.id_a = sa.id
  JOIN sigs sb ON cand.id_b = sb.id
),
est AS (
  SELECT id_a, id_b,
         sum(CASE WHEN x = y THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
  FROM z GROUP BY 1, 2
)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       CAST(coalesce(sum(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_near_dups
FROM est
""",
)
def q_dedup_minhash(spark, sf_dir):
    from packs_spark.operators.dedup import minhash_estimates, minhash_signatures

    df = load(spark, sf_dir, "documents")
    # one signature computation materialized once (checkpoint doubles as
    # the oracle intermediate), reused by candidates AND the estimate join
    sigs = _materialize(
        minhash_signatures(df, "doc_id", "text", k=5, n_hashes=64),
        "minhash_sigs",
        sf_dir,
    )
    est = minhash_estimates(sigs, bands=16, rows_per_band=4)
    n_docs = df.count()
    row = est.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum((F.col("est_jaccard") >= 0.5).cast("long")).alias("n_near_dups"),
    ).collect()[0]
    return one_row(spark).select(
        F.lit(n_docs).alias("n_docs"),
        F.lit(row["n_candidate_pairs"]).alias("n_candidate_pairs"),
        F.lit(row["n_near_dups"] or 0).alias("n_near_dups"),
    )


@register(
    "dedup_simhash_documents",
    oracle=f"""
WITH fp AS (
  SELECT id, simhash
  FROM read_parquet('{_ORACLE_IO}/simhash_fp_{_GATE_SF}/*.parquet')
),
chunks AS (
  SELECT id, c.chunk, (simhash >> (c.chunk * 16)) & 65535 AS v
  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) c
),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM chunks l JOIN chunks r
    ON l.chunk = r.chunk AND l.v = r.v AND l.id < r.id
),
d AS (
  SELECT bit_count(xor(a.simhash, b.simhash)) AS d
  FROM cand
  JOIN fp a ON cand.id_a = a.id
  JOIN fp b ON cand.id_b = b.id
)
SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       CAST(coalesce(sum(CASE WHEN d <= 3 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_hamming_le_3,
       round(avg(d), 4) AS avg_hamming
FROM d
""",
)
def q_dedup_simhash(spark, sf_dir):
    from packs_spark.operators.dedup import (
        hamming_distance,
        simhash,
        simhash_candidates,
    )
    from packs_spark.operators.pairs import attach

    df = load(spark, sf_dir, "documents")
    fp = _materialize(simhash(df, "doc_id", "text"), "simhash_fp", sf_dir)
    cand = simhash_candidates(fp, chunk_bits=16)
    verified = attach(cand, fp, ["simhash"]).select(
        hamming_distance(F.col("simhash_a"), F.col("simhash_b")).alias("d")
    )
    return verified.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.coalesce(F.sum((F.col("d") <= 3).cast("long")), F.lit(0).cast("long"))
        .alias("n_hamming_le_3"),
        F.round(F.avg("d"), 4).alias("avg_hamming"),
    )


# ---------------------------------------------------------------------------
# dedup: embedding cosine near-dup (double-precision oracle via unnest-zip)
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_documents",
    oracle="""
WITH pr AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
z AS (
  SELECT ia, ib, unnest(ea) AS x, unnest(eb) AS y FROM pr
),
d AS (
  SELECT ia, ib,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
         sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
  FROM z GROUP BY ia, ib
),
c AS (SELECT round(dp / (na * nb), 6) AS cosine FROM d)
SELECT CAST(count(*) FILTER (WHERE cosine >= 0.3) AS BIGINT) AS n_pairs_ge_03,
       round(max(cosine), 6) AS max_cosine
FROM c
""",
)
def q_dedup_embedding(spark, sf_dir):
    from packs_spark.operators.dedup import cosine_pairs

    pairs = cosine_pairs(load(spark, sf_dir, "embeddings")).select("cosine")
    return pairs.agg(
        F.sum((F.col("cosine") >= 0.3).cast("long")).alias("n_pairs_ge_03"),
        F.round(F.max("cosine"), 6).alias("max_cosine"),
    )


def _lsh_bucket_union_sql(dim: int, n_planes: int, n_tables: int) -> str:
    """All (vec_id, tbl, bucket) keys — the plane families are
    deterministic LCG constants, so LSH buckets are fully
    SQL-expressible (similarity.sql_bucket_expr; engine sign agreement
    checked exhaustively in tests/test_similarity.py)."""
    from packs_spark.operators.similarity import sql_bucket_expr

    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{sql_bucket_expr('embedding', dim, n_planes, t)} AS bucket "
        f"FROM embeddings"
        for t in range(n_tables)
    )


@register(
    "dedup_embedding_lsh_documents",
    oracle=f"""
WITH k AS ({{_K}}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM k a JOIN k b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pr AS (
  SELECT c.id_a, c.id_b, ea.embedding AS ea, eb.embedding AS eb
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
),
z AS (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pr),
d AS (
  SELECT id_a, id_b,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
         sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
  FROM z GROUP BY 1, 2
),
c AS (SELECT round(dp / (na * nb), 6) AS cosine FROM d
      WHERE round(dp / (na * nb), 6) >= 0.3)
SELECT CAST(count(*) AS BIGINT) AS n_pairs_found,
       coalesce(round(max(cosine), 6), 0.0) AS max_cosine
FROM c
""".replace("{_K}", _lsh_bucket_union_sql(64, 10, 8)),
)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Scale tier of embedding near-dup: hyperplane-bucketed candidates +
    exact cosine verification (no all-pairs step).  Fully oracle-gated:
    the plane families are deterministic constants, so DuckDB recomputes
    the same buckets from literal plane arrays."""
    from packs_spark.operators.dedup import embedding_near_dups_lsh

    emb = load(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups_lsh(
        emb, "vec_id", "embedding", threshold=0.3, dim=64,
        n_planes=10, n_tables=8,
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs_found"),
        F.coalesce(F.round(F.max("cosine"), 6), F.lit(0.0)).alias("max_cosine"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _embeddings_and_queries(spark, sf_dir):
    """The embeddings table, and its vectors with id < 10 as the
    (query_id, embedding) queries of the top-k rows."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, queries


@register(
    "similarity_topk_bruteforce",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
pr AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.embedding AS cv
  FROM q, embeddings c WHERE q.query_id <> c.vec_id
),
z AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y FROM pr),
d AS (
  SELECT query_id, neighbor_id,
         round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cosine
  FROM z GROUP BY 1, 2
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM d
QUALIFY rank <= 5
""",
)
def q_topk_bruteforce(spark, sf_dir):
    from packs_spark.operators.similarity import topk_bruteforce

    emb, queries = _embeddings_and_queries(spark, sf_dir)
    return topk_bruteforce(emb, queries, k=5, query_id_col="query_id")


@register(
    "similarity_topk_lsh",
    oracle="""
WITH k AS ({_K}),
q AS (SELECT vec_id AS query_id, tbl, bucket FROM k WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM q JOIN k c
    ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.query_id <> c.vec_id
),
pr AS (
  SELECT c.query_id, c.neighbor_id, eq.embedding AS qv, ec.embedding AS cv
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings ec ON ec.vec_id = c.neighbor_id
),
z AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y FROM pr),
d AS (
  SELECT query_id, neighbor_id,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
         sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
  FROM z GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, round(dp / (na * nb), 6) AS cosine FROM d
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
         ) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
""".replace("{_K}", _lsh_bucket_union_sql(64, 4, 8)),
)
def q_topk_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH top-k — fully oracle-gated (deterministic
    plane constants; same candidate join, cosine, and tie-break as the
    DuckDB recomputation)."""
    from packs_spark.operators.similarity import topk_lsh

    emb, queries = _embeddings_and_queries(spark, sf_dir)
    return topk_lsh(emb, queries, k=5, query_id_col="query_id", dim=64, n_planes=4, n_tables=8)


@register(
    "similarity_topk_ivf",
    oracle=f"""
WITH cents AS (
  SELECT cell, centroid
  FROM read_parquet('{_ORACLE_IO}/ivf_centroids_{_GATE_SF}/*.parquet')
),
-- cell-affinity of every vector to every centroid: ranking by raw dot
-- product equals ranking by normalized cosine (the UDF normalizes; a
-- positive per-row scale factor never reorders cells)
zc AS (
  SELECT e.vec_id, c.cell, unnest(e.embedding) AS x, unnest(c.centroid) AS y
  FROM embeddings e CROSS JOIN cents c
),
sim AS (
  SELECT vec_id, cell, sum(CAST(x AS DOUBLE) * y) AS s
  FROM zc GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC)
           AS rn
  FROM sim
),
corpus_cell AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE rn = 1),
query_probe AS (
  SELECT vec_id AS query_id, cell FROM ranked WHERE vec_id < 10 AND rn <= 4
),
cand AS (
  SELECT DISTINCT q.query_id, cc.neighbor_id
  FROM query_probe q JOIN corpus_cell cc ON q.cell = cc.cell
  WHERE q.query_id <> cc.neighbor_id
),
pr AS (
  SELECT c.query_id, c.neighbor_id, eq.embedding AS qv, ec.embedding AS cv
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings ec ON ec.vec_id = c.neighbor_id
),
z AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y FROM pr),
d AS (
  SELECT query_id, neighbor_id,
         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dp,
         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
         sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
  FROM z GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, round(dp / (na * nb), 6) AS cosine FROM d
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
         ) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
""",
)
def q_topk_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN.  The k-means training itself has no
    DuckDB equivalent; the trained centroids are materialized to parquet
    and the oracle recomputes everything downstream of them exactly —
    corpus cell assignment (argmax affinity), the nprobe=4 query probes,
    the candidate cell-join, and exact cosine top-k with the same
    round-then-rank tie-break.  Recall vs brute force is additionally
    asserted in tests/test_similarity.py."""
    from packs_spark.operators.similarity import (
        topk_ivf,
        train_centroids,
        write_centroids,
    )

    emb, queries = _embeddings_and_queries(spark, sf_dir)
    cents = train_centroids(emb, "embedding", "vec_id", n_cells=16, sample=2000)
    write_centroids(spark, cents, _oracle_io_path("ivf_centroids", sf_dir))
    return topk_ivf(
        emb, queries, k=5, query_id_col="query_id", n_cells=16, nprobe=4,
        centroids=cents,
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "textstats_documents",
    oracle=f"""
WITH s AS (
  SELECT text,
    {rules.sql_n_words('text')} AS ws_toks,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_toks,
    {rules.sql_symbol_ratio('text')} AS sym,
    {rules.sql_stopword_ratio('text')} AS stop,
    {rules.sql_distinct_word_ratio('text')} AS divr,
    least(length(text) / 500.0, 1.0) AS lensig,
    CASE WHEN length(text) >= 8 THEN
      list_min([md5(substr(text, i, 8)) FOR i IN range(1, length(text) - 6)])
      ELSE md5(substr(text, 1, 8)) END AS fp
  FROM documents WHERE text IS NOT NULL
)
SELECT count(*) AS n_docs,
  CAST(sum(ws_toks) AS BIGINT) AS total_ws_tokens,
  CAST(sum(bpe_toks) AS BIGINT) AS total_bpe_tokens,
  round(avg((lensig + (1.0 - least(sym / 0.5, 1.0)) + least(stop / 0.10, 1.0) + divr) / 4.0), 4) AS avg_quality,
  round(avg(sym), 6) AS avg_symbol_ratio,
  round(avg(divr), 6) AS avg_distinct_ratio,
  count(DISTINCT fp) AS n_fingerprints
FROM s
""",
)
def q_textstats(spark, sf_dir):
    from packs_spark.operators import textstats

    return textstats.summary(load(spark, sf_dir, "documents"))


@register(
    "langid_heuristic_documents",
    oracle="""
WITH w AS (
  SELECT lang AS true_lang,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ws
  FROM documents
),
sc AS (
  SELECT true_lang,
    len(list_filter(ws, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
    len(list_filter(ws, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
    len(list_filter(ws, x -> list_contains(['el','los','las','es','y'], x))) AS s_es
  FROM w
),
p AS (
  SELECT true_lang,
    CASE
      WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'unknown'
      WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
      WHEN s_fr > s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
      WHEN s_de > s_en AND s_de > s_fr AND s_de >= s_es THEN 'de'
      ELSE 'es'
    END AS predicted
  FROM sc
)
SELECT true_lang, predicted, count(*) AS n
FROM p GROUP BY 1, 2
""",
)
def q_langid_heuristic(spark, sf_dir):
    from packs_spark.operators.textstats import langid_heuristic

    df = load(spark, sf_dir, "documents")
    return (
        df.select(
            F.col("lang").alias("true_lang"),
            langid_heuristic(F.col("text")).alias("predicted"),
        )
        .groupBy("true_lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprint_clusters",
    oracle="""
WITH f AS (
  SELECT CASE WHEN length(text) >= 8 THEN
           list_min([md5(substr(text, i, 8)) FOR i IN range(1, length(text) - 6)])
         ELSE md5(substr(text, 1, 8)) END AS fp
  FROM documents WHERE text IS NOT NULL
),
g AS (SELECT fp, count(*) AS cnt FROM f GROUP BY fp)
SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
       count(*) AS n_fingerprints,
       max(cnt) AS max_cluster,
       round(sum(cnt - 1) * 1.0 / sum(cnt), 4) AS collision_ratio
FROM g
""",
)
def q_fingerprint_clusters(spark, sf_dir):
    from packs_spark.operators.textstats import fingerprint

    df = load(spark, sf_dir, "documents")
    g = (
        df.where(F.col("text").isNotNull())
        .select(fingerprint(F.col("text"), 8).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return g.agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.max("cnt").alias("max_cluster"),
        F.round(F.sum(F.col("cnt") - 1) / F.sum("cnt"), 4).alias("collision_ratio"),
    )


# ---------------------------------------------------------------------------
# multimodal binary columns (SURVEY §2.10 extension; operators/multimodal.py)
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata_documents",
    oracle="""
WITH p AS (
  SELECT doc_id,
    CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    WHEN 2 THEN 'gif' WHEN 3 THEN 'riff'
                    ELSE 'mp4' END AS format,
    CASE doc_id % 5 WHEN 1 THEN 3 WHEN 4 THEN 8 ELSE 4 END
      + octet_length(encode(text)) AS n_bytes
  FROM documents WHERE text IS NOT NULL
)
SELECT format,
       count(*) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(1.0 AS DOUBLE) AS avg_feat_l1
FROM p GROUP BY format
""",
)
def q_multimodal_metadata(spark, sf_dir):
    """Binary-column plumbing end-to-end: plant a deterministic container
    magic (by doc_id % 5) in front of the UTF-8 text bytes — including
    the BMFF shape, whose 'ftyp' signature sits after the 4-byte box
    size — then run the Arrow-batched mapInPandas metadata extractor
    (sniff + byte-histogram features) and verify the sniffer recovers
    the planted format and the byte counts/L1-normalized features are
    exact."""
    from packs_spark.operators.multimodal import extract_metadata

    df = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    magics = [
        b"\x89PNG", b"\xff\xd8\xff", b"GIF8", b"RIFF",
        b"\x00\x00\x00\x08ftyp",  # minimal BMFF: size-8 ftyp box header
    ]
    payload = F.concat(
        F.element_at(
            F.array(*[F.lit(m) for m in magics]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ),
        F.encode(F.col("text"), "UTF-8"),
    )
    bin_df = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        payload.alias("payload"),
    )
    meta = extract_metadata(bin_df, binary_col="payload", id_col="doc_id")
    return meta.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(
            F.avg(F.aggregate("features", F.lit(0.0), lambda a, x: a + x)), 3
        ).alias("avg_feat_l1"),
    )


# ---------------------------------------------------------------------------
# salted per-host metric rollup (north rule: skew handled explicitly —
# a hot host's rows never meet one reducer; phase 1 aggregates per
# (host, salt), phase 2 merges ≤ n_salt partials per host.  The oracle is
# the plain GROUP BY: the salted two-phase plan must be value-identical.)
# ---------------------------------------------------------------------------


@register(
    "webtext_host_metrics_salted",
    oracle="""
SELECT source AS host,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
FROM documents
GROUP BY source
ORDER BY host
""",
)
def q_host_metrics_salted(spark, sf_dir):
    from packs_spark.pipeline.partitioning import salted_host_metrics

    df = load(spark, sf_dir, "documents").withColumnRenamed("source", "host")
    out = salted_host_metrics(
        df,
        {
            "n_docs": F.count(F.lit(1)),
            "total_chars": F.sum("n_chars"),
            "n_en": F.sum((F.col("lang") == "en").cast("long")),
        },
        n_salt=8,
    )
    return out.orderBy("host")
